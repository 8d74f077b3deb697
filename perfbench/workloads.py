"""The three workloads. Each drives the engine's public entry points the
way its users do:

- ``hourly_top10``: closed loop, one client. The reference job, one hour
  at a time: ``read_hour_partition`` -> ``explode_count`` -> ``top_k`` ->
  ``write_csv_top_k``.
- ``trend_stream``: open loop. A separate generator process drops files at
  a fixed rate; the consumer re-launches ``file_stream`` ->
  ``windowed_top_k`` -> ``foreach_batch_top_k`` on one checkpoint, back to
  back (the sink always runs an available-now trigger).
- ``corpus_curation``: closed loop, one client. Passes of the catalog's
  ``training_pipeline_docs`` and ``semantic_dedup_keep`` through
  ``queries.QUERIES``.

``setup`` generates inputs and warms the JVM; ``run`` measures for the
given seconds and returns per-operation samples. With a tracer enabled,
``run`` also records spans around each call into the program and counts
from Spark's own records, and returns per-layer samples.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

import checks
import gen
from harness import (
    SparkRecords,
    Tracer,
    heap_after_gc_mb,
    is_agg,
    is_join,
    is_scan,
    metric_sum,
    plan_nodes,
    union_length,
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, list[float]] = field(default_factory=dict)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))


def _uncovered(intervals, t0: float, t1: float) -> float:
    """Length of [t0, t1] not covered by any of the (job) intervals."""
    inside = [(max(s, t0), min(e, t1)) for s, e in intervals if e > t0 and s < t1]
    return (t1 - t0) - union_length(inside)


def _session_metrics(ctx: Ctx, rec: dict, t0: float, t1: float, plan_s: float) -> None:
    """session.* for one operation spanning epoch [t0, t1]."""
    ctx.add("session.jobs_per_op", rec["jobs"])
    ctx.add("session.tasks_per_op", rec["tasks"])
    ctx.add("session.sched_gap_s", _uncovered(rec["intervals"], t0, t1))
    ctx.add("session.plan_s", plan_s)
    ctx.add("session.heap_after_gc_mb", heap_after_gc_mb(ctx.spark))
    ctx.add("operators.shuffle_bytes", rec["shuffle_bytes"])
    ctx.add("operators.spill_bytes", rec["spill_bytes"])


# ====================================================================
# hourly_top10


class HourlyTop10:
    name = "hourly_top10"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.tweets: gen.TweetSet | None = None

    def generate(self) -> None:
        base = f"{self.ctx.work}/tweets"
        shutil.rmtree(base, ignore_errors=True)
        self.tweets = gen.write_tweets(base, self.ctx.seed)

    def job(self, i: int, out: str):
        """One hour job: the reference's hourly top-10 with CSV output."""
        from pyspark.sql import functions as F

        from tweets_spark_top_10_spark.operators.explode_count import explode_count
        from tweets_spark_top_10_spark.operators.topk import top_k
        from tweets_spark_top_10_spark.sources.readers import read_hour_partition
        from tweets_spark_top_10_spark.sources.writers import write_csv_top_k

        tr = self.ctx.tracer
        y, m, d, h = self.tweets.hours[i]
        with tr.span("sources.read_hour_partition"):
            hour_df = read_hour_partition(self.ctx.spark, self.tweets.base, y, m, d, h)
        with tr.span("operators.explode_count"):
            counted = explode_count(
                hour_df, "hashtags", out_key="hashtag", out_count="NumberOfHashtags"
            )
        with tr.span("operators.top_k"):
            result = top_k(
                counted, [F.desc("NumberOfHashtags"), F.asc("hashtag")], k=10
            )
        with tr.span("sources.write_csv_top_k"):
            write_csv_top_k(result, out, k=10)
        return hour_df, counted, result

    def warm_up(self) -> None:
        for i in range(len(self.tweets.hours)):
            self.job(i, f"{self.ctx.work}/out/warm")

    def check(self, i: int, out: str) -> None:
        try:
            ok, why = checks.top_k_matches(checks.read_top_k_csv(out), self.tweets.truth[i]), ""
        except (OSError, ValueError) as exc:
            ok, why = False, f": {exc}"
        self.ctx.outcome(ok, f"hour {i}: top-10 differs from exact count{why}")

    def run(self, seconds: float, traced: bool = False) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        records = SparkRecords(ctx.spark) if traced else None
        n_hours = len(self.tweets.hours)
        jobs, mask, sweeps, rows = [], [], [], 0
        t_start = time.perf_counter()
        i = 0
        while time.perf_counter() - t_start < seconds or i % n_hours:
            h = i % n_hours
            # a fresh directory per job, so no earlier job's CSV can pass the check
            out = f"{ctx.work}/out/job={i:05d}/hour={h:02d}"
            tr.enabled = traced and i % 2 == 1
            mark = records.mark() if tr.enabled else 0
            e0 = time.time()
            t0 = time.perf_counter()
            tr.op = i
            with tr.span("op.hour_job"):
                hour_df, counted, result = self.job(h, out)
            dt = time.perf_counter() - t0
            e1 = time.time()
            jobs.append(dt)
            mask.append(tr.enabled)
            rows += self.tweets.tweets_per_hour[h]
            if tr.enabled:
                self._trace_hour(records, mark, e0, e1, h, out, hour_df, counted, result)
            self.check(h, out)
            shutil.rmtree(out, ignore_errors=True)
            i += 1
            if i % n_hours == 0:
                sweeps.append(sum(jobs[-n_hours:]))
        tr.enabled = False
        return {"jobs": jobs, "traced": mask, "fresh": jobs, "passes": sweeps, "rows": rows}

    def _trace_hour(self, records, mark, e0, e1, h, out, hour_df, counted, result):
        """Per-layer numbers for one hour job. The job's own Spark jobs give
        the session counts; then each layer's output is materialised in
        turn, and a layer's self time is the difference between successive
        prefixes (the write re-runs the whole job, so its self time is the
        job minus the top-k prefix)."""
        from pyspark.sql import functions as F

        ctx, tr = self.ctx, self.ctx.tracer
        rec = records.since(mark)
        build = [
            s for s in tr.spans
            if s.op == tr.op and s.name in (
                "sources.read_hour_partition", "operators.explode_count", "operators.top_k"
            )
        ]
        epoch_off = e0 - min(s.start for s in build)
        plan_s = sum(
            _uncovered(rec["intervals"], s.start + epoch_off, s.end + epoch_off) for s in build
        )
        _session_metrics(ctx, rec, e0, e1, plan_s)
        ctx.add("sources.files_written", len([f for f in os.listdir(out) if f.startswith("part-")]))

        with tr.span("prefix.scan"):
            scan_probe = hour_df.select(F.sum(F.size("hashtags")))
            scan_probe._jdf.collectAsList()
        with tr.span("prefix.explode_count"):
            counted._jdf.collectAsList()
        with tr.span("prefix.top_k"):
            result._jdf.collectAsList()
        op_spans = {s.name: s.end - s.start for s in tr.spans if s.op == tr.op}
        write = op_spans["sources.write_csv_top_k"]
        ctx.add("sources.scan_s", op_spans["prefix.scan"])
        ctx.add("operators.explode_count_s", op_spans["prefix.explode_count"] - op_spans["prefix.scan"])
        ctx.add("operators.top_k_s", op_spans["prefix.top_k"] - op_spans["prefix.explode_count"])
        ctx.add("sources.write_s", write - op_spans["prefix.top_k"])

        scan = plan_nodes(scan_probe)
        files = metric_sum(scan, is_scan, "numFiles")
        ctx.add("sources.files_read", files)
        ctx.add("sources.rows_read", metric_sum(scan, is_scan, "numOutputRows"))
        ctx.add("sources.bytes_read", metric_sum(scan, is_scan, "filesSize"))
        ctx.add("sources.scan_tasks", metric_sum(scan, is_scan, "scan_tasks"))
        ctx.outcome(
            files == self.tweets.files_per_hour[h],
            f"hour {h}: scan read {files} files, the hour has {self.tweets.files_per_hour[h]}",
        )
        agg = plan_nodes(counted)
        exploded = metric_sum(agg, lambda n: n == "Generate", "numOutputRows")
        ctx.add("operators.rows_exploded", exploded)
        ctx.add(
            "operators.combine_ratio",
            metric_sum(agg, lambda n: n == "Exchange", "shuffleRecordsWritten") / max(exploded, 1),
        )
        ctx.add("operators.shuffle_partitions", metric_sum(agg, lambda n: n == "Exchange", "numPartitions"))
        ctx.add("operators.reduce_tasks", metric_sum(agg, lambda n: n == "AQEShuffleRead", "numPartitions"))
        ctx.add("operators.agg_peak_mem_bytes", metric_sum(agg, is_agg, "peakMemory"))


# ====================================================================
# trend_stream


STREAM_RATE = 2_000  # events per second
STREAM_INTERVAL = 0.25  # seconds between file drops
WINDOW_MS = 100
WATERMARK_MS = 500
WARM_TICKS = 3


class TrendStream:
    name = "trend_stream"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def generate(self) -> None:
        """The live input comes from the generator process during ``run``;
        here only the warm-up stream's generator is prepared."""
        d = f"{self.ctx.work}/warm"
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.warm_gen = gen.StreamGenerator(
            f"{d}/in", f"{d}/ledger.jsonl", self.ctx.seed + 7919, STREAM_RATE,
            STREAM_INTERVAL, WINDOW_MS,
        )

    def tick(self, in_dir: str, out_dir: str, ckpt: str):
        """One scheduler launch: build the stream and run it available-now."""
        from pyspark.sql import types as T

        from tweets_spark_top_10_spark.streaming.sinks import foreach_batch_top_k
        from tweets_spark_top_10_spark.streaming.sources import file_stream
        from tweets_spark_top_10_spark.streaming.windows import windowed_top_k

        tr = self.ctx.tracer
        schema = T.StructType(
            [T.StructField("ts", T.TimestampType()), T.StructField("hashtag", T.StringType())]
        )
        with tr.span("streaming.file_stream"):
            stream = file_stream(self.ctx.spark, in_dir, schema)
        with tr.span("streaming.windowed_top_k"):
            counts = windowed_top_k(
                stream, "ts", "hashtag", k=10,
                window=f"{WINDOW_MS} milliseconds", watermark=f"{WATERMARK_MS} milliseconds",
            )
        start = time.time()
        with tr.span("streaming.foreach_batch_top_k"):
            q = foreach_batch_top_k(counts, out_dir, ckpt, key="hashtag", k=10)
        with tr.span("streaming.await"):
            q.awaitTermination()
        return q, start

    def warm_up(self) -> None:
        """Ticks over in-process file drops, each tick one second of events
        later than the last, until tick times stop falling."""
        d = f"{self.ctx.work}/warm"
        per_tick = int(round(1 / STREAM_INTERVAL))
        t = int(time.time() * 1e6)
        for k in range(WARM_TICKS):
            for f in range(per_tick):
                self.warm_gen.drop(t + int((k * per_tick + f) * STREAM_INTERVAL * 1e6), False)
            self.tick(f"{d}/in", f"{d}/out", f"{d}/ckpt")

    def run(self, seconds: float, traced: bool = False) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        records = SparkRecords(ctx.spark) if traced else None
        d = f"{ctx.work}/live"
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(f"{d}/in")
        ledger = f"{d}/ledger.jsonl"
        genproc = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "stream",
                "--out", f"{d}/in", "--ledger", ledger, "--seed", str(ctx.seed),
                "--rate", str(STREAM_RATE), "--interval", str(STREAM_INTERVAL),
                "--window-ms", str(WINDOW_MS), "--seconds", str(seconds + 120),
            ],
        )
        ticks, mask, progress, ramp = [], [], [], []
        backlog, events = [], 0
        prev_files = 0
        try:
            deadline = time.time() + 60
            while not os.listdir(f"{d}/in") and time.time() < deadline:
                time.sleep(STREAM_INTERVAL / 5)  # generator process starting
            # Tick 0 is a ramp, not measured: it finds only the files dropped
            # since the generator started, not a tick's worth. Its output is
            # still checked.
            t_start = None
            k = 0
            while t_start is None or time.perf_counter() - t_start < seconds:
                if k == 1:
                    t_start = time.perf_counter()
                files = len([f for f in os.listdir(f"{d}/in") if not f.startswith(".")])
                if k:
                    backlog.append(files - prev_files)
                prev_files = files
                tr.enabled = traced and k % 2 == 1
                mark = records.mark() if tr.enabled else 0
                tr.op = k
                t0 = time.perf_counter()
                with tr.span("op.tick"):
                    try:
                        q, start = self.tick(f"{d}/in", f"{d}/out", f"{d}/ckpt")
                    except Exception as exc:  # a failed launch is a failed operation
                        ctx.outcome(False, f"tick {k}: {exc!r}"[:300])
                        k += 1
                        continue
                dt = time.perf_counter() - t0
                ctx.outcome(True, "")
                prog = [json.loads(p.json) for p in q.recentProgress]
                if k == 0:
                    ramp = prog
                    k += 1
                    continue
                ticks.append(dt)
                mask.append(tr.enabled)
                progress.extend(prog)
                events += sum(p.get("numInputRows", 0) for p in prog)
                if tr.enabled:
                    self._trace_tick(records, mark, start, dt, prog)
                k += 1
        finally:
            tr.enabled = False
            genproc.send_signal(signal.SIGTERM)
            try:
                genproc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                genproc.kill()
                genproc.wait()
        windows = gen.ledger_windows(gen.read_ledger(ledger))
        every = ramp + progress
        self._check_sink(f"{d}/out", windows, checks.final_watermark_ms(every))
        ramp_wm = checks.final_watermark_ms(ramp)
        fresh = {
            w: t for w, t in checks.freshness(every, windows, WINDOW_MS).items()
            if w + WINDOW_MS > ramp_wm  # windows the ramp tick emitted are not measured
        }
        late = [r["written_us"] - r["due_us"] for r in gen.read_ledger(ledger)]
        if traced:
            ctx.add("streaming.backlog_files_max", max(backlog))
            ctx.add("streaming.gen_late_s", max(late) / 1e6)
            ctx.add(
                "streaming.late_rows_dropped",
                sum(
                    s.get("numRowsDroppedByWatermark", 0)
                    for p in every for s in p.get("stateOperators", [])
                ),
            )
        # Ticks run back to back, so events over tick wall would only echo
        # the generator's rate; events over data-batch time is the rate the
        # engine processes them at.
        busy = sum(
            p["durationMs"].get("triggerExecution", 0) / 1000.0
            for p in progress if p.get("numInputRows", 0) > 0
        )
        return {
            "jobs": ticks, "traced": mask, "fresh": list(fresh.values()), "passes": ticks,
            "rows": events, "busy": busy,
        }

    def _check_sink(self, out_dir: str, windows: dict[int, dict], watermark_ms: float) -> None:
        """Read every sink partition back once the stream is done: each
        finalised window must be there with its exact top-10, so a window
        lost, deleted or rewritten by a later tick counts as failed."""
        sink = {}
        for w, part in checks.sink_windows(out_dir).items():
            try:
                sink[w] = checks.read_window_top_k(part)
            except (OSError, ValueError):  # pyarrow's errors derive from these
                sink[w] = None
        for w, why in checks.check_stream_sink(sink, windows, watermark_ms, WINDOW_MS).items():
            self.ctx.outcome(not why, f"window {w}: {why}")

    def _trace_tick(self, records, mark, start, dt, prog) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        rec = records.since(mark)
        op_spans = [s for s in tr.spans if s.op == tr.op]
        tick_span = next(s for s in op_spans if s.name == "op.tick")
        off = start - next(s.start for s in op_spans if s.name == "streaming.foreach_batch_top_k")
        build = [s for s in op_spans if s.name in ("streaming.file_stream", "streaming.windowed_top_k")]
        plan_s = sum(_uncovered(rec["intervals"], s.start + off, s.end + off) for s in build)
        plan_s += sum(p["durationMs"].get("queryPlanning", 0) / 1000.0 for p in prog)
        _session_metrics(ctx, rec, tick_span.start + off, tick_span.end + off, plan_s)
        ctx.add("streaming.tick_s", dt)
        ctx.add("streaming.batches_per_tick", len(prog))
        if prog:
            ctx.add("streaming.start_s", checks.epoch_s(prog[0]["timestamp"]) - start)
        for p in prog:
            dur = p["durationMs"]
            kind = "data" if p.get("numInputRows", 0) > 0 else "nodata"
            ctx.add(f"streaming.{kind}_batch_s", dur.get("triggerExecution", 0) / 1000.0)
            ctx.add("streaming.add_batch_s", dur.get("addBatch", 0) / 1000.0)
            ctx.add("streaming.wal_commit_s", dur.get("walCommit", 0) / 1000.0)
            for s in p.get("stateOperators", []):
                ctx.add("streaming.state_commit_s", s.get("commitTimeMs", 0) / 1000.0)
                ctx.add("streaming.state_rows", s.get("numRowsTotal", 0))
                ctx.add("streaming.state_bytes", s.get("memoryUsedBytes", 0))
                ctx.add("operators.shuffle_partitions", s.get("numShufflePartitions", 0))
                ctx.add("operators.reduce_tasks", s.get("numStateStoreInstances", 0))


# ====================================================================
# corpus_curation


class CorpusCuration:
    name = "corpus_curation"
    queries = ("training_pipeline_docs", "semantic_dedup_keep")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.corpus: gen.Corpus | None = None

    def generate(self) -> None:
        d = f"{self.ctx.work}/corpus"
        shutil.rmtree(d, ignore_errors=True)
        self.corpus = gen.write_corpus(d, self.ctx.seed)

    def one_pass(self, records: SparkRecords | None = None, check: bool = True) -> None:
        from tweets_spark_top_10_spark.queries import QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        pass_mark = records.mark() if records else 0
        e_pass = time.time()
        plan_s = 0.0
        for name in self.queries:
            mark = records.mark() if records else 0
            e0 = time.time()
            t0 = time.perf_counter()
            with tr.span(f"queries.{name}.build"):
                df = QUERIES[name](ctx.spark, self.corpus.sf_dir)
            t1 = time.perf_counter()
            with tr.span(f"queries.{name}.collect"):
                rows = [r.asDict() for r in df.collect()]
            dt = time.perf_counter() - t0
            if records:
                plan_s += self._trace_query(records, mark, e0, t1 - t0, dt, name, df, rows)
            if check:
                errs = (checks.check_pipeline if name == self.queries[0] else checks.check_semdedup)(
                    rows, self.corpus
                )
                ctx.outcome(not errs, f"{name}: {'; '.join(errs)}")
        if records:
            _session_metrics(ctx, records.since(pass_mark), e_pass, time.time(), plan_s)

    def warm_up(self) -> None:
        # One pass: the cold one. The second, the first measured, is still
        # ~10% slower than later ones, but another warm-up pass would not
        # fit the time all runs of the benchmark may take.
        self.one_pass(check=False)

    def run(self, seconds: float, traced: bool = False) -> dict:
        tr = self.ctx.tracer
        records = SparkRecords(self.ctx.spark) if traced else None
        passes, mask = [], []
        t_start = time.perf_counter()
        k = 0
        # At least one pass (two when traced, one of each kind). Another
        # pass starts only if it should end by about half a pass past the
        # deadline, so the pass count does not flip with small speed
        # changes. A traced run alternates traced and untraced passes, two
        # of each unless that would take over three times the measuring time.
        while (
            len(passes) < (2 if traced else 1)
            or time.perf_counter() - t_start < seconds - passes[-1] / 2
            or (traced and k < 4 and time.perf_counter() - t_start < 3 * seconds)
        ):
            tr.enabled = traced and k % 2 == 1
            tr.op = k
            t0 = time.perf_counter()
            with tr.span("op.curation_pass"):
                self.one_pass(records if tr.enabled else None)
            passes.append(time.perf_counter() - t0)
            mask.append(tr.enabled)
            k += 1
        tr.enabled = False
        rows = len(passes) * (self.corpus.n_docs + self.corpus.n_vecs)
        return {"jobs": passes, "traced": mask, "fresh": passes, "passes": passes, "rows": rows}

    def _trace_query(self, records, mark, e0, build_s, dt, name, df, rows) -> float:
        """Per-query numbers; returns the query's plan-building time not
        covered by a Spark job."""
        ctx = self.ctx
        rec = records.since(mark)
        short = "pipeline" if name == self.queries[0] else "semdedup"
        nodes = plan_nodes(df)
        joins = metric_sum(nodes, is_join, "numOutputRows")
        ctx.add(f"queries.{short}_s", dt)
        ctx.add(f"queries.{short}_jobs", rec["jobs"])
        ctx.add(f"queries.{short}_shuffle_bytes", rec["shuffle_bytes"])
        ctx.add(f"queries.{short}_join_rows_out", joins)
        ctx.add("operators.agg_peak_mem_bytes", metric_sum(nodes, is_agg, "peakMemory"))
        ctx.add("sources.files_read", metric_sum(nodes, is_scan, "numFiles"))
        ctx.add("sources.rows_read", metric_sum(nodes, is_scan, "numOutputRows"))
        ctx.add("sources.bytes_read", metric_sum(nodes, is_scan, "filesSize"))
        if short == "pipeline":
            members = set(self.corpus.doc_group)
            removed = len(members) - sum(1 for r in rows if r["doc_id"] in members)
        else:
            removed = sum(1 for r in rows if not r["keep"])
        ctx.add(f"functions.{short}_removed", removed)
        ctx.add(f"functions.{short}_join_rows", joins)
        return _uncovered(rec["intervals"], e0, e0 + build_s)


WORKLOADS = {w.name: w for w in (HourlyTop10, TrendStream, CorpusCuration)}
