"""Workload benchmark for the tweets_spark_top_10_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload hourly_top10 --seed 1 --seconds 15 --trace 0

Workloads: hourly_top10, trend_stream, corpus_curation (see README.md).
Generates the workload's inputs from ``--seed``, starts one Spark driver
with ``local[nproc]``, warms up, measures for ``--seconds`` and checks every
output against the generator's ground truth. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Scratch files go under ``.perfbench_work/``
in the current directory and are removed at exit, except the span dump
of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "tweets_per_s": "1/s",
    "fresh_p50_s": "s",
    "fresh_tail_s": "s",
    "curate_s": "s",
}

# per-layer metric -> unit; a workload that bypasses a layer reports 0
# for it and says so under "unavailable" in its trace file.
LAYER_UNITS = {
    "op_fail_ratio": "ratio",
    "job_tail_pct": "pct",
    "fresh_tail_pct": "pct",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "pct",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.plan_s": "s",
    "session.sched_gap_s": "s",
    "session.parallel_speedup": "x",
    "session.heap_after_gc_mb": "MB",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    "sources.files_read": "count",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "operators.explode_count_s": "s",
    "operators.top_k_s": "s",
    "operators.rows_exploded": "count",
    "operators.combine_ratio": "ratio",
    "operators.shuffle_partitions": "count",
    "operators.reduce_tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.agg_peak_mem_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "queries.pipeline_s": "s",
    "queries.semdedup_s": "s",
    "queries.pipeline_jobs": "count",
    "queries.semdedup_jobs": "count",
    "queries.pipeline_shuffle_bytes": "bytes",
    "queries.semdedup_shuffle_bytes": "bytes",
    "queries.pipeline_join_rows_out": "count",
    "queries.semdedup_join_rows_out": "count",
    "functions.dup_yield": "ratio",
    "streaming.tick_s": "s",
    "streaming.start_s": "s",
    "streaming.batches_per_tick": "count",
    "streaming.data_batch_s": "s",
    "streaming.nodata_batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.backlog_files_max": "count",
    "streaming.late_rows_dropped": "count",
    "streaming.gen_late_s": "s",
}

SETUP_ROUNDS = 3
DRIVER_HEAP = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, master: str):
    """One driver sized to the box: ``local[nproc]`` by default and a heap
    well inside RAM. Spark's scratch space stays inside ``work``."""
    from tweets_spark_top_10_spark.session import get_spark

    local = f"{work}/spark-local"
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # already gone
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop Spark, then end its JVM and every process under it and wait
    until each has gone. Left alone, the JVM exits only once it sees
    its stdin pipe close, which happens after this process has exited, so
    it would outlive the run."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    kids = _children()
    under, todo = [], list(kids.get(proc.pid, []))
    while todo:  # the JVM's Python workers, if it started any
        pid = todo.pop()
        under.append(pid)
        todo.extend(kids.get(pid, []))
    proc.stdin.close()  # the JVM's signal to exit
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in under:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.time() + 10
        while any(_alive(p) for p in under) and time.time() < deadline:
            time.sleep(0.05)
    if any(_alive(p) for p in under):
        print(f"perfbench: processes {under} did not exit", file=sys.stderr)


def e2e_metrics(res: dict, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    from harness import tail

    job_tail, job_pct = tail(res["jobs"])
    fresh_tail, fresh_pct = tail(res["fresh"])
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "job_p50_s": statistics.median(res["jobs"]),
        "job_tail_s": job_tail,
        "tweets_per_s": res["rows"] / res.get("busy", sum(res["jobs"])),
        "fresh_p50_s": statistics.median(res["fresh"]),
        "fresh_tail_s": fresh_tail,
        "curate_s": statistics.median(res["passes"]),
    }
    info = {
        "job_samples": len(res["jobs"]),
        "job_tail_pct": job_pct,
        "fresh_samples": len(res["fresh"]),
        "fresh_tail_pct": fresh_pct,
        "pass_samples": len(res["passes"]),
    }
    return values, info


def layer_metrics(ctx, res: dict, speedup: float | None) -> tuple[dict, dict]:
    """Median of each per-layer sample list; zeros (with a reason) for
    layers the workload does not exercise. The tracing overhead compares
    the traced operations with the untraced ones they alternate with."""
    from harness import tail

    layer = ctx.layer
    out = {k: statistics.median(v) for k, v in layer.items() if k in LAYER_UNITS}
    removed = sum(sum(layer.get(f"functions.{q}_removed", [])) for q in ("pipeline", "semdedup"))
    pairs = sum(sum(layer.get(f"functions.{q}_join_rows", [])) for q in ("pipeline", "semdedup"))
    if pairs:
        out["functions.dup_yield"] = removed / pairs
    out["op_fail_ratio"] = ctx.failed / max(ctx.attempted, 1)
    out["job_tail_pct"] = tail(res["jobs"])[1]
    out["fresh_tail_pct"] = tail(res["fresh"])[1]
    on = [t for t, m in zip(res["jobs"], res["traced"]) if m]
    off = [t for t, m in zip(res["jobs"], res["traced"]) if not m]
    out["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
    out["trace.overhead_pct"] = 100.0 * out["trace.overhead_s"] / statistics.median(off)
    if speedup is not None:
        out["session.parallel_speedup"] = speedup
    unavailable = {}
    for k in LAYER_UNITS:
        if k not in out:
            out[k] = 0.0
            unavailable[k] = "layer not exercised by this workload"
    return out, unavailable


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tweets_spark_top_10_spark")):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS, Ctx
    from harness import RssSampler, Tracer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    rss = RssSampler().start()
    ctx = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, f"local[{cpus()}]")
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, Tracer(False))
        wl = WORKLOADS[args.workload](ctx)
        gen_s = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s
        print(
            f"perfbench: session {session_s:.2f}s, generate median {statistics.median(gen_s):.2f}s "
            f"of {gen_s}, warm-up {warm_s:.2f}s", file=sys.stderr,
        )

        if not args.trace:
            res = wl.run(args.seconds)
            values, info = e2e_metrics(res, setup_s, rss.stop())
            print(f"perfbench: {info}", file=sys.stderr)
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        else:
            metrics = traced_run(args, ctx, wl, root)
        if ctx.errors:
            print("perfbench: failures: " + " | ".join(ctx.errors), file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": ctx.failed == 0,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        try:
            stop_spark(ctx.spark if ctx is not None else None)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's scratch is still there


def traced_run(args, ctx, wl, root) -> dict:
    """Traced and untraced operations alternate in one stretch, so their
    difference is the tracing overhead; hourly_top10 then repeats on a
    ``local[1]`` driver for the single-threaded baseline."""
    res = wl.run(args.seconds, traced=True)
    speedup = None
    if args.workload == "hourly_top10":
        untraced_p50 = statistics.median(t for t, m in zip(res["jobs"], res["traced"]) if not m)
        ctx.spark.stop()
        ctx.spark = start_spark(ctx.work, "local[1]")
        wl.warm_up()
        one = wl.run(args.seconds / 2)
        speedup = statistics.median(one["jobs"]) / untraced_p50
    out, unavailable = layer_metrics(ctx, res, speedup)
    if args.workload != "hourly_top10":
        unavailable["session.parallel_speedup"] = "measured on hourly_top10 only"
    dump_dir = os.path.join(root, ".perfbench_traces")
    os.makedirs(dump_dir, exist_ok=True)
    stem = f"{dump_dir}/{args.workload}-{args.seed}"
    ctx.tracer.dump(f"{stem}.spans.json")
    with open(f"{stem}.layers.json", "w") as fh:
        json.dump(
            {"metrics": out, "samples": ctx.layer, "unavailable": unavailable, "run": res},
            fh, indent=1,
        )
    print(f"perfbench: spans and per-layer samples in {stem}.*.json", file=sys.stderr)
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
