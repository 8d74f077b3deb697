"""Measurement plumbing shared by the workloads.

Nothing here patches the program: timings are taken around the calls the
benchmark makes, counts come from Spark's own records (the status store's
job and stage data, SQL metrics on executed plans, streaming progress),
and memory comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- statistics


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it. With fewer than 20 samples that
    percentile would lie below the median, so the maximum is reported,
    at percentile 100."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------- memory


class RssSampler:
    """Peak resident set of the driver: this Python process, its JVM, and
    the JVM's Python workers, sampled from ``/proc``.

    Processes are picked by command name, not by parentage alone: a child
    that is still between spawn and exec shares its parent's memory and
    would count it twice, and the load generator is not part of the driver.
    """

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _procs() -> tuple[dict[int, list[int]], dict[int, str]]:
        kids: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            pid = int(name)
            comm[pid] = stat[stat.index("(") + 1 : stat.rfind(")")]
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            kids.setdefault(ppid, []).append(pid)
        return kids, comm

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        kids, comm = self._procs()
        me = os.getpid()
        total = self._rss_kb(me)
        for jvm in kids.get(me, []):
            if comm.get(jvm) != "java":
                continue
            total += self._rss_kb(jvm)
            todo = list(kids.get(jvm, []))
            while todo:
                pid = todo.pop()
                if comm.get(pid, "").startswith("python"):
                    total += self._rss_kb(pid)
                    todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def heap_after_gc_mb(spark) -> float:
    """Driver heap in use right after a full collection requested through
    JMX: the live data. With the heap pinned, peak RSS follows how much of
    the heap the collector has touched; this follows what the program
    keeps. Traced runs only: the collection pauses the driver."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once
    at the end. Disabled tracers record nothing and cost one branch."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ---------------------------------------------------------------- Spark records


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkRecords:
    """Job and stage records from the driver's status store.

    Jobs are numbered in submission order, so the jobs of one operation
    are those numbered after the ``mark()`` taken before it (the traced
    run executes operations one at a time)."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self.next_job = 0
        self.mark()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _exists(self, job_id: int) -> bool:
        from py4j.protocol import Py4JJavaError

        try:
            self._store.job(job_id)
            return True
        except Py4JJavaError:
            return False

    def mark(self) -> int:
        self._drain()
        while self._exists(self.next_job):
            self.next_job += 1
        return self.next_job

    def since(self, mark: int) -> dict:
        """Counts over the jobs submitted since ``mark``: jobs, tasks run,
        shuffle bytes written, bytes spilled to disk, and the jobs'
        [submit, complete] intervals in epoch seconds."""
        from py4j.protocol import Py4JJavaError

        end = self.mark()
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "intervals": []}
        for jid in range(mark, end):
            jd = self._store.job(jid)
            out["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            it = jd.stageIds().iterator()
            while it.hasNext():
                try:
                    sd = self._store.lastStageAttempt(it.next())
                except Py4JJavaError:
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        return out


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metrics) for every node of ``df``'s executed plan,
    descending into adaptive query stages and cached relations. Call after
    an action on ``df`` itself."""
    root = df._jdf.queryExecution().executedPlan()
    out: list[tuple[str, dict[str, int]]] = []
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        ms = node.metrics()
        vals = {}
        it = ms.keysIterator()
        while it.hasNext():
            k = it.next()
            vals[k] = ms.apply(k).value()
        if cls == "FileSourceScanExec":
            vals["scan_tasks"] = node.inputRDD().getNumPartitions()
        out.append((node.nodeName(), vals))
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def metric_sum(nodes, name_pred, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if name_pred(n))


def is_join(name: str) -> bool:
    return "Join" in name or name == "CartesianProduct"


def is_agg(name: str) -> bool:
    return name.endswith("Aggregate")


def is_scan(name: str) -> bool:
    return name.startswith("Scan ") or name.startswith("FileScan")
