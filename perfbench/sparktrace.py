"""Spark-side tracing from outside the engine.

Each traced layer call runs under its own Spark job group. After the call,
the group's jobs, stages and SQL executions are read back from Spark's
status stores (the same stores the web UI reads, populated even with the
UI disabled). Nothing inside ``tempeh_spark`` is instrumented.

Spans are kept in memory and written once, with the run's result file.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


_VALUE = re.compile(r"(\d[\d,]*(?:\.\d+)?)(?: (B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b)?")


def metric_value(text: str) -> float | None:
    """A SQL metric's display string as a number (bytes, seconds or count).

    Per-task metrics read "total (min, med, max ...)\\n<total> (...)"; the
    total is the first value of the last line."""
    found = _VALUE.search(text.strip().splitlines()[-1])
    if found is None:
        return None
    number = float(found.group(1).replace(",", ""))
    return number * _UNITS[found.group(2)] if found.group(2) else number


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)  # the group's statistics


@dataclass
class StageStats:
    stage_id: int
    submitted: float  # epoch seconds
    completed: float
    run_s: float  # summed task run time
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_bytes: int
    task_median_s: float
    task_max_s: float

    @property
    def wall_s(self) -> float:
        return self.completed - self.submitted


@dataclass
class Execution:
    execution_id: int
    submitted: float
    completed: float
    jobs: list[int]
    nodes: list[tuple[str, dict[str, float]]]

    def metric(self, node: str, name: str) -> float:
        """Sum of metric ``name`` over the plan nodes whose name starts with ``node``."""
        return sum(m.get(name, 0.0) for n, m in self.nodes if n.startswith(node))

    def has(self, node: str) -> bool:
        return any(n.startswith(node) for n, _ in self.nodes)


@dataclass
class GroupReport:
    name: str
    wall_s: float
    jobs: list[int]
    job_stages: dict[int, list[int]]
    stages: list[StageStats]
    executions: list[Execution]

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


class SparkTracer:
    """Runs layer calls under job groups and reads their Spark statistics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self.spans: list[Span] = []
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Tag every Spark job started inside the block with a fresh group."""
        self._seq += 1
        gid = f"{name}#{self._seq}"
        span = Span(gid, time.time())
        self.sc.setJobGroup(gid, gid)
        try:
            yield span
        finally:
            span.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, span: Span) -> int:
        """Number of Spark jobs the span's group has started so far."""
        return len(self.sc.statusTracker().getJobIdsForGroup(span.name))

    def report(self, span: Span) -> GroupReport:
        self.drain()
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(span.name))
        job_stages = {j: sorted(tracker.getJobInfo(j).stageIds or []) for j in jobs}
        stage_ids = sorted({s for ids in job_stages.values() for s in ids})
        stages = [s for s in (self._stage(i) for i in stage_ids) if s is not None]
        rep = GroupReport(
            span.name, span.end - span.start, jobs, job_stages, stages,
            self._executions(span.name),
        )
        span.attrs = {
            "jobs": len(jobs),
            "stages": len(stages),
            **{f"{k}": rep.total(k) for k in (
                "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_bytes")},
            "task_max_s": max((s.task_max_s for s in stages), default=0.0),
            "task_median_s": statistics.median(s.task_median_s for s in stages) if stages else 0.0,
            "python_bytes_sent": sum(
                e.metric("", "data sent to Python workers") for e in rep.executions),
            "python_bytes_received": sum(
                e.metric("", "data returned from Python workers") for e in rep.executions),
        }
        return rep

    def finish(self) -> None:
        """Read back the statistics of every span not reported yet."""
        for span in self.spans:
            if not span.attrs:
                self.report(span)

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _stage(self, stage_id: int) -> StageStats | None:
        store = self._jsc.statusStore()
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        try:
            attempts = store.stageData(
                stage_id, False, self._gw.jvm.java.util.ArrayList(), False, no_quantiles
            )
        except Exception:  # py4j error: the store holds no record of the stage
            return None
        data = attempts.apply(attempts.size() - 1)
        if not data.submissionTime().isDefined() or not data.completionTime().isDefined():
            return None  # skipped: its output was reused from an earlier stage
        quantiles = self._gw.new_array(self._gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        med = top = 0.0
        summary = store.taskSummary(stage_id, data.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0) / 1e3, run.apply(1) / 1e3
        return StageStats(
            stage_id=stage_id,
            submitted=data.submissionTime().get().getTime() / 1e3,
            completed=data.completionTime().get().getTime() / 1e3,
            run_s=data.executorRunTime() / 1e3,
            cpu_s=data.executorCpuTime() / 1e9,
            gc_s=data.jvmGcTime() / 1e3,
            shuffle_bytes=data.shuffleWriteBytes(),
            spill_bytes=data.memoryBytesSpilled() + data.diskBytesSpilled(),
            input_bytes=data.inputBytes(),
            task_median_s=med,
            task_max_s=top,
        )

    def _executions(self, gid: str) -> list[Execution]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.description() != gid:
                continue
            eid = e.executionId()
            values = store.executionMetrics(eid)
            nodes = []
            graph = store.planGraph(eid).allNodes().iterator()
            while graph.hasNext():
                node = graph.next()
                metrics = {}
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    value = metric_value(v.get()) if v.isDefined() else None
                    if value is not None:
                        metrics[m.name()] = value
                nodes.append((node.name(), metrics))
            done = e.completionTime()
            jobs = e.jobs().keySet().iterator()
            job_ids = []
            while jobs.hasNext():
                job_ids.append(int(jobs.next()))
            out.append(
                Execution(
                    execution_id=eid,
                    submitted=e.submissionTime() / 1e3,
                    completed=done.get().getTime() / 1e3 if done.isDefined() else 0.0,
                    jobs=sorted(job_ids),
                    nodes=nodes,
                )
            )
        return sorted(out, key=lambda x: x.execution_id)


RSS_INTERVAL_S = 0.05  # between reads of the known workers' RSS
RSS_RESCAN_S = 1.0  # between scans of the process table for new workers


def python_descendants() -> list[int]:
    """Pids of this process's Python descendants: the Spark Python workers
    and their daemon, started by the JVM this process launched."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        pid = int(entry)
        close = stat.rindex(")")
        comm[pid] = stat[stat.index("(") + 1 : close]
        parent[pid] = int(stat[close + 2 :].split()[1])
    me = os.getpid()
    found = []
    for pid, name in comm.items():
        if not name.startswith("python") or pid == me:
            continue
        p = parent.get(pid)
        while p is not None and p != me and p > 1:
            p = parent.get(p)
        if p == me:
            found.append(pid)
    return found


class WorkerRss:
    """Peak summed RSS of the Spark Python workers during a block.

    The process table is scanned on entry and exit and every RSS_RESCAN_S
    in between; a background thread reads the RSS of the workers found
    every RSS_INTERVAL_S. ``cpu_s`` is the CPU time the thread used, the
    sampler's own cost."""

    def __init__(self):
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self.pids: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:  # the worker has exited
                continue
        return total

    def _loop(self) -> None:
        cpu0 = time.thread_time()
        next_scan = time.monotonic() + RSS_RESCAN_S
        while not self._stop.wait(RSS_INTERVAL_S):
            if time.monotonic() >= next_scan:
                self.pids = python_descendants()
                next_scan += RSS_RESCAN_S
            self.peak_bytes = max(self.peak_bytes, self._rss())
        self.cpu_s = time.thread_time() - cpu0

    def __enter__(self) -> "WorkerRss":
        self.pids = python_descendants()
        self.peak_bytes = self._rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.pids = python_descendants()
        self.peak_bytes = max(self.peak_bytes, self._rss())


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user time
    return 100.0 * delta[7] / total if total > 0 else 0.0


@contextmanager
def recorded_confs():
    """Record every ``SparkSession.Builder.config(key, value)`` call made in
    the block, so the effective session confs can be compared with them."""
    from pyspark.sql import SparkSession

    builder_cls = type(SparkSession.builder)
    original = builder_cls.config
    seen: dict[str, str] = {}

    def config(self, key=None, value=None, *args, **kwargs):
        if isinstance(key, str) and value is not None:
            seen[key] = str(value)
        return original(self, key, value, *args, **kwargs)

    builder_cls.config = config
    try:
        yield seen
    finally:
        builder_cls.config = original
