"""Measurement helpers shared by the workloads: percentiles and the
sample-count rule, spans and their self-time reduction, open-loop
lateness, process-tree memory sampling and Spark job counters."""

from __future__ import annotations

import math
import os
import platform
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ------------------------------------------------------------ percentiles
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it, or None
    when even the median lacks ten."""
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) >= 1000.0 - 1e-9:
            return q
    return None


def median(values) -> float:
    return percentile(values, 50.0)


# ----------------------------------------------------------- open loop
def lateness(due: list[float], actual: list[float]) -> list[float]:
    """Per-send lateness of an open-loop generator: how long after its
    scheduled time each send happened (never negative)."""
    if len(due) != len(actual):
        raise ValueError("due and actual must pair up")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def schedule(start: float, rate_per_s: float, n: int) -> list[float]:
    """Due times of ``n`` sends at a fixed rate, independent of how fast
    earlier sends completed."""
    return [start + i / rate_per_s for i in range(n)]


# -------------------------------------------------------------- tracing
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1


@dataclass
class Tracer:
    """Spans recorded around calls into the engine's layers. Kept in
    memory; ``dump`` writes them out once the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int = -1

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class NullTracer:
    """Untraced runs: every span is a no-op."""

    op = -1

    @contextmanager
    def span(self, name: str):
        yield


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


# --------------------------------------------------------------- memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the python
    driver, the JVM it launched and the JVM's python workers), as the sum
    of proportional set sizes: a page shared by several processes counts
    once, so a JVM forking a helper does not count its heap twice."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()


# ----------------------------------------------------------- spark jobs
class JobCounter:
    """Per-op Spark job/task counts read from the public StatusTracker:
    each op runs under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.failed_tasks = 0

    def begin(self, op: int) -> str:
        group = f"perfbench-op-{op}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> None:
        job_ids = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    self.failed_tasks += st.numFailedTasks
        self.jobs.append(len(job_ids))
        self.tasks.append(tasks)
        self.sc.setLocalProperty("spark.jobGroup.id", None)


# ----------------------------------------------------------- deployment
def cpu_times() -> list[int]:
    """The machine-wide CPU time counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def deployment_stamp(spark, cpu_start: list[int]) -> dict:
    """Where and how the run ran. ``cpu_steal_share`` is the share of CPU
    time the hypervisor gave to other guests while the run was busy — the
    first thing to check when a run reads slower than its neighbours."""
    import pyspark

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    return {
        "cpu_steal_share": delta[7] / max(1, sum(delta)),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": load,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
