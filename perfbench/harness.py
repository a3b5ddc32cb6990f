"""Measurement plumbing: host-noise evidence, order statistics, and the
per-layer tracer.

The tracer tags every engine call the benchmark makes with a Spark job
group and, once the op has finished, reads that group's jobs back from
the application status store (``sc._jsc.sc().statusStore()``). It
works with ``spark.ui.enabled=false`` and costs nothing when off.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


# --- host noise -------------------------------------------------------


def spin_ms() -> float:
    """CPU-steal sentinel: a fixed pure-Python integer loop. On an idle
    core it takes a steady wall time; host steal inflates it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i
    return (time.perf_counter() - t0) * 1000.0


def steal_jiffies() -> int:
    """Cumulative steal time of all CPUs from ``/proc/stat`` (0 where the
    file or the field is missing)."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) if f[0] == "cpu" and len(f) > 8 else 0
    except OSError:
        return 0


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def tree_cpu_ms(root_pid: int, match: str = "pyspark") -> float:
    """User+system CPU of every live descendant of ``root_pid`` whose
    command line contains ``match``, including what their reaped
    children used: the Python worker daemon and its forked workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2 :].split()
        pid = int(d)
        stats[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    stack = list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if match.encode() not in fh.read():
                    continue
        except OSError:
            continue
        f = stats[pid]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total * 1000.0 / tick


# --- order statistics -------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples above it: its
    value and the sample count (None below 11 samples)."""
    n = len(xs)
    if n < 11:
        return None
    return {"pct": 100 * (n - 10) // n, "ms": sorted(xs)[n - 11], "n": n}


def warmup_ratio(xs: list[float]) -> float | None:
    """Median of the last quarter of the timed ops over that of the
    first quarter: near 1.0 when the run was warm, below 1.0 while the
    JVM is still getting faster."""
    q = len(xs) // 4
    if q < 1:
        return None
    return median(xs[-q:]) / median(xs[:q])


# --- tracer -----------------------------------------------------------


@dataclass
class SpanCounters:
    ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_ms: float = 0.0
    task_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: float = 0.0

    def add(self, other: "SpanCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Tracer:
    """Per-op span recorder. ``span(name)`` runs its body under a fresh
    job group; ``group(name, job_group)`` attributes an existing group
    (a streaming query's run id) to a layer. ``collect()`` waits for the
    listener bus and turns every recorded group into counters."""

    spark: object
    enabled: bool = False
    _seq: int = 0
    _open: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench:{name}:{self._seq}"
        sc.setJobGroup(group, name, False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._open.append((name, group, ms))

    def group(self, name: str, job_group: str, ms: float) -> None:
        if self.enabled:
            self._open.append((name, job_group, ms))

    def collect(self) -> dict[str, SpanCounters]:
        """Counters per span name for the spans recorded since the last
        call."""
        out: dict[str, SpanCounters] = {}
        if not self.enabled:
            return out
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        for name, group, ms in self._open:
            c = SpanCounters(ms=ms)
            stage_ids: set[int] = set()
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c.jobs += 1
                stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if sd.numCompleteTasks() == 0:
                    continue  # skipped (reused shuffle output)
                c.stages += 1
                c.tasks += sd.numCompleteTasks()
                c.task_cpu_ms += sd.executorCpuTime() / 1e6
                c.task_run_ms += sd.executorRunTime()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c.gc_ms += sd.jvmGcTime()
            out.setdefault(name, SpanCounters()).add(c)
        self._open.clear()
        return out
