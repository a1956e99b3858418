"""Spans around the public calls the benchmark makes, and the Spark
counters tied to them.

A span records name, start, end, parent span and the id of the op it
belongs to.  While a span is open its name is the driver thread's Spark
job group, so the jobs it starts can be found by group in the Spark
status tracker.  Jobs that a layer submits from its own helper threads
carry no group; with one client thread, Spark's sequential job ids
still attribute them exactly, so each span also records the range of
job ids started while it was open.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0
    grouped_jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def jobs(self) -> int:
        return self.end_job - self.first_job


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time in seconds of every span: its duration minus the part
    of its interval covered by its direct children (overlapping
    children are counted once; children are clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.idx, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.idx] = (s.end - s.start) - covered
    return out


class SparkCounters:
    """Read-only probes of the driver JVM: job ids, task counts, GC
    time, pid and peak resident memory."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._jvm = self.sc._jvm

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain_listeners(self) -> None:
        """Wait until the status tracker has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def tasks(self, first_job: int, end_job: int) -> tuple[int, int]:
        """(completed, failed) tasks of jobs [first_job, end_job)."""
        stages: set[int] = set()
        for j in range(first_job, end_job):
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        done = failed = 0
        for s in stages:
            info = self._tracker.getStageInfo(s)
            if info is not None:
                done += info.numCompletedTasks
                failed += info.numFailedTasks
        return done, failed

    def jobs_in_group(self, group: str) -> int:
        return len(self._tracker.getJobIdsForGroup(group))

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def java_version(self) -> str:
        return str(self._jvm.java.lang.System.getProperty("java.version"))


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a process, in KiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Collects spans when enabled; a disabled tracer's ``span`` is a
    no-op so untraced runs pay nothing."""

    def __init__(self, counters: SparkCounters | None, enabled: bool) -> None:
        self.counters = counters
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._flushed = 0

    def span(self, name: str, op_id: int, **attrs):
        return self._span(name, op_id, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, op_id: int, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            idx=len(self.spans),
            name=name,
            op_id=op_id,
            parent=parent.idx if parent else None,
            start=0.0,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self.counters.sc
        sc.setJobGroup(f"op{op_id}/{s.idx}/{name}", name)
        s.first_job = self.counters.next_job_id()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.end_job = self.counters.next_job_id()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"op{op_id}/{parent.idx}/{parent.name}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def flush_counts(self) -> None:
        """Fill task and group counts of the spans closed since the last
        call.  Run between ops, outside any latency measurement."""
        if not self.enabled or self._flushed == len(self.spans):
            return
        self.counters.drain_listeners()
        for s in self.spans[self._flushed :]:
            s.tasks, s.failed_tasks = self.counters.tasks(s.first_job, s.end_job)
            s.grouped_jobs = self.counters.jobs_in_group(f"op{s.op_id}/{s.idx}/{s.name}")
        self._flushed = len(self.spans)

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["ms"] = s.ms
                row["self_ms"] = selfs[s.idx] * 1000.0
                row["jobs"] = s.jobs
                f.write(json.dumps(row, sort_keys=True) + "\n")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
