"""Spans, Spark-bookkeeping counters and the statistics the benchmark reports.

Everything here observes the engine from outside: a span is opened around a
call into one of the engine's layers, and at the span's end the counters of
the Spark jobs launched inside it are read from the driver's status store
(the same records the Spark UI would show; the UI itself stays disabled).
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Status-store stage fields summed into each span, keyed by the name the
# span reports them under; values are (getter, scale to the reported unit).
STAGE_COUNTERS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median: with fewer than 20 samples no percentile above
    the median has ten samples beyond it, and the median is reported."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (n - 10) / n))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float                      # epoch seconds
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children may overlap each other and may stick out of
    the parent; only the covered part of the parent's interval counts)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = s.duration - covered
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cursor = 0.0, -math.inf
    for lo, hi in sorted(intervals):
        lo = max(lo, cursor)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


class JobLedger:
    """Reads the driver's status store for the jobs launched since a mark.

    Job ids grow monotonically and ``jobsList`` returns newest first, so a
    span reads only its own jobs. Each stage is counted once per ledger:
    a shuffle stage reused (skipped) by a later job is charged to the span
    whose job ran it.
    """

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen_stages: set[int] = set()

    def mark(self) -> int:
        jobs = self._store.jobsList(None)
        it = jobs.iterator()
        return it.next().jobId() if it.hasNext() else -1

    def read(self, since: int) -> dict:
        """Counters of the jobs with id > ``since``, after the listener bus
        has delivered their end events."""
        self._bus.waitUntilEmpty(30_000)
        jobs = self._store.jobsList(None)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "job_intervals": []}
        out.update({k: 0 for k in STAGE_COUNTERS})
        it = jobs.iterator()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= since:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append((sub.get().getTime() / 1e3,
                                             done.get().getTime() / 1e3))
            stages = job.stageIds().iterator()
            while stages.hasNext():
                self._add_stage(int(stages.next()), out)
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        if sid in self._seen_stages:
            return
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:     # NoSuchElementException: the stage never ran
            return
        if st.status().toString() == "SKIPPED":
            return
        self._seen_stages.add(sid)
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        for key, (getter, scale) in STAGE_COUNTERS.items():
            out[key] += getattr(st, getter)() * scale


class Tracer:
    """Collects spans for one run. Disabled, every span is a no-op, so the
    untraced loop runs exactly the calls the traced loop runs."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.ledger = JobLedger(spark) if enabled else None

    @contextmanager
    def span(self, name: str, op: int, counters: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        mark = self.ledger.mark() if counters else None
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if counters:
                s.counters.update(self.ledger.read(mark))

    def add(self, name: str, op: int, start: float, end: float,
            parent: Span | None, **counters) -> Span:
        """Record a span measured by someone else (Spark's own clocks)."""
        s = Span(len(self.spans), name, op,
                 parent.id if parent else None, start, end, dict(counters))
        self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                counters = {k: v for k, v in s.counters.items()
                            if k != "job_intervals"}
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": selfs[s.id], "counters": counters}) + "\n")
