"""Spans and per-call Spark counters, recorded from outside the program.

``Tracer`` keeps spans (name, start, end, parent, request id) in memory and
writes them out once, when the run ends. ``SparkCalls`` tags a call's jobs
with a job group and, afterwards, reads that group's counters from Spark's
status store. A disabled tracer records nothing and tags nothing, so the
untraced run times the bare calls.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    sid: int


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its child
    spans cover (overlapping children are merged first, so concurrent
    children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
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
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), parent, request, sid))

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.sid]
        return out

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"id": s.sid, "name": s.name, "start": s.start,
                                     "end": s.end, "parent": s.parent,
                                     "request": s.request,
                                     "self_s": st[s.sid]}) + "\n")


@dataclass
class CallCounters:
    """Counters of one call's Spark jobs, from the status store."""
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list = field(default_factory=list)

    @property
    def driver_only_s(self) -> float:
        """Wall time not covered by any of the call's Spark jobs."""
        return max(0.0, self.wall_s - _union_length(self.job_intervals))

    def busy_share(self, cores: int) -> float:
        return self.executor_run_s / (self.wall_s * cores) if self.wall_s > 0 else 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, hi_seen = 0.0, None
    for lo, hi in sorted(intervals):
        if hi_seen is None or lo > hi_seen:
            total += hi - lo
            hi_seen = hi
        elif hi > hi_seen:
            total += hi - hi_seen
            hi_seen = hi
    return total


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCalls:
    """Job-group tagging and status-store reads for timed Spark calls."""

    MB = float(1 << 20)

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._ids = itertools.count()

    @contextlib.contextmanager
    def call(self, name: str, out: dict | None = None, request: str | None = None):
        """Time one call in a span; when tracing, run its jobs under a fresh
        job group and store its ``CallCounters`` in ``out[name]``."""
        if not self.tracer.enabled:
            yield
            return
        group = f"perfbench-{name}-{next(self._ids)}"
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        t0 = time.time()
        try:
            with self.tracer.span(name, request):
                yield
        finally:
            wall = time.time() - t0
            self.sc.setJobGroup("perfbench-untracked", "untracked", interruptOnCancel=False)
        if out is not None:
            out.setdefault(name, []).append(self.counters(group, wall))

    def counters(self, group: str, wall_s: float) -> CallCounters:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        c = CallCounters(wall_s=wall_s)
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            c.jobs += 1
            lo, hi = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
            if lo is not None and hi is not None:
                c.job_intervals.append((lo, hi))
            for sid in tracker.getJobInfo(jid).stageIds:
                attempts = store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c.stages += 1
                    c.tasks += st.numTasks()
                    c.tasks_failed += st.numFailedTasks()
                    c.executor_run_s += st.executorRunTime() / 1000.0
                    c.jvm_gc_s += st.jvmGcTime() / 1000.0
                    c.shuffle_read_mb += st.shuffleReadBytes() / self.MB
                    c.shuffle_write_mb += st.shuffleWriteBytes() / self.MB
                    c.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / self.MB
        return c
