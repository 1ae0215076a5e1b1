"""Spans and Spark job accounting recorded at the benchmark's own calls
into each layer of the program.

Job, stage and task counts come from Spark's scheduler, not from job
groups: PySpark job groups are thread-local, and neither the worker
threads of ``run_chain``'s pool nor a streaming query's execution thread
inherit the caller's group, so a group-based count misses exactly the
work that matters here. Job and stage ids are handed out by one
monotonic counter per SparkContext, so the ids a call allocated are the
half-open range between the counter before and after the call, whatever
thread submitted them. Stage and task figures are then read back from
``statusTracker()``, which works with the UI disabled.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_DONE = ("SUCCEEDED", "FAILED")


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0


class JobCounter:
    """Counts the Spark jobs, executed stages and tasks launched between
    :meth:`mark` and :meth:`since` — from any thread."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._tracker = sc.statusTracker()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def since(self, mark: tuple[int, int], settle_s: float = 5.0) -> SparkCounts:
        job_lo, stage_lo = mark
        job_hi, stage_hi = self.mark()
        # job-end events reach the status store through the asynchronous
        # listener bus; wait until every job of the range is recorded done
        deadline = time.monotonic() + settle_s
        pending = list(range(job_lo, job_hi))
        while pending and time.monotonic() < deadline:
            pending = [j for j in pending if not self._done(j)]
            if pending:
                time.sleep(0.01)
        out = SparkCounts(jobs=job_hi - job_lo)
        for sid in range(stage_lo, stage_hi):
            info = self._tracker.getStageInfo(sid)
            if info is None:
                continue
            # a skipped stage (its shuffle output reused) completes no task
            if info.numCompletedTasks or info.numFailedTasks:
                out.stages += 1
            out.tasks += info.numCompletedTasks
            out.tasks_failed += info.numFailedTasks
        return out

    def _done(self, job_id: int) -> bool:
        info = self._tracker.getJobInfo(job_id)
        return info is not None and info.status in _DONE


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    cycle: int | None
    attrs: dict = field(default_factory=dict)
    end: float = 0.0
    counts: SparkCounts | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` costs one branch
    and records nothing, so untraced runs time the program alone."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cycle: int | None = None
        self._jobs = JobCounter(spark) if enabled and spark is not None else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, 0.0, self._stack[-1] if self._stack else None, self.cycle, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        mark = self._jobs.mark() if self._jobs else None
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._jobs:
                sp.counts = self._jobs.since(mark)

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's
        intervals (children of one parent never overlap here: the
        benchmark is one client making one call at a time)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        return [sp.duration - c for sp, c in zip(self.spans, child)]

    def records(self) -> list[dict]:
        out = []
        for i, (sp, self_s) in enumerate(zip(self.spans, self.self_times())):
            c = sp.counts or SparkCounts()
            out.append({
                "id": i, "name": sp.name, "parent": sp.parent, "cycle": sp.cycle,
                "start": round(sp.start, 6), "end": round(sp.end, 6),
                "self_s": round(self_s, 6), "jobs": c.jobs, "stages": c.stages,
                "tasks": c.tasks, "tasks_failed": c.tasks_failed, **sp.attrs,
            })
        return out
