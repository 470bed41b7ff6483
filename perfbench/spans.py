"""Spans around the benchmark's calls into the engine's public functions.

A span records wall time and, from outside the engine, the Spark work
the call caused: each span runs its jobs under its own `setJobGroup`,
and on exit the public `StatusTracker` gives the group's jobs and
their stages' completed and failed tasks (this works with
`spark.ui.enabled=false`, which the engine's session sets). JVM GC time
comes from the GC MXBeans. Spans nest: a child's jobs run under the
child's group, so a parent's counts are its own work only. Spans stay in
memory; the benchmark turns them into per-layer metrics at the end.

`Tracer(spark, enabled=False)` keeps the same call sites but records
nothing, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    gc_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def jvm_gc_seconds(spark: SparkSession) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    jvm = spark.sparkContext._jvm  # type: ignore[attr-defined]
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call; yields the Span (None when tracing is off) so the
        caller can attach attributes such as iteration counts."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"perfbench-{id(self)}-{idx}"
        prev_group = sc.getLocalProperty(_GROUP_KEY)
        prev_desc = sc.getLocalProperty(_DESC_KEY)
        span = Span(name, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(span)
        self._stack.append(idx)
        gc0 = jvm_gc_seconds(self.spark)
        sc.setJobGroup(group, name)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP_KEY, prev_group)  # None unsets it
            sc.setLocalProperty(_DESC_KEY, prev_desc)
            span.gc_s = jvm_gc_seconds(self.spark) - gc0
            self._count_jobs(group, span)

    def _count_jobs(self, group: str, span: Span) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            span.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:  # skipped: its shuffle output was reused
                    continue
                span.tasks += stage.numCompletedTasks
                span.failed_tasks += stage.numFailedTasks

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """A span's wall minus the part its direct children cover."""
        return self.spans[idx].wall - sum(c.wall for c in self.children(idx))

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str, after=None):
        """Wrap `owner.attr` (a function or method reached through a module
        or class) in a span for the duration of the block. `after(span,
        args, kwargs, result)` records attributes once the span has closed.
        No-op when tracing is off."""
        if not self.enabled:
            yield
            return
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, original)
