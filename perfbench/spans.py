"""Spans around calls into the engine's layers, with the Spark task
metrics of the jobs each span ran.

A :class:`Tracer` keeps spans in memory (name, start, end, parent span,
request id) and writes them out when the run ends. Once a SparkSession
is attached, each span runs its jobs under a job group of its own; on
exit the tracer drains Spark's listener bus and sums the task metrics of
the group's stages from the JVM status store. Those metrics cover the
jobs started directly inside the span, not inside its child spans.

A disabled tracer (``Tracer(enabled=False)``, the untraced run) records nothing
and sets no job group, so the untraced run pays only a context-manager
call per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TASK_METRICS = (
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "core_util",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    request: str
    start: float
    end: float = 0.0
    # Time spent after ``end`` reading the span's task metrics.
    overhead: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its children cover
    (the union of their intervals, each with the tracer's own metric
    reading after it, clipped to the span)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda s: s.start):
        s, e = max(c.start, span.start), min(c.end + c.overhead, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spark = None
        self.cores = 1
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def attach(self, spark, cores: int) -> None:
        """Start reading Spark task metrics (after the session exists)."""
        self.spark = spark
        self.cores = cores

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Record one span; yields a dict for the span's counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            request=request or (parent.request if parent else "-"),
            start=time.perf_counter(),
            counts=counts,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"perfbench-span-{sp.span_id}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield counts
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"perfbench-span-{parent.span_id}", parent.name)
                else:
                    sc._jsc.clearJobGroup()
                sp.spark = self._task_metrics(group, sp.duration)
                sp.overhead = time.perf_counter() - sp.end

    def _task_metrics(self, group: str, wall: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # The status store is fed asynchronously by the listener bus;
        # drain it so the span's last stage is counted.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(TASK_METRICS, 0.0)
        run_ms = gc_ms = 0
        empty_q = gw.new_array(gw.jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(
                sid, False, gw.jvm.java.util.ArrayList(), False, empty_q
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["tasks"] += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                gc_ms += st.jvmGcTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["executor_run_s"] = run_ms / 1000.0
        out["gc_s"] = gc_ms / 1000.0
        out["core_util"] = out["executor_run_s"] / (wall * self.cores) if wall > 0 else 0.0
        return out

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def write(self, path: str) -> None:
        """One JSON object per span, with its self time."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "name": s.name,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "request": s.request,
                    "start": s.start,
                    "end": s.end,
                    "duration_s": s.duration,
                    "self_s": self_time(s, self.children(s)),
                    "overhead_s": s.overhead,
                    "counts": s.counts,
                    "spark": s.spark,
                }
                f.write(json.dumps(rec) + "\n")
