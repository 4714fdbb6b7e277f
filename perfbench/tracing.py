"""Spans and Spark counters recorded around the benchmark's own calls.

A :class:`Tracer` keeps spans in memory (name, layer, start, end, parent
span, request id) and, when it holds a SparkSession, tags every span
with its own Spark job group.  When the span ends it reads the jobs of
that group back from Spark's status store (which is kept with
``spark.ui.enabled=false`` too): jobs, stages, tasks, shuffle bytes,
spill, executor run and CPU time and GC time.  Jobs of a nested span
count for the innermost span only; :func:`layer_totals` adds them up.

Nothing here runs inside the program; spans sit at the layer boundaries
the benchmark calls (``Engine.sql``, ``csv_sql``, ``QuerySpec.run``,
sink writes, stream start and drain).
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "executor_run_ms", "executor_cpu_ms",
    "gc_ms",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    request_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def stage_counters(spark, job_group: str) -> dict[str, float]:
    """Spark's own accounting for every job tagged ``job_group``.

    Waits for the listener bus to drain first, so stages that finished
    just before the call returned are already in the status store.
    Skipped stages (shuffle reuse) count neither as stages nor tasks.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(COUNTERS, 0.0)
    for job_id in tracker.getJobIdsForGroup(job_group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(
                stage_id, False, no_status, False, no_quantiles
            ).iterator()
            while attempts.hasNext():
                d = attempts.next()
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["shuffle_read_bytes"] += (
                    d.shuffleRemoteBytesRead() + d.shuffleLocalBytesRead()
                )
                out["spill_bytes"] += d.diskBytesSpilled()
                out["input_bytes"] += d.inputBytes()
                out["executor_run_ms"] += d.executorRunTime()
                out["executor_cpu_ms"] += d.executorCpuTime() / 1e6
                out["gc_ms"] += d.jvmGcTime()
    return out


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes :meth:`span` a
    no-op: no job groups, no counters, nothing kept.  Counters are read
    once ``spark`` is set."""

    def __init__(self, enabled: bool = True):
        self.spark = None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[tuple[str, str]] = []  # job groups of open spans
        self._ids = itertools.count(1)
        # time spent in the tracer's own bookkeeping (counter reads)
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, request_id: str = "",
             counters: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids), name=name, layer=layer,
            request_id=request_id or (parent.request_id if parent else ""),
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        use_counters = counters and self.spark is not None
        if use_counters:
            self._groups.append((group, name))
            self.spark.sparkContext.setJobGroup(group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if use_counters:
                t0 = time.perf_counter()
                sp.counters = stage_counters(self.spark, group)
                self._groups.pop()
                if self._groups:  # back to the enclosing span's group
                    self.spark.sparkContext.setJobGroup(*self._groups[-1], False)
                else:
                    self.spark.sparkContext._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - t0
            self.spans.append(sp)

    def add_counters(self, sp: Span | None, job_group: str) -> None:
        """Attach the counters of an externally named job group (a
        streaming query tags its jobs with its run id) to ``sp``."""
        if sp is None or self.spark is None:
            return
        t0 = time.perf_counter()
        extra = stage_counters(self.spark, job_group)
        for k, v in extra.items():
            sp.counters[k] = sp.counters.get(k, 0.0) + v
        self.overhead_s += time.perf_counter() - t0


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's wall minus the part of its
    interval that its children cover (children are sequential here, so
    their union is their sum, clipped to the parent)."""
    covered: dict[int, float] = defaultdict(float)
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            covered[p.span_id] += max(
                0.0, min(s.end, p.end) - max(s.start, p.start)
            )
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += max(0.0, s.wall - covered[s.span_id])
    return dict(out)


def nesting_violations(spans: list[Span], slack_s: float = 1e-3) -> list[str]:
    """Spans that do not fit inside their parent, or whose children
    together last longer than the parent."""
    by_id = {s.span_id: s for s in spans}
    child_sum: dict[int, float] = defaultdict(float)
    bad = []
    for s in spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            bad.append(f"{s.name}: parent {s.parent} missing")
            continue
        child_sum[p.span_id] += s.wall
        if s.start < p.start - slack_s or s.end > p.end + slack_s:
            bad.append(f"{s.name} outside {p.name}")
    for pid, total in child_sum.items():
        if total > by_id[pid].wall + slack_s:
            bad.append(f"children of {by_id[pid].name} exceed its wall")
    return bad


def layer_totals(spans: list[Span], layer_prefix: str) -> dict[str, float]:
    """Counters and wall summed over the spans of one layer (prefix
    match), children included: a layer owns the jobs its calls launch."""
    by_id = {s.span_id: s for s in spans}
    out = dict.fromkeys(COUNTERS, 0.0)
    out["wall_s"] = 0.0

    def in_layer(s: Span) -> bool:
        while s is not None:
            if s.layer.startswith(layer_prefix):
                return True
            s = by_id.get(s.parent) if s.parent is not None else None
        return False

    for s in spans:
        if not in_layer(s):
            continue
        for k, v in s.counters.items():
            out[k] += v
        parent = by_id.get(s.parent) if s.parent is not None else None
        if parent is None or not in_layer(parent):
            out["wall_s"] += s.wall
    return out
