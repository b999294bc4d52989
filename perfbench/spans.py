"""Span recorder for the traced benchmark run.

A span times one call the benchmark makes into a layer's public
function (a query builder, a collect, ``Warehouse.upsert``,
``free_session_caches``, ...). Leaf spans run their call under a Spark
job group of their own, so the jobs, stages and task counters the call
caused can be read back from Spark's status store afterwards. Spans are
kept in memory and written out once, when the run ends.

Spans are recorded at the benchmark's own call sites only; nothing
inside the engine is instrumented.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024

#: Stage counters summed over every job a span ran.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "output_mb",
    "output_rows",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer only runs the
    wrapped code, so untraced cycles pay nothing."""

    def __init__(self):
        self.spark = None  # set once the session exists
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, leaf=True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, op, parent, 0.0)
        self.spans.append(s)
        sc = self.spark.sparkContext if (leaf and self.spark) else None
        if sc is not None:
            s.group = f"perfbench-span-{s.id}"
            sc.setJobGroup(s.group, f"{name} {op or ''}".strip())
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc._jsc.clearJobGroup()

    def collect_counters(self) -> None:
        """Fill ``counters`` of every leaf span not read yet from the
        status store. Call it outside timed spans: it waits for the
        listener bus so that the store has seen every finished job."""
        pending = [s for s in self.spans if s.group and not s.counters]
        if not pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for s in pending:
            s.counters = stage_counters(store, tracker.getJobIdsForGroup(s.group))


def stage_counters(store, job_ids) -> dict:
    """Sum the status store's stage data over ``job_ids``. Stages a job
    skipped (shuffle output reused) did no work and are not counted."""
    c = dict.fromkeys(COUNTERS, 0.0)
    c["jobs"] = float(len(job_ids))
    for j in job_ids:
        ids = store.job(j).stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # py4j wraps the store's NoSuchElementException
                continue
            if str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["task_s"] += st.executorRunTime() / 1000.0
            c["gc_s"] += st.jvmGcTime() / 1000.0
            c["input_mb"] += st.inputBytes() / MB
            c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            c["spill_mb"] += st.diskBytesSpilled() / MB
            c["output_mb"] += st.outputBytes() / MB
            c["output_rows"] += st.outputRecords()
    return c


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s.id] = s.seconds - covered
    return out
