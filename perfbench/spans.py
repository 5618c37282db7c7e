"""In-memory spans and Spark scheduler counts for the traced run.

A span is recorded around each call the benchmark makes into one of the
package's layers (``session``, ``datagen``, ``workload``, ``sources``,
``operators``, ``maintenance``, ``dedup``, ``similarity``); ``indexio``
is observed through its file counts. The layer is the span name's
prefix before the first dot. Spans stay in
memory and are written out once, when the run ends.

With tracing off every method is a no-op, so the untraced run pays
nothing for the hooks.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: int | None
    start: float
    end: float


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # seconds spent inside the tracer's own bookkeeping (scheduler
        # queries, scan-metric capture, file counts)
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._next_id = 0
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, parent, op_id, start, end))

    @contextmanager
    def overhead(self):
        """Time a block of tracing-only work (counted as overhead)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    def durations_ms(self, name: str, since: float = 0.0) -> list[float]:
        return [
            (s.end - s.start) * 1000
            for s in self.spans
            if s.name == name and s.start >= since
        ]

    def self_time_s(self, since: float = 0.0) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of
        its interval that its child spans cover. Only spans starting at
        or after ``since`` count."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.start < since:
                continue
            covered, reach = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


class SchedulerCounts:
    """Jobs, stages and tasks Spark ran for each op, from the status
    tracker.

    Ops of a multi-client workload run under one job group each. Job
    groups do not follow jobs into the driver-side thread pools some
    index verbs use (``indexio.overlap_jobs``), so the ops of a
    single-client workload are counted by job-id range instead: every
    job started between the op's start and end belongs to it.
    """

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.per_op: list[tuple[int, int, int]] = []

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def op(self, op_id: int, grouped: bool):
        if not self.tracer.enabled:
            yield
            return
        group = f"perfbench-op-{op_id}"
        with self.tracer.overhead():
            if grouped:
                self.sc.setJobGroup(group, group)
            else:
                first = self._next_job_id()
        try:
            yield
        finally:
            with self.tracer.overhead():
                st = self.sc.statusTracker()
                if grouped:
                    jobs = list(st.getJobIdsForGroup(group))
                    self.sc.setJobGroup("perfbench-other", "perfbench-other")
                else:
                    jobs = list(range(first, self._next_job_id()))
                stages = tasks = 0
                for j in jobs:
                    info = st.getJobInfo(j)
                    for sid in info.stageIds if info else ():
                        si = st.getStageInfo(sid)
                        # a stage whose shuffle output was reused is
                        # skipped: it completes no tasks
                        if si is not None and si.numCompletedTasks > 0:
                            stages += 1
                            tasks += si.numCompletedTasks
                with self.tracer._lock:
                    self.per_op.append((len(jobs), stages, tasks))

    def means(self) -> dict[str, float]:
        n = len(self.per_op)
        if not n:
            return {"spark.jobs_per_op": 0.0, "spark.stages_per_op": 0.0,
                    "spark.tasks_per_op": 0.0}
        return {
            "spark.jobs_per_op": sum(p[0] for p in self.per_op) / n,
            "spark.stages_per_op": sum(p[1] for p in self.per_op) / n,
            "spark.tasks_per_op": sum(p[2] for p in self.per_op) / n,
        }
