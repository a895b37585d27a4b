"""Span recorder for the traced run.

The traced run wraps the layer functions *as bound in*
``streaming.jobs`` (and ``operators.response.make_response_envelope``,
which ``response_cycle`` imports at call time) with span recorders, so the
engine's source stays untouched.  Each span gets its own Spark job group,
which lets ``statusTracker`` attribute jobs and tasks to the span that
launched them.  Spans stay in memory until the run ends, which writes
them out with :meth:`Tracer.write`.

Row counts come from the queue database, read between spans; the time
those reads take is booked as probe time and excluded from every span's
self time.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

#: (module attribute, layer name) pairs wrapped in ``streaming.jobs``.
JOBS_LAYERS = {
    "poll_async_inv_in": "sources.dbapi.poll",
    "poll_async_inv_out": "sources.dbapi.poll",
    "claim_retry_batch": "sources.dbapi.claim",
    "parse_request_packets": "operators.request",
    "transform_retry_records": "operators.request",
    "transform_response_retry_records": "operators.response",
    "process_response_batch": "operators.response",
    "write_invoice_records": "sinks.dbapi.write_invoice_records",
    "write_retry_emissions": "sinks.dbapi.write_retry_emissions",
    "write_log_and_delete": "sinks.dbapi.write_log_and_delete",
}


@dataclass
class Span:
    name: str
    parent: int | None
    op: int
    group: str = ""
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0
    probe_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s - self.probe_s


class Tracer:
    """Records spans for one traced measurement phase."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = 0
        self._run = f"trace-{time.monotonic_ns()}"

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, parent, self.op, group=f"{self._run}-{idx}")
        self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        self.stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            t0 = time.perf_counter()
            self._count_jobs(sp)
            if parent is not None:
                p = self.spans[parent]
                p.child_s += sp.end - sp.start
                p.probe_s += time.perf_counter() - t0
                self.sc.setJobGroup(p.group, p.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count_jobs(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(sp.group):
            sp.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage:
                    sp.tasks += stage.numCompletedTasks

    @contextlib.contextmanager
    def probe(self):
        """Book the enclosed work (row-count reads) as tracing cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.stack:
                self.spans[self.stack[-1]].probe_s += time.perf_counter() - t0

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, self_s, jobs, tasks and summed counts."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})
            agg["calls"] += 1
            agg["self_s"] += sp.self_s
            agg["jobs"] += sp.jobs
            agg["tasks"] += sp.tasks
            for k, v in sp.counts.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def total_jobs(self) -> int:
        return sum(sp.jobs for sp in self.spans)

    def write(self, path: str) -> None:
        """Write every span as one JSON line: its fields plus ``self_s``."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self_s": sp.self_s}) + "\n")


def _wrap(tracer: Tracer, name: str, fn, before=None, after=None):
    def traced(*args, **kwargs):
        state = None
        if before is not None:
            with tracer.probe():
                state = before(*args, **kwargs)
        with tracer.span(name) as sp:
            result = fn(*args, **kwargs)
        if after is not None:
            with tracer.probe():
                sp.counts.update(after(state, result))
        return result

    traced.__wrapped__ = fn
    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer, counters: dict):
    """Patch the layer functions seen by ``streaming.jobs`` for the duration
    of the block.  ``counters`` maps a ``streaming.jobs`` attribute to a
    ``(before, after)`` pair of row-count probes (either may be None):
    ``before`` gets the call's arguments, ``after`` gets what ``before``
    returned and the call's result, and returns counts for the span."""
    from flink_invoice_processor_spark.operators import response
    from flink_invoice_processor_spark.streaming import jobs

    patched = [(jobs, attr, layer) for attr, layer in JOBS_LAYERS.items()]
    patched.append((response, "make_response_envelope", "operators.response"))
    saved = []
    try:
        for mod, attr, layer in patched:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            before, after = counters.get(attr, (None, None))
            setattr(mod, attr, _wrap(tracer, layer, fn, before, after))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
