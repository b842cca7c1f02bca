"""Outside-in tracer: spans around the program's public layer methods.

Nothing here edits the program.  :meth:`Tracer.installed` swaps wrappers
onto the layer methods for the duration of one traced operation and
puts the originals back on exit:

- ``operators.packed.PackedMatrix``: ``pack`` / ``pack_parquet``
  (``packed.pack``), ``dims_count_hist2d`` / ``dims_and_count``
  (``packed.stats``), ``rebalance``, ``relevances``,
  ``hist3d_mi_cmi_multi`` (``packed.loop_pass``);
- ``functions.infotheory.mi_and_cmi``: calls made on the driver are
  counted and timed on the enclosing span (one span per call would
  cost more than the call);
- ``selector.InfoThSelector.fit`` and ``discretizer.EqualFrequencyDiscretizer.fit``.

Every span runs its Spark jobs under its own job group, so after the
operation the jobs, stages and tasks each span launched are read back
from ``statusTracker`` — measured, not estimated.  Spans nest through a
stack (fit -> pack/stats/pass) and all spans of one operation share its
``op_id``.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager, nullcontext

# The tracer whose span stack receives driver-side mi_and_cmi counts.
# Module-level so the wrapper below pickles BY REFERENCE: if a closure
# ships it to an executor, the executor's fresh import sees None and the
# wrapper is a plain pass-through to the original.
_ACTIVE = None


def traced_mi_and_cmi(*args, **kwargs):
    from flink_infotheoretic_feature_selection_spark.functions import infotheory

    tracer = _ACTIVE
    if tracer is None:
        original = getattr(infotheory, "_perfbench_original", infotheory.mi_and_cmi)
        return original(*args, **kwargs)
    t0 = time.perf_counter()
    try:
        return tracer.original_mi_and_cmi(*args, **kwargs)
    finally:
        span = tracer.stack[-1]
        span.mi_cmi_calls += 1
        span.mi_cmi_s += time.perf_counter() - t0


class Span:
    __slots__ = (
        "sid", "name", "op_id", "parent", "t0", "t1", "attrs",
        "group", "jobs", "stages", "tasks", "max_stages_per_job",
        "mi_cmi_calls", "mi_cmi_s",
    )

    def __init__(self, sid, name, op_id, parent, attrs):
        self.sid, self.name, self.op_id, self.parent = sid, name, op_id, parent
        self.attrs = attrs
        self.group = f"perfbench-op{op_id}-span{sid}"
        self.t0 = self.t1 = 0.0
        self.jobs = self.stages = self.tasks = self.max_stages_per_job = 0
        self.mi_cmi_calls = 0
        self.mi_cmi_s = 0.0

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """The untraced run's tracer: spans cost one ``nullcontext``."""

    def span(self, name, **attrs):
        return nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op_id = 0
        self.original_mi_and_cmi = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name, **attrs):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, self.op_id, parent, attrs)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def operation(self):
        """One traced operation: a root ``op`` span; Spark counts are read
        back after it ends, once the listener bus has drained."""
        self.op_id += 1
        first = len(self.spans)
        with self.span("op") as root:
            yield root
        self._read_counts(self.spans[first:])

    def _read_counts(self, spans):
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        for s in spans:
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                ran = 0
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    # a skipped stage (shuffle output reused) never
                    # submits tasks; count only stages that ran
                    if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                        ran += 1
                        s.tasks += st.numTasks
                s.jobs += 1
                s.stages += ran
                s.max_stages_per_job = max(s.max_stages_per_job, ran)

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, fn, name, attrs_of=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    @contextmanager
    def installed(self):
        """Wrap the layer methods; restore the originals on exit."""
        global _ACTIVE
        from flink_infotheoretic_feature_selection_spark import discretizer, selector
        from flink_infotheoretic_feature_selection_spark.functions import infotheory
        from flink_infotheoretic_feature_selection_spark.operators import packed

        pm = packed.PackedMatrix
        plan = [
            (pm, "pack", "packed.pack", classmethod, None),
            (pm, "pack_parquet", "packed.pack", classmethod, None),
            (pm, "dims_count_hist2d", "packed.stats", None, None),
            (pm, "dims_and_count", "packed.stats", None, None),
            (pm, "rebalance", "packed.rebalance", None, None),
            (pm, "relevances", "packed.relevances", None, None),
            (pm, "hist3d_mi_cmi_multi", "packed.loop_pass", None,
             lambda a, k: {"conds": len(a[2] if len(a) > 2 else k["y_cols"])}),
            (selector.InfoThSelector, "fit", "selector.fit", None, None),
            (discretizer.EqualFrequencyDiscretizer, "fit", "discretizer.fit", None, None),
        ]
        saved = []
        for owner, attr, name, kind, attrs_of in plan:
            raw = owner.__dict__[attr]
            saved.append((owner, attr, raw))
            fn = raw.__func__ if kind is classmethod else raw
            wrapped = self._wrap(fn, name, attrs_of)
            setattr(owner, attr, classmethod(wrapped) if kind is classmethod else wrapped)
        self.original_mi_and_cmi = infotheory.mi_and_cmi
        infotheory._perfbench_original = infotheory.mi_and_cmi
        infotheory.mi_and_cmi = traced_mi_and_cmi
        _ACTIVE = self
        try:
            yield self
        finally:
            _ACTIVE = None
            infotheory.mi_and_cmi = self.original_mi_and_cmi
            del infotheory._perfbench_original
            for owner, attr, raw in saved:
                setattr(owner, attr, raw)


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    ivs = sorted((max(c.t0, span.t0), min(c.t1, span.t1)) for c in children)
    covered, end = 0.0, span.t0
    for lo, hi in ivs:
        lo = max(lo, end)
        if hi > lo:
            covered += hi - lo
            end = hi
    return span.duration - covered


def check_spans(spans, root) -> bool:
    """Tracer hygiene for one operation: one op id; every span nests in
    its parent's interval; siblings do not overlap; and for every fit,
    direct children + self time = fit time."""
    if any(s.op_id != root.op_id for s in spans):
        return False
    for s in spans:
        if s.parent is not None and not (s.parent.t0 <= s.t0 <= s.t1 <= s.parent.t1):
            return False
    for s in spans:
        kids = sorted((c for c in spans if c.parent is s), key=lambda c: c.t0)
        if any(a.t1 > b.t0 for a, b in zip(kids, kids[1:])):
            return False
        if s.name == "selector.fit":
            total = sum(c.duration for c in kids) + self_time(s, kids)
            if abs(total - s.duration) > 1e-9:
                return False
    return True


# counts that must repeat exactly across traced runs on one seed
COUNTS = (
    "packed.loop_passes", "packed.loop_conds_scored", "packed.loop_shuffle_passes",
    "spark.jobs", "spark.stages", "spark.tasks",
)


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    return "ratio" if metric.endswith("_yield") else "count"


def op_metrics(spans: list[Span], k: int) -> dict[str, float]:
    """Per-layer metrics of ONE traced operation (its spans only)."""
    def total(name):
        return sum(s.duration for s in spans if s.name == name)

    def count(name):
        return sum(1 for s in spans if s.name == name)

    passes = [s for s in spans if s.name == "packed.loop_pass"]
    conds = sum(s.attrs.get("conds", 0) for s in passes)
    fits = [s for s in spans if s.name == "selector.fit"]
    fit_self = sum(self_time(f, [c for c in spans if c.parent is f]) for f in fits)
    return {
        "packed.pack_s": total("packed.pack"),
        "packed.stats_s": total("packed.stats"),
        "packed.rebalance_s": total("packed.rebalance"),
        "packed.rebalance_calls": count("packed.rebalance"),
        "packed.relevances_s": total("packed.relevances"),
        "packed.loop_pass_s": total("packed.loop_pass"),
        "packed.loop_passes": len(passes),
        "packed.loop_conds_scored": conds,
        "packed.loop_spec_yield": (k - 1) / conds if conds else 0.0,
        "packed.loop_shuffle_passes": sum(1 for s in passes if s.max_stages_per_job > 1),
        "infotheory.mi_cmi_driver_s": sum(s.mi_cmi_s for s in spans),
        "infotheory.mi_cmi_driver_calls": sum(s.mi_cmi_calls for s in spans),
        "selector.fit_s": total("selector.fit"),
        "selector.self_s": fit_self,
        "selector.transform_s": total("selector.transform"),
        "discretizer.fit_s": total("discretizer.fit"),
        "discretizer.transform_s": total("discretizer.transform"),
        "spark.jobs": sum(s.jobs for s in spans),
        "spark.stages": sum(s.stages for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
    }


def span_counts(spans: list[Span]) -> dict[str, dict[str, int]]:
    """Jobs / stages / tasks per span name — the per-span breakdown."""
    out: dict[str, dict[str, int]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"spans": 0, "jobs": 0, "stages": 0, "tasks": 0})
        row["spans"] += 1
        row["jobs"] += s.jobs
        row["stages"] += s.stages
        row["tasks"] += s.tasks
    return out
