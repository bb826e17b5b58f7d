"""Span tracing from outside the engine.

Spans are recorded around calls into the engine's public entry points:
the benchmark wraps those entry points while a traced run is active, and
restores them afterwards. Each span sets its own Spark job group, so every
job an action starts while the span is innermost is charged to it; at span
end the group's jobs, stages and tasks are read from
``SparkContext.statusTracker()``. Plans are lazy, so Spark work lands on
the span whose action forces it (``TransformRegistry.apply`` only builds a
plan).

Spans live in memory until the run ends. Untraced runs use
:class:`NullTracer`, whose spans cost one context-manager entry.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext(None)

    def set_op(self, op: str | None) -> None:
        pass

    def reset(self) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    enabled = True

    def reset(self) -> None:
        """Forget everything recorded so far (the warm-up pass)."""
        self.spans.clear()
        self.bookkeeping_s = 0.0

    def set_op(self, op: str | None) -> None:
        """Tag following spans with a batch / query / pass id."""
        self._op = op

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent, self._op, attrs=dict(attrs))
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        group = f"perfbench-{next(self._ids)}"
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, group)
        self._stack.append(idx)
        t1 = time.perf_counter()
        self.bookkeeping_s += t1 - t0
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev)
            self._charge(sp, group)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def add_group(self, sp: Span, group: str) -> None:
        """Charge the jobs of a streaming query to ``sp``: micro-batch jobs
        run on the query's own thread, tagged with its run id."""
        t0 = time.perf_counter()
        self._charge(sp, group)
        self.bookkeeping_s += time.perf_counter() - t0

    def _charge(self, sp: Span, group: str) -> None:
        """Add every job of Spark job group ``group`` to ``sp``."""
        for jid in self.st.getJobIdsForGroup(group):
            job = self.st.getJobInfo(jid)
            if job is None:
                continue
            sp.jobs += 1
            for sid in job.stageIds:
                stage = self.st.getStageInfo(sid)
                if stage is None:
                    continue
                ran = stage.numCompletedTasks + stage.numFailedTasks
                if ran:
                    sp.stages += 1
                sp.tasks += stage.numCompletedTasks
                sp.failed_tasks += stage.numFailedTasks

    def patch(self, owner, attr: str, name: str, describe=None) -> None:
        """Wrap ``owner.attr`` (a function or method) in a span;
        ``describe(args, kwargs)`` adds attributes from the call."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name) as sp:
                if describe is not None:
                    sp.attrs.update(describe(args, kwargs))
                try:
                    return orig(*args, **kwargs)
                except Exception as exc:
                    sp.attrs["error"] = type(exc).__name__
                    raise

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def self_time(self, sp: Span) -> float:
        """Duration minus the part covered by child spans (children of
        one span never overlap: one client thread)."""
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def inclusive(self, sp: Span, key: str) -> int:
        return getattr(sp, key) + sum(
            self.inclusive(self.spans[c], key) for c in sp.children
        )

    def named(self, *names: str) -> list[Span]:
        return [s for s in self.spans if s.name in names]



def install(tracer: Tracer) -> None:
    """Wrap the engine entry points each layer exposes (undone by
    ``tracer.restore()``)."""
    for name, (owner, attr, *describe) in engine_entry_points().items():
        tracer.patch(owner, attr, name, *describe)


def _load_type(args, kwargs) -> dict:
    """``ZoneStore.write(zone, dataset, df, load_type=FULL, ...)``"""
    lt = kwargs.get("load_type", args[4] if len(args) > 4 else None)
    return {"load_type": getattr(lt, "value", "full")}


def engine_entry_points() -> dict:
    """Span name -> (owner, attribute) for every layer the benchmark
    attributes time to."""
    from healthcare_data_lakehouse_spark import etl, lineage, quality, transforms, zones

    ZS = zones.ZoneStore
    LT = lineage.LineageTracker
    return {
        "zones.write": (ZS, "write", _load_type),
        "zones.merge_into": (ZS, "merge_into"),
        "zones.read": (ZS, "read"),
        "zones.read_pruned": (ZS, "read_pruned"),
        "zones.read_version": (ZS, "read_version"),
        "zones.read_changes": (ZS, "read_changes"),
        "zones.write_quarantine": (ZS, "write_quarantine"),
        "zones.compact": (ZS, "compact"),
        "zones.vacuum": (ZS, "vacuum"),
        "transforms.apply": (transforms.TransformRegistry, "apply"),
        "quality.validate": (quality.DataQualityValidator, "validate"),
        "etl.run_job": (etl.HealthcareETLManager, "run_job"),
        "etl.promote_zone": (etl.HealthcareETLManager, "promote_zone"),
        "lineage.register_asset": (LT, "register_asset"),
        "lineage.record_transformation": (LT, "record_transformation"),
        "lineage.export_for_audit": (LT, "export_for_audit"),
    }
