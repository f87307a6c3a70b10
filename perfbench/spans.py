"""In-memory span tracer for the traced benchmark runs.

A span records a name, start, end, parent and free-form attributes.
Spans are opened around calls into the program's layers, either by the
workload code directly or by wrappers that :meth:`Tracer.wrap` installs
on the name *where each caller binds it*: every ``queries/*`` module
does ``from ..sources.readers import table``, so patching
``readers.table`` alone would catch nothing.  Time the tracer spends on
its own stage-metric snapshots and plan inspection is kept in
``trace.overhead`` spans so it can be subtracted and reported.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from dataclasses import dataclass, field

from common import stage_snapshot

OVERHEAD = "trace.overhead"
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    # --- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Open a span; with ``jobs`` the Spark jobs launched directly
        inside it (not inside a nested ``jobs`` span) are counted."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        if jobs:
            group = f"trace-{s.id}"
            self._groups.append(group)
            sc.setLocalProperty(_GROUP, group)
        try:
            yield s
        finally:
            if jobs:
                self._groups.pop()
                sc.setLocalProperty(_GROUP, self._groups[-1] if self._groups else None)
                s.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            s.end = time.perf_counter()
            self._stack.pop()

    def overhead(self):
        return self.span(OVERHEAD)

    def snapshot(self):
        """Settled stage snapshot, charged to tracing overhead."""
        with self.overhead():
            return stage_snapshot(self.spark)

    # --- wrappers -------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, jobs: bool = False,
             after=None) -> None:
        """Trace every call of ``owner.attr`` under span ``name``.

        The wrapper replaces the function on ``owner`` and on every
        module of the package that bound the same object under any
        name.  ``after(span, args, kwargs, result)`` may add attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as s:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs, out)
                return out

        pkg = owner.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(pkg):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Bind ``owner.attr`` to ``new`` until :meth:`unwrap`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches.clear()

    # --- analysis -------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_times(self, root: Span) -> dict[int, float]:
        kids = self.children()
        return {s.id: s.duration - sum(c.duration for c in kids.get(s.id, []))
                for s in self.subtree(root)}

    def busy(self, span: Span) -> float:
        """Duration minus the tracer's own overhead inside it."""
        return span.duration - sum(s.duration for s in self.subtree(span)
                                   if s.name == OVERHEAD and s is not span)

    def reconcile(self, root: Span, tolerance: float = 0.001) -> dict:
        """Blocking spans run one at a time, so the self times of a
        pass's subtree must add up to the pass's wall time.  A span that
        outlived its parent or overlapped a sibling breaks the sum."""
        selfs = self.self_times(root)
        err = abs(sum(selfs.values()) - root.duration)
        overhead = sum(v for k, v in selfs.items()
                       if self.spans[k].name == OVERHEAD)
        return {
            "pass_s": root.duration,
            "sum_self_s": sum(selfs.values()),
            "abs_err_s": err,
            "tolerance_s": tolerance * root.duration,
            "ok": err <= tolerance * root.duration,
            "unattributed_s": selfs[root.id],
            "overhead_s": overhead,
        }

    def self_by_name(self, root: Span) -> dict[str, float]:
        out: dict[str, float] = {}
        for sid, v in self.self_times(root).items():
            out[self.spans[sid].name] = out.get(self.spans[sid].name, 0.0) + v
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "attrs": s.attrs}
                for s in self.spans]
