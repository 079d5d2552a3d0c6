"""Spans recorded from outside the library, and the self-time accounting
that turns them into per-layer numbers.

A span has a name, start, end, parent and op id. While a span is open,
Spark jobs run under the job group ``<op>/<span id>``, so each span's
stage metrics can be read back from the status REST API afterwards.
Layer spans come from wrapping the public functions of each library
module for the duration of one traced op (``Tracer.patched``); nothing
in the library is edited.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext for job groups; None in self-tests
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = ""

    def group(self, span: Span) -> str:
        return f"{span.op}/{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group(span), span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``(owner, attr, span_name[, after])`` targets with
        span-recording wrappers; ``owner`` is a module or a dict, and
        ``after(result)`` runs inside the span once the call returns.
        Restored on exit."""
        saved = []
        try:
            for owner, attr, name, *after in targets:
                get = owner.__getitem__ if isinstance(owner, dict) else functools.partial(getattr, owner)
                orig = get(attr)
                saved.append((owner, attr, orig))
                wrapped = self.wrap(orig, name, *after)
                if isinstance(owner, dict):
                    owner[attr] = wrapped
                else:
                    setattr(owner, attr, wrapped)
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                if isinstance(owner, dict):
                    owner[attr] = orig
                else:
                    setattr(owner, attr, orig)

    def of_op(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - _covered(kids.get(s.id, [])) for s in spans}


def self_by_name(spans: list[Span]) -> dict[str, float]:
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
    return out


def attribute(op_wall: float, self_s: dict[str, float], fused: str | None = None,
              cuts: dict[str, float] | None = None) -> dict[str, float]:
    """Split one op's wall time over layers.

    ``self_s`` holds the self time, by span name, of every span below
    the op's root span. The span named ``fused`` is a single Spark action
    that runs several layers at once; its self time is replaced by the
    layers' prefix-cut execution times in ``cuts`` (each already cut k
    minus cut k-1). Whatever the attributed parts do not cover -- the
    fused action's time beyond the cut estimates, and driver time in the
    root span outside every layer span -- is ``unattributed``, so the
    parts always sum to ``op_wall``.
    """
    parts = {k: v for k, v in self_s.items() if k != fused}
    for k, v in (cuts or {}).items():
        parts[k] = parts.get(k, 0.0) + v
    attributed = sum(parts.values())
    parts["unattributed"] = op_wall - attributed
    return parts
