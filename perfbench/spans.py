"""Spans kept in memory, and the self-time arithmetic over them.

A span is one interval at one layer boundary: a pass, a query, a
builder call, a plan build, an action, a wrapped layer call, a Spark
job or a streaming micro-batch. Spans of one query share its query id.
Spans recorded around benchmark calls nest through a stack; spans read
back from Spark afterwards (jobs, batches) are attached to the
innermost recorded span that contains their start.

A layer's self time is the duration of each of its spans minus the
part of that interval its child spans cover, summed over the layer.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    qid: str = ""
    span_id: int = 0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer name, in seconds."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.span_id]]
        )
        out[s.name] += s.duration - covered
    return dict(out)


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans of layer ``name`` that have no ancestor of the same layer,
    so nested calls into one layer are counted once."""
    by_id = {s.span_id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    return [s for s in spans if s.name == name and not nested(s)]


def within(spans: list[Span], outer: list[Span]) -> list[Span]:
    """Spans whose start falls inside any of the ``outer`` intervals."""
    return [s for s in spans if any(o.start <= s.start <= o.end for o in outer)]


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    costs one branch per boundary."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.qid = ""
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(layer, time.time(), 0.0, self.qid, next(self._ids), parent, attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def attach(self, name: str, start: float, end: float, **attrs) -> Span:
        """Add a span measured elsewhere (a Spark job, a micro-batch).
        Its parent is the innermost span containing its start: among
        candidates, the one that started last (ties: the shorter). Spans
        of the same layer are never parents, so overlapping Spark jobs
        stay siblings."""
        best = None
        for c in self.spans:
            if c.name != name and c.start <= start <= c.end and (
                best is None
                or c.start > best.start
                or (c.start == best.start and c.duration < best.duration)
            ):
                best = c
        s = Span(
            name,
            start,
            end,
            best.qid if best else "",
            next(self._ids),
            best.span_id if best else None,
            attrs,
        )
        self.spans.append(s)
        return s
