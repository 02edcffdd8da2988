"""In-memory spans: run > workload > pass > query > build/action, plus
stream micro-batches under the query that ran them."""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    kind: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} is still open")
        return self.end - self.start


class Recorder:
    """Collects spans of one run; every span shares the run's trace id."""

    def __init__(self, trace_id: str, clock=time.perf_counter):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), parent, name, kind, self._clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()

    def add(self, name: str, kind: str, start: float, end: float,
            parent_id: int | None, **attrs) -> Span:
        """Record a finished span measured elsewhere (stream batches)."""
        s = Span(next(self._ids), parent_id, name, kind, start, end, attrs)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def to_json(self) -> dict:
        return {"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans]}


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover.

    Children may overlap each other or stick out of the parent (stream
    batches timed by another clock); only the covered part of the
    parent's own interval is subtracted, once."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered
