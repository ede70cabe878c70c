"""In-memory spans for the traced run.

A span is (name, start, end, parent, op).  ``op`` groups the spans of
one benchmark operation (one query, one micro-batch); the root span of
an operation has ``parent is None``.  Spans stay in memory and are
written once, by ``flush``, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one operation."""
        prev = self._op
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float,
            parent: int | None, op: str) -> int:
        """Record a span measured elsewhere (e.g. a streaming progress
        report); returns its id for use as a parent."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    def flush(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids[s.sid]]
        out[s.sid] = s.dur - covered([c for c in clipped if c[1] > c[0]])
    return out


def layer_of(name: str) -> str:
    """Layer = the span name up to its first dot (``catalyst.optimize``
    → ``catalyst``)."""
    return name.split(".", 1)[0]


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Self time per layer summed over all non-root spans, in ms."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            out[layer_of(s.name)] += st[s.sid] * 1000.0
    return dict(out)


def unaccounted_frac(spans: list[Span]) -> float:
    """Share of the operations' root wall time that no child span
    covers, over all operations."""
    st = self_times(spans)
    roots = [s for s in spans if s.parent is None]
    wall = sum(s.dur for s in roots)
    if wall <= 0:
        return 0.0
    return sum(st[s.sid] for s in roots) / wall
