"""In-memory spans recorded by the benchmark around its calls into the program."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    op: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans (epoch seconds, the clock of Spark's progress events);
    with ``enabled=False`` every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name, start, end, parent=None, op=None) -> int | None:
        if not self.enabled:
            return None
        span = Span(len(self.spans), name, start, end, parent, op)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the block as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.time(), 0.0, parent, op)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span.id
        finally:
            self._stack.pop()
            span.end = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    children cover (children clipped to the parent, overlaps counted once)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - covered(kids)
    return out


def self_time_by_name(spans) -> dict[str, float]:
    """Self time summed per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out
