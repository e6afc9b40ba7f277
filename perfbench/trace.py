"""In-memory spans around the benchmark's calls into the engine's modules.

A span records (name, start, end, parent, run id). Spans stay in memory
and are written out once, when the run ends. A disabled tracer records
nothing and costs one attribute check per call site, so untraced runs
measure the engine, not the tracer.
"""

from __future__ import annotations

import json
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` (overlaps counted once)."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[s.parent].append((lo, hi))
    return {
        s.span_id: s.duration - covered_length(children[s.span_id])
        for s in spans
    }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(span_id, name, start, end, parent, self.run_id))

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.span_id]
        return dict(out)

    def total_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.duration
        return dict(out)

    def root_coverage(self) -> list[float]:
        """For every root span with children: the share of its wall time
        that its child (layer) spans cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        return [
            covered_length(kids[s.span_id]) / s.duration
            for s in self.spans
            if s.parent is None and kids[s.span_id] and s.duration > 0
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
