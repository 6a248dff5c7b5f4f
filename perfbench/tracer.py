"""In-memory span tracer for the benchmark's own calls into each layer.

A span records a name, start, end, its parent span and the run id shared
by every span of one run. Spans stay in memory until :meth:`Tracer.dump`
writes them as JSON lines. A span's self time is its duration minus the
part of its interval covered by its child spans.

A disabled tracer (``Tracer(enabled=False)``) records nothing, so the
untraced end-to-end runs pay only one attribute check per layer call.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent_id is not None:
            children.setdefault(sp.parent_id, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        kids = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in children.get(sp.span_id, [])
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.span_id] = (sp.end - sp.start) - covered(kids)
    return out


class Tracer:
    def __init__(self, enabled: bool, run_id: str | None = None, clock=time.perf_counter):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._clock = clock

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(span_id, parent, name, self._clock(), 0.0, self.run_id)
        self.spans.append(sp)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = self._clock()

    @contextlib.contextmanager
    def paused(self):
        """Record no spans inside the block."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + st[sp.span_id]
        return out

    def self_over_wall(self) -> float:
        """Sum of all self times over the wall time the spans cover
        (at most 1.0 when spans nest properly)."""
        if not self.spans:
            return 0.0
        wall = max(s.end for s in self.spans) - min(s.start for s in self.spans)
        return sum(self_times(self.spans).values()) / wall if wall > 0 else 0.0

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self_s": st[sp.span_id]}) + "\n")
