"""Spans, their self times, and the tail rule the benchmark reports.

A span is one timed call into the engine: name, start, end, parent
span and run id. Spans are kept in memory and written out once, when
the run ends. A layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body.

    Parents are tracked per thread, so spans opened from a stream's
    sink callback thread nest under each other and not under whatever
    the main thread has open.
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = Span(sid, name, time.perf_counter(), math.nan,
                       stack[-1] if stack else None, self.run_id)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds.

    Children of one span may overlap each other (a stream callback
    runs while the main thread waits), so the covered part of the
    parent's interval is the union of its children's intervals,
    clipped to the parent.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns (value, percentile, sample count). With n sorted samples,
    the value at index n - 1 - beyond has exactly ``beyond`` samples
    beyond it. Too few samples for that give the maximum, reported as
    percentile 100 so the reader sees the rule could not be met.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    idx = n - 1 - beyond
    return xs[idx], 100.0 * (idx + 1) / n, n
