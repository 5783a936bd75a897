"""Spans, counters and the summary statistics the benchmark reports.

A span is one timed interval at a boundary the benchmark crosses
(workload -> pass -> query -> build -> load_table, and exec beside build).
Spans live in memory and are written out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Percentiles a tail may be reported at, highest first. Below p90 a
# percentile says nothing about the tail, so none lower is offered.
TAIL_LADDER = (99.99, 99.9, 99.0, 95.0, 90.0)
MIN_BEYOND = 10


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
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans. Spans are cheap and always kept; the costly
    per-layer reads around them happen only in a traced run."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, /, **attrs):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def record(self, name: str, start: float, end: float, /, **attrs) -> Span:
        """Add an interval timed elsewhere (e.g. by Spark) as a child of the
        current span."""
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, start, end, attrs)
        self.spans.append(s)
        return s

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, with its self time, and ``extra`` as JSON."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        spans = [{**asdict(s), "self_s": self_time(s, children.get(s.id, []))} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval its children cover
    (overlapping children are counted once; parts outside the span are
    ignored)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end if c.end is not None else c.start, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float], passes: list[list[float]] | None = None) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    above it, as ``(pct, value, samples_beyond)``. With fewer than 100
    samples not even p90 qualifies; the tail is then the slowest sample,
    reported as percentile 100 with 0 samples beyond. When ``passes``
    splits the samples into passes, that is the median over the passes of
    each pass's slowest sample, so one slow call does not make the tail."""
    n = len(values)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return pct, percentile(values, pct), n - rank
    if passes:
        return 100.0, median([max(p) for p in passes]), 0
    return 100.0, max(values), 0


def median(values: list[float]) -> float:
    return statistics.median(values)
