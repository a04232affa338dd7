"""Pure arithmetic for the benchmark: percentiles, the tail-sample rule
and span self times. No Spark, no I/O — unit-tested in
``test_perfbench.py``."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

#: A percentile is reported only when at least this many samples lie
#: beyond it (choosing-metrics guide, section 1).
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values: Sequence[float], q: float) -> float | None:
    """The ``q`` percentile, or ``None`` when fewer than
    :data:`MIN_BEYOND` samples lie beyond it."""
    if beyond(len(values), q) < MIN_BEYOND:
        return None
    return percentile(values, q)


def median(values: Sequence[float]) -> float:
    """Middle value; the mean of the two middle values for even counts."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def lower_quartile(values: Sequence[float]) -> float:
    """First quartile as ``statistics.quantiles(values, n=4)`` gives it."""
    if len(values) < 2:
        raise ValueError("lower quartile needs two samples")
    return statistics.quantiles(values, n=4)[0]


@dataclass(frozen=True)
class Span:
    """One timed call: ``parent`` is the id of the span that was open
    when this one started (``None`` at the top)."""

    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children
    cover. Children of one span never overlap (one driver thread), so
    the covered time is the sum of their durations."""
    spans = list(spans)
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.duration
    return {s.id: s.duration - child_time[s.id] for s in spans}


def self_time_by_name(spans: Iterable[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    spans = list(spans)
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += own[s.id]
    return dict(out)
