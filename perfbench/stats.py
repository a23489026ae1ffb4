"""Arithmetic the benchmark reports: interval unions,
percentiles with a sample-count rule, and run-to-run spread."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi].

    Overlapping and nested intervals count once; empty or inverted ones
    (end <= start after clipping) count zero.
    """
    spans = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            spans.append((start, end))
    spans.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in spans:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def gap_length(window: tuple[float, float],
               busy: Iterable[tuple[float, float]]) -> float:
    """Part of ``window`` that no ``busy`` interval covers."""
    lo, hi = window
    return max(hi - lo, 0.0) - union_length(busy, lo, hi)


def median_least_disturbed(values: Sequence[float], disturbance: Sequence[float],
                           floor: float = 0.0) -> float:
    """Median of ``values`` over the samples whose ``disturbance`` is at
    most the median disturbance or ``floor``, whichever is larger: the
    less disturbed half, or all of them when none was disturbed by more
    than ``floor``."""
    cut = max(statistics.median(disturbance), floor)
    return statistics.median(v for v, d in zip(values, disturbance) if d <= cut)


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method of
    ``statistics.quantiles``): p0 is the minimum, p100 the maximum."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= pct <= 100:
        raise ValueError(f"percentile out of range: {pct}")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100
    i = math.floor(pos)
    if i + 1 >= len(xs):
        return float(xs[-1])
    return xs[i] + (xs[i + 1] - xs[i]) * (pos - i)


def samples_beyond(n: int, pct: float) -> float:
    """How many of ``n`` samples lie above the ``pct`` percentile."""
    # rounded: 100 - 99.9 is not exactly 0.1 in binary floating point
    return round(n * (100 - pct) / 100, 9)


def supported_percentile(n: int, min_beyond: int = 10,
                         candidates: Sequence[float] = (99.9, 99, 95, 90, 75, 50)) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of the
    ``n`` samples above it, or None when even the median has fewer."""
    for pct in candidates:
        if samples_beyond(n, pct) >= min_beyond:
            return pct
    return None


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, the quartiles as ``statistics.quantiles(n=4)``
    gives them. Zero when the median is zero and the quartiles agree."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(q2)
