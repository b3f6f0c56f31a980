"""Pure helpers for the benchmark's own arithmetic: percentiles, the tail
rule, the geometric mean, safe ratios, interval unions and span
self-time. No Spark here, so
``perfbench/test_stats.py`` covers all of it."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

#: percentiles the tail rule may pick, highest last
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default rule), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geometric_mean(values: Sequence[float]) -> float:
    """exp(mean(log x)) of positive values: every value weighs the same
    whatever its size."""
    if not values or min(values) <= 0.0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(math.fsum(math.log(x) for x in values) / len(values))


def tail_percentile(n: int, min_beyond: int = 10,
                    grid: Sequence[float] = TAIL_GRID) -> float | None:
    """Highest grid percentile with at least *min_beyond* of *n* samples
    strictly above its rank; None when even the lowest has too few."""
    best = None
    for q in grid:
        if n * (100.0 - q) / 100.0 >= min_beyond - 1e-9:
            best = q
    return best


def ratio(num: float, den: float) -> float:
    """num / den, 0.0 when den is 0 (an unexercised layer reads 0)."""
    return num / den if den else 0.0


def union_length(intervals: Iterable[tuple[float, float]],
                 lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by *intervals*, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float,
              children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)
