"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics
from typing import Sequence

TAIL_MIN_ABOVE = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_above(n: int, p: float) -> int:
    """How many of n samples rank above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int, min_above: int = TAIL_MIN_ABOVE) -> int | None:
    """The highest whole percentile (50..99) that leaves at least
    ``min_above`` of n samples above it; None when even p50 does not."""
    for p in range(99, 49, -1):
        if samples_above(n, p) >= min_above:
            return p
    return None


def late_over_early(values: Sequence[float]) -> float:
    """p50 of the last quarter of a sequence over p50 of its first quarter
    (drift within a run; 1.0 means none)."""
    q = max(1, len(values) // 4)
    return statistics.median(values[-q:]) / statistics.median(values[:q])


def slope(xs: Sequence[float], ys: Sequence[float]) -> float:
    """Least-squares slope of ys on xs; 0.0 when xs do not vary."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
