"""Summary statistics with the sample-size rule the benchmark reports by.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
above it, so a tail figure is never read off one or two samples.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or ``None`` when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    if not values or not 0 < q < 100:
        return None
    xs = sorted(values)
    rank = math.ceil(q / 100.0 * len(xs))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def highest_percentile(
    values: list[float], candidates: tuple[float, ...] = (99, 95, 90, 80, 75)
) -> tuple[float, float] | None:
    """``(q, value)`` for the highest candidate tail percentile the
    sample size supports, or ``None`` when none qualifies."""
    for q in candidates:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
