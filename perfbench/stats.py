"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)``: the sample with exactly ``beyond``
    samples after it in sorted order, and its percentile rank. Returns
    ``None`` when the sample is too small for that percentile to sit at
    or above the median, where it would no longer describe a tail.
    """
    n = len(values)
    if n < 2 * beyond:
        return None
    k = n - beyond - 1  # 0-based index: `beyond` samples sort after it
    return 100.0 * (k + 1) / n, float(sorted(values)[k])


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
