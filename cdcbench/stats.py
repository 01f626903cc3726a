"""Small statistics helpers shared by the benchmark and its tooling."""

from __future__ import annotations

import statistics

#: tail percentiles considered, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a percentile before it may be reported
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    """Mean; used for millisecond-granular inputs, whose median repeats."""
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-p * len(ordered) // 100))
    return ordered[int(rank) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile that leaves at least ``MIN_BEYOND``
    of ``n`` samples strictly beyond its nearest-rank position, or ``None``
    when ``n`` is too small for any (fewer than ``2 * MIN_BEYOND``)."""
    for p in TAIL_CANDIDATES:
        rank = max(1, -(-p * n // 100))
        if n - rank >= MIN_BEYOND:
            return p
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
