"""Order statistics for the benchmark's latency samples.

Percentiles are nearest-rank: the reported value is always one of the
measured samples, never an interpolation between two of them. A tail
percentile is *supported* when at least ``MIN_BEYOND`` samples lie beyond
it; a run prints whether its tail is, next to the rank and sample count.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    if n < 1:
        raise ValueError("no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile out of range: {p}")
    return max(1, math.ceil(p / 100.0 * n))


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above percentile ``p``'s rank."""
    return n - rank(n, p)


def supported(n: int, p: float) -> bool:
    return n >= 1 and beyond(n, p) >= MIN_BEYOND


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: a measured sample, not an interpolation."""
    ordered = sorted(samples)
    return ordered[rank(len(ordered), p) - 1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf
