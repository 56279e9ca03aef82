"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a tail.
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank ``p``-th percentile."""
    ordered = sorted(values)
    rank = max(1, -(-p * len(ordered) // 100))
    return ordered[rank - 1]


def tail_percentile(n: int) -> int | None:
    """Highest of p50/p90/p99 with ``MIN_TAIL_SAMPLES`` samples beyond
    it among ``n``, or None when even the median lacks them."""
    best = None
    for p in (50, 90, 99):
        if n * (100 - p) / 100 >= MIN_TAIL_SAMPLES:
            best = p
    return best


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
