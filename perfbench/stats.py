"""Small statistics the benchmark reports."""

from __future__ import annotations

import statistics


def tail_percentile(samples: list[float], beyond: int = 10):
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it, or None when there are too few
    samples for one.  With n sorted samples that is the
    (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n."""
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]


def latency_summary(samples: list[float]) -> dict:
    """Sample count, median and tail percentile of op wall times."""
    tail = tail_percentile(samples)
    return {
        "n": len(samples),
        "p50_s": statistics.median(samples) if samples else None,
        "tail": None if tail is None else {"pct": tail[0], "s": tail[1]},
    }


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
