"""Order statistics shared by the benchmark and its compare command."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    xs = list(xs)
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, min_beyond: int = 10) -> tuple[str, float]:
    """The highest of p90/p75/p50 with at least ``min_beyond`` samples
    above it, as (name, value); the median when no percentile qualifies."""
    xs = sorted(xs)
    for p in (99, 90, 75):
        if len(xs) * (100 - p) / 100 >= min_beyond:
            return f"p{p}", xs[min(len(xs) - 1, math.ceil(len(xs) * p / 100) - 1)]
    return "p50", median(xs)
