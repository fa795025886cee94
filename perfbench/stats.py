"""Order statistics used for the reported metrics."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return statistics.median(values)


def tail(values) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above its
    nearest-rank value, and that value; None with fewer than 11 samples.

    The nearest-rank p-th percentile of n sorted samples is the
    ceil(p·n/100)-th, which leaves n - ceil(p·n/100) samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return None
    p = math.floor(100 * (n - TAIL_MIN_BEYOND) / n)
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]

