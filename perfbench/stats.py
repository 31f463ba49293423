"""Percentiles and the sample-count rule for reporting them."""

from __future__ import annotations

import math
from fractions import Fraction


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) by linear interpolation
    between closest ranks, the rule ``statistics.quantiles`` uses with
    ``method="inclusive"``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of p50/p90/p99/p99.9 that leaves at least ``beyond``
    of ``n`` samples above it, or None when even the median does not."""
    best = None
    for q in (50, 90, 99, 99.9):
        if n * (100 - Fraction(str(q))) / 100 >= beyond:
            best = q
    return best
