"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import math

# Percentiles a tail metric may report, lowest first.
PERCENTILES = (50, 75, 80, 90, 95, 99)


def tail_percentile(n: int) -> int | None:
    """The highest percentile in PERCENTILES that has at least ten samples
    beyond it among `n`, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)
