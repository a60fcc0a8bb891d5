"""Summary statistics shared by the benchmark and its tests."""
from __future__ import annotations

import math
from typing import Sequence


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule) of a
    non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest percentile that still has at least ``beyond`` samples
    above it in a sample of ``n``: 100 * (n - beyond) / n, floored to a
    whole percent. 0 when the sample is too small to support any tail
    (n <= beyond)."""
    if n <= beyond:
        return 0.0
    return float(math.floor(100.0 * (n - beyond) / n))
