"""Small order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Linear-interpolated ``q``-th percentile (0-100) and the number
    of samples it was taken over."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)

