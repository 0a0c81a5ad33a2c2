"""The benchmark's one statistics helper: true median, interpolated quantiles.

``quantile`` interpolates linearly between the two closest order statistics
(the "type 7" definition numpy uses by default), so a median of an even
sample is the mean of its two middle values, never the upper one.
``spread`` is the acceptance statistic: the distance between the first and
third quartile as ``statistics.quantiles(values, n=4)`` gives them, as a
share of the median.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence


def quantile(values: Sequence[float], q: float) -> float:
    if not values:
        raise ValueError("quantile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 0.5)


def spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median; 0.0 for fewer than two values or a constant 0."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    if mid == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / mid
