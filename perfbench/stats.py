"""Arithmetic the benchmark reports with: percentiles, geomean, spread.

Kept free of Spark so the tests in ``perfbench/tests`` can check it on
small synthetic inputs.
"""

from __future__ import annotations

import math
import statistics

#: a reported tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0 ≤ q ≤ 1) of ``values``."""
    if not values:
        raise ValueError("quantile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, candidates=(99, 95, 90, 75)) -> int | None:
    """Highest percentile in ``candidates`` that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly above it, or None
    when even the lowest candidate is not supported."""
    for p in candidates:
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, str]:
    """The tail value reported for ``values`` and its label: the highest
    supported percentile, or the maximum when the sample is too small
    for any percentile to have ten samples beyond it."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return quantile(values, p / 100), f"p{p}"


def geomean(values: list[float]) -> float:
    if not values:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
