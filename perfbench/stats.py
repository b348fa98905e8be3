"""Summary statistics for latency samples.

Percentiles are nearest-rank: the p-th percentile of n sorted samples
is the sample at rank ceil(p/100 * n), so the number of samples beyond
it is n - ceil(p/100 * n), a function of n alone. The tail is reported
at the highest percentile with at least ten samples beyond it.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    s = sorted(values)
    return s[rank(p, len(s)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, 100 * (n - 10) / n; None below 20 samples, where
    that would not be above the median (the tail is then the maximum)."""
    if n < 2 * MIN_BEYOND:
        return None
    return 100.0 * (n - MIN_BEYOND) / n


def tail(values) -> tuple[float, str]:
    """``(value, label)``: the sample at the tail percentile, which is
    the eleventh largest, or the maximum labelled ``max`` when there are
    fewer than 20 samples."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p:.1f}"


def median(values) -> float:
    return statistics.median(values)


def summary(values) -> dict:
    """Median, tail and sample count of a latency list (any unit)."""
    if not values:
        return {"n": 0}
    t, label = tail(values)
    return {"n": len(values), "p50": median(values), "tail": t, "tail_pct": label}
