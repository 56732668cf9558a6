"""Summary maths for the benchmark's samples."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, `q` in [0, 100] (numpy's default
    method). Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def gmean_of_medians(groups: dict[str, list[float]]) -> float:
    """The geometric mean, over the groups, of each group's median: the
    typical latency of a mix of operation kinds. Unlike the median of all
    samples, which sits in the gap between two kinds' latencies and jumps
    when one sample crosses it, every kind moves it in proportion to its
    own change. Raises when no group has a sample."""
    meds = [median(xs) for xs in groups.values() if xs]
    if not meds:
        raise ValueError("geometric mean of no groups")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least `beyond` samples
    above it: (percentile, value, sample count). None when the sample
    has `beyond` or fewer values, so no percentile qualifies."""
    n = len(values)
    if n <= beyond:
        return None
    # k samples at or below the cut, n - k above it; the cut is the k-th
    # smallest value, i.e. the percentile 100 * k / n.
    k = n - beyond
    xs = sorted(values)
    return 100.0 * k / n, xs[k - 1], n


def ratio(num: float, den: float) -> float:
    """num / den, with 0 / 0 read as 0 (nothing attempted, nothing
    failed) and x / 0 for x > 0 as infinity."""
    if den == 0:
        return 0.0 if num == 0 else math.inf
    return num / den


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the spread measure used to judge whether a
    metric is steady across runs."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, q2)
