"""Small statistics helpers shared by the runner and the spread checker."""

from __future__ import annotations

import math
import statistics

#: samples a tail percentile needs beyond it before it is reported
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(samples) -> tuple[int, float] | None:
    """The highest integer percentile (nearest-rank) that still has at
    least ``TAIL_MIN_BEYOND`` samples above its rank, with its value.
    None when no percentile from the median up qualifies."""
    n = len(samples)
    if n == 0:
        return None
    ordered = sorted(samples)
    for pct in range(99, 49, -1):
        rank = math.ceil(pct * n / 100)
        if n - rank >= TAIL_MIN_BEYOND:
            return pct, ordered[rank - 1]
    return None


def relative_iqr(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def interval_union(spans) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
