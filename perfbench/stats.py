"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def nearest_rank(values: list[float], pct: int) -> float:
    """The ``pct``-th percentile by nearest rank (an observed value)."""
    xs = sorted(values)
    return xs[max(1, math.ceil(pct * len(xs) / 100)) - 1]


def tail_percentile(n: int) -> int:
    """Highest whole percentile (50..99) that keeps at least
    TAIL_BEYOND of ``n`` samples strictly beyond its nearest-rank
    position; 50 when even the median has fewer beyond it."""
    for pct in range(99, 49, -1):
        if n - math.ceil(pct * n / 100) >= TAIL_BEYOND:
            return pct
    return 50


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the tail statistic over ``values``."""
    pct = tail_percentile(len(values))
    return nearest_rank(values, pct), pct


def median(values: list[float]) -> float:
    return statistics.median(values)


def iqr_share(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
