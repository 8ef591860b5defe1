"""Order statistics used by every workload.

Timings are reported as a median plus the highest percentile that still
has at least ``TAIL_BEYOND`` samples beyond it, with the sample count, so
a tail figure is never read off a handful of points.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest integer percentile p whose nearest-rank value leaves at
    least ``beyond`` of ``n`` samples strictly above it; None when the
    sample is too small to support any percentile."""
    if n <= beyond:
        return None
    # p <= 100 (n - beyond) / n  <=>  nearest rank ceil(p n / 100) <= n - beyond
    p = (100 * (n - beyond)) // n
    return p if p > 0 else None


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[int, float] | None:
    """(percentile, value) by :func:`tail_percentile`, nearest-rank."""
    p = tail_percentile(len(xs), beyond)
    if p is None:
        return None
    ordered = sorted(xs)
    return p, ordered[math.ceil(p * len(xs) / 100) - 1]


def summary(xs: list[float]) -> dict:
    """Median, tail and sample count of one timing series."""
    out: dict = {"n": len(xs), "p50": median(xs)}
    t = tail(xs)
    if t is not None:
        out["tail_pct"], out["tail"] = t
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them — the steadiness figure the benchmark is judged by."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
