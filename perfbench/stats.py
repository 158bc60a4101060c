"""Order statistics and interval arithmetic used by the benchmark.

Kept free of Spark so the rules can be tested on known samples.
"""

from __future__ import annotations

import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[str, float]:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it, as (label, value). With fewer than 2 * TAIL_MIN_BEYOND
    samples no percentile qualifies, and the tail is the maximum."""
    n = len(values)
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND:
            return f"p{q:g}", percentile(values, q)
    return "max", max(values)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi < lo:
            raise ValueError(f"interval ends before it starts: {(lo, hi)}")
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
