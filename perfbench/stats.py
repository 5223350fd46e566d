"""Summary statistics the benchmark reports.

A request type's latency is the mean, over the kinds of that type in a
workload's pass, of each kind's median (``mix_median``): the kinds of
one type can differ several-fold (a head-term total against a
match-all one), and a plain median over such a mixture jumps between
modes when one sample moves. A tail is reported only at the highest
percentile with at least ``MIN_BEYOND`` samples beyond it.
"""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest of TAIL_PERCENTILES with >= MIN_BEYOND of n samples
    strictly beyond it, or None (e.g. p90 needs n >= 100)."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return s[max(math.ceil(p / 100.0 * len(s)) - 1, 0)]


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def mix_median(by_kind: dict[str, list[float]]) -> float:
    """Mean over request kinds of each kind's median latency."""
    if not by_kind:
        raise ValueError("mix_median of no kinds")
    return statistics.fmean(median(xs) for xs in by_kind.values())
