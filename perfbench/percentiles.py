"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math

# Percentiles a report may name, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p in a sample of n (rounded first so
    that 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample, p in (0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < p <= 100.0:
        raise ValueError(f"percentile {p} outside (0, 100]")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest LADDER percentile with at least `min_beyond` of n samples
    strictly above its rank, or None when not even the median has that many."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


def median(values) -> float:
    return percentile(values, 50.0)
