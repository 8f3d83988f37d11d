"""Nearest-rank percentiles and the tail rule behind ``op_tail_s``."""

from __future__ import annotations

import math


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it (p=100 is the maximum)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it; 100 (the maximum) when ``n`` is too small for any
    percentile at or above the median to have that many beyond it."""
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            return p
    return 100
