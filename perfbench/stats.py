"""Small order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n`` samples
    above it, i.e. the largest p with n * (1 - p/100) >= beyond. None when
    n is too small for any percentile of 50 or more."""
    if n <= 0:
        return None
    p = math.floor(100 * (1 - beyond / n) + 1e-9)
    return p if p >= 50 else None


def percentile(xs, p: float) -> float:
    """Linear-interpolated p-th percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)
