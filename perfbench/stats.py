"""Order statistics used by every metric the benchmark reports."""

from __future__ import annotations

import math

# A percentile is reported only with at least this many samples beyond it.
MIN_TAIL = 10


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    (0 < q <= 1) of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def quantile(xs: list[float], q: float) -> float:
    """Linearly interpolated quantile (0 <= q <= 1) between the order
    statistics, as ``statistics.quantiles(method="inclusive")`` places
    them."""
    if not xs:
        raise ValueError("quantile of no samples")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n))


def tail_ok(n: int, q: float) -> bool:
    """Whether ``n`` samples leave :data:`MIN_TAIL` beyond percentile ``q``."""
    return beyond(n, q) >= MIN_TAIL
