"""Order statistics for the benchmark's timings.

Every timing the benchmark prints is a median or a tail percentile of raw
samples, always reported with its sample count.
"""

import math

# Percentiles offered as a tail figure, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile is published only with this many samples beyond it.
MIN_BEYOND = 10


def median(xs):
    """Median; on an even count, the mean of the middle pair."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    import statistics
    if len(xs) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def highest_tail(n):
    """The highest offered percentile with at least MIN_BEYOND of n
    samples beyond it, or None when n is too small for any."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def tail(xs):
    """(percentile, value) of the highest percentile that has at least
    MIN_BEYOND samples beyond it, or None."""
    p = highest_tail(len(xs))
    return None if p is None else (p, percentile(xs, p))
