"""Order statistics used by the benchmark's metrics."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q of the
    samples at or below it (q in (0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


TAIL_PERCENTILES = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail(values, beyond=10):
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    `beyond` samples above its rank, with that percentile and the number of
    samples beyond it. None when even the median leaves fewer than
    `beyond` samples above it."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        rank = max(1, math.ceil(q * n))
        if n - rank >= beyond:
            return percentile(values, q), q, n - rank
    return None
