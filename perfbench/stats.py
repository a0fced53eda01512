"""Arithmetic for the benchmark's metrics: percentiles, geomeans and
interval unions. Pure functions, so the self-tests can pin them."""
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no values")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def supported_percentile(n, beyond=10):
    """The highest percentile with at least `beyond` samples above it, or 50
    (the median) when the sample is too small for any tail."""
    if n <= 0:
        return None
    p = math.floor(100 * (1 - beyond / n)) if n > beyond else 0
    return max(50, p)


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end] intervals, each clipped
    to [lo, hi] when those are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
