"""Percentiles and the sample-count rule the benchmark reports by."""
import math


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty sample,
    the same rule as numpy's default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values):
    return sum(values) / len(values) if values else 0.0


def median(values):
    return percentile(values, 0.5)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-quantile position."""
    if n <= 0:
        return 0
    return n - 1 - math.floor(q * (n - 1))


def highest_supported(n, candidates=(0.99, 0.95, 0.9, 0.75, 0.5), need=10):
    """The highest candidate percentile with at least `need` samples beyond
    it, or None when even the lowest has fewer."""
    for q in candidates:
        if samples_beyond(n, q) >= need:
            return q
    return None


def quarter_drift(values):
    """Median of the last quarter over median of the first quarter of a
    time-ordered sample: above 1 when latency grows through the run."""
    k = len(values) // 4
    if k == 0:
        return 1.0
    first, last = median(values[:k]), median(values[-k:])
    return last / first if first > 0 else float("inf")
