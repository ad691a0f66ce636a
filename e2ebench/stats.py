"""Order statistics for the benchmark's latency samples."""

import statistics

TAIL_PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values, p):
    """The p-th percentile, linearly interpolated between order statistics."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest of TAIL_PERCENTILES with at least MIN_BEYOND samples
    above it: (percentile, value, samples beyond), or None if even the
    median has fewer."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        beyond = int(n * (100 - p) / 100.0)
        if beyond >= MIN_BEYOND:
            return p, percentile(values, p), beyond
    return None


def drift(values):
    """Median of the first half over median of the second half of a
    time-ordered series; 1.0 means no warm-up left in the timed phase."""
    if len(values) < 2:
        return None
    half = len(values) // 2
    return median(values[:half]) / median(values[-half:])
