"""Summary statistics of the benchmark: medians, quartiles, percentiles."""
import statistics


def median(values):
    """Median of a non-empty sequence."""
    return statistics.median(values)


def quartiles(values):
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them
    (the default exclusive method); one value gives (v, v, v)."""
    if len(values) == 1:
        return (values[0],) * 3
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(values)
    return (q3 - q1) / m if m else float("inf")


def percentile(values, p):
    """Linearly interpolated p-th percentile (0 <= p <= 100) of a
    non-empty sequence: the same rule as numpy's default."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, beyond=10):
    """The highest of TAIL_PERCENTILES that has at least `beyond` samples
    above it, as (p, value); None when even the median has fewer."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            return p, percentile(values, p)
    return None
