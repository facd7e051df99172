"""Summary statistics of the benchmark: medians, quartiles, tail percentiles
under the ten-samples-beyond rule, and geometric means."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """First quartile, median, third quartile, as
    statistics.quantiles(n=4) gives them (one sample: all three equal)."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(xs, p):
    """Number of samples strictly above the p-th percentile."""
    v = percentile(xs, p)
    return sum(1 for x in xs if x > v)


def tail_percentile(xs, p):
    """The p-th percentile if at least ten samples lie beyond it, else None."""
    if not xs or beyond(xs, p) < 10:
        return None
    return percentile(xs, p)


def highest_reportable_percentile(xs, candidates=(99, 95, 90, 75, 50)):
    """The highest of `candidates` with at least ten samples beyond it, as
    (p, value), or None when even the median has fewer than ten beyond."""
    for p in candidates:
        v = tail_percentile(xs, p)
        if v is not None:
            return p, v
    return None


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
