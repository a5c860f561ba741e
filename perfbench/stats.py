"""Statistics shared by the benchmark front end and the compare tool."""
import math
import statistics

# percentiles the tail may be reported at, highest last
TAIL_LADDER = (50, 60, 70, 75, 80, 90, 95, 99, 99.9)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_pct(n):
    """The highest ladder percentile with at least ten of n samples
    beyond it, or None when even the median has fewer."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= 10]
    return ok[-1] if ok else None


def min_samples(p):
    """The fewest samples that leave ten beyond the p-th percentile."""
    n = 10
    while beyond(n, p) < 10:
        n += 1
    return n
