"""Percentiles and run-to-run spread."""
import statistics


def percentile(values, q):
    """The q-th percentile (0 < q < 100) by linear interpolation between
    closest ranks, or None when fewer than ten samples lie beyond it: a
    percentile with less than that behind it is no tail. The median
    needs only one sample."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    if q != 50 and n * (100 - q) / 100 < 10:
        return None
    pos = (n - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as `statistics.quantiles`
    gives the quartiles."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
