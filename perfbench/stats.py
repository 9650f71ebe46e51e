"""Order statistics and metric-name rules shared by the benchmark tools."""
import math
import re
import statistics

NAME_RE = re.compile(r'[A-Za-z0-9][A-Za-z0-9_.-]{0,63}')

PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def valid_name(name):
    """A metric or workload name: a letter or digit, then at most 63 of
    letters, digits, `_`, `.` and `-`."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def percentile(values, p):
    """The p-th percentile, interpolating linearly between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError('percentile of no values')
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """Samples of n that lie beyond the p-th percentile."""
    return math.floor(n * (100 - p) / 100.0 + 1e-9)


def highest_supported(n):
    """The highest of PERCENTILES with at least MIN_BEYOND samples beyond it,
    or None when n is too small for even the median."""
    ok = [p for p in PERCENTILES if beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float('inf')
