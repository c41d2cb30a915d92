"""Statistics of the perfbench analysis: percentiles, interval unions,
self time and driver-only time. Pure functions over plain numbers, so
test_stats.py can pin them."""
import math
import statistics

# Percentiles a tail may be reported at, lowest first.
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def percentile(values, q):
    """Nearest-rank percentile: the ceil(q*n)-th smallest value."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n))


def tail(values, ladder=LADDER):
    """(q, value) for the highest ladder percentile that has at least ten
    samples beyond it. With fewer than 20 samples no percentile has, and
    the median is returned as (0.5, median()): the tail is then the
    median metric itself."""
    n = len(values)
    ok = [q for q in ladder if beyond(n, q) >= 10]
    if not ok:
        return 0.5, median(values)
    return ok[-1], percentile(values, ok[-1])


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlaps once."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo, hi):
    """The parts of intervals that fall inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def self_time(span, children):
    """A span's duration minus the part of its interval that its child
    spans cover; overlapping children count once."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def driver_only(window, jobs):
    """Wall time of a window during which no Spark job was running:
    the window minus the union of the job intervals inside it."""
    return self_time(window, jobs)
