"""The benchmark's arithmetic: order statistics, means, failure ratio and
span self time. Kept free of I/O so `test_stats.py` can pin it."""
import math

# A tail percentile is reported only when at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """The highest percentile with at least TAIL_SAMPLES samples above it.

    Returns (percentile, value), or None when the sample is too small to
    support any. For n samples the value is the (n - TAIL_SAMPLES)-th
    smallest, which is the 100 * (n - TAIL_SAMPLES) / n percentile.
    """
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_SAMPLES:
        return None
    return 100.0 * (n - TAIL_SAMPLES) / n, s[n - TAIL_SAMPLES - 1]


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def fail_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, children):
    """Length of `span` = (start, end) covered by the child intervals,
    each clipped to the span; overlapping children count once."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    return (span[1] - span[0]) - covered(span, children)
