"""The benchmark's arithmetic: percentiles, span self time, failure counts
and digest comparison.  Pure functions, tested in ``perfbench/tests``."""
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def percentile(xs, p):
    """The p-th percentile (0 <= p <= 100), interpolating linearly between
    the two nearest order statistics."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_percentile(n, beyond=10):
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples above it, or None when n is too small for any."""
    if n < beyond:
        return None
    return int(math.floor(100.0 * (1.0 - beyond / n)))


def percentile_supported(n, p, beyond=10):
    """Whether ``n`` samples leave at least ``beyond`` above the p-th
    percentile (p75 needs n >= 40)."""
    best = highest_percentile(n, beyond)
    return best is not None and best >= p


def median_per_key(pairs):
    """{key: median value} over (key, value) pairs: each query's median
    time over the passes of a run."""
    by_key = {}
    for k, v in pairs:
        by_key.setdefault(k, []).append(v)
    return {k: median(vs) for k, vs in by_key.items()}


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end] intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - union_length(children, start, end)


def digest_matches(got, pin):
    """Compare an output digest with its pin.  A pin with only ``rows``
    checks the row count; otherwise rows and hash must both match."""
    if got is None or got.get("error") or got.get("rows") is None:
        return False
    if got["rows"] != pin["rows"]:
        return False
    return "hash" not in pin or got.get("hash") == pin["hash"]


def count_failures(execs, digest_ok, hung=0):
    """Failed executions: those that raised, those of a query whose output
    digest did not match its pin, and ``hung`` executions that never
    returned.  Returns (attempted, failed)."""
    attempted = len(execs) + hung
    failed = hung + sum(1 for e in execs
                        if not e["ok"] or not digest_ok.get(e["q"], False))
    return attempted, failed
