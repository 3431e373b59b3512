"""Sample statistics and span arithmetic shared by run.py and diff.py."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def tail_percentile(n, beyond=10):
    """The highest whole percentile of `n` samples that still has at least
    `beyond` samples above it (nearest rank), or None when even the median
    has fewer: 90 for 100 samples, 99 for 1,000."""
    if n < 2 * beyond:
        return None
    p = math.floor(100.0 * (1.0 - beyond / n))
    while p > 50 and n - math.ceil(p / 100.0 * n) < beyond:
        p -= 1
    return p


def summary(xs):
    """Median, highest percentile with ten samples beyond it, and count."""
    p = tail_percentile(len(xs))
    return {"p50": median(xs), "tail_pct": p,
            "tail": percentile(xs, p) if p is not None else None, "n": len(xs)}


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover. Children
    may overlap each other (concurrent jobs), so their union is taken."""
    lo, hi = span["start"], span["end"]
    clipped = [(max(lo, c["start"]), min(hi, c["end"])) for c in children]
    return (hi - lo) - union_ms(clipped)
