"""Small statistics the benchmark reports: percentiles under the
ten-samples-beyond rule, and span self time and coverage."""
import math


def percentile(values, p):
    """Linear-interpolated p-quantile (0 <= p <= 1) of a non-empty list."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    x = p * (len(s) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def samples_beyond(n, p):
    """How many of n samples lie beyond the p-quantile."""
    return n - math.ceil(round(p * n, 9))


def min_samples(p, beyond=10):
    """Smallest sample count that leaves `beyond` samples past the
    p-quantile: a p90 needs 100, a p99 needs 1000."""
    n = 1
    while samples_beyond(n, p) < beyond:
        n += 1
    return n


def _union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its children cover (overlapping children count once).

    `spans` holds (id, parent, op, name, start, end) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        start, end = s[4], s[5]
        covered = [(max(c[4], start), min(c[5], end)) for c in children.get(s[0], [])
                   if c[5] > start and c[4] < end]
        out[s[0]] = (end - start) - _union_length(covered)
    return out


def coverage(spans):
    """Op id -> share of the op's root span its child spans cover."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if s[1] == -1 and s[3] == "op":
            dur = s[5] - s[4]
            out[s[2]] = 1.0 - st[s[0]] / dur if dur > 0 else 1.0
    return out
