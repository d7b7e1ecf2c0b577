"""Statistics for the benchmark: latency percentiles, the tail rule, span
self time and per-layer aggregation.

Everything here is pure Python over plain lists and dicts, so it can be
unit-tested without building or running the engine (see test_stats.py).
"""

import math
import statistics

# The tail must have at least this many samples beyond it.
TAIL_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    if not sorted_values:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail_percentile(n):
    """The highest whole percentile with at least TAIL_BEYOND of n samples
    strictly beyond its nearest-rank position, or None when that
    percentile would not lie above the median (too few samples)."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (n - TAIL_BEYOND) / n)
    if p <= 50:
        return None
    return p


def tail(values):
    """(percentile, value, samples_beyond) for the tail rule, or None."""
    s = sorted(values)
    p = tail_percentile(len(s))
    if p is None:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return p, s[rank - 1], len(s) - rank


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Children may overlap one another and may
    stick out of their parent; only the covered part inside the parent
    counts. `spans` are dicts with id, parent, start and end (any unit).
    Returns {id: self_time}."""
    children = {}
    for sp in spans:
        children.setdefault(sp.get("parent"), []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(c["start"], s), min(c["end"], e))
            for c in children.get(sp["id"], ()))
        out[sp["id"]] = max(0.0, (e - s) - covered)
    return out


def layer_of(name):
    """Layer of a span name: its first dotted component."""
    return name.split(".", 1)[0]


def self_time_by_layer(spans):
    """Sum of self times per layer (first component of the span name)."""
    st = self_times(spans)
    out = {}
    for sp in spans:
        layer = layer_of(sp["name"])
        out[layer] = out.get(layer, 0.0) + st[sp["id"]]
    return out


def quartile_spread(values):
    """Distance between the first and third quartile over the median, as
    statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
