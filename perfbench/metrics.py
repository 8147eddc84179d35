"""Pure metric arithmetic for the benchmark: percentiles, interval unions,
job attribution by time interval, and span self times."""
import bisect
import math


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples, beyond=10):
    """The highest percentile on TAIL_LADDER that still has at least
    `beyond` samples above it, as (percentile, value, sample count); None
    when even the median has fewer. Nearest-rank percentiles."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(items, ops, at=lambda x: x["start"]):
    """Assign each item (a Spark job, a query execution) to the operation
    whose [start, end] interval holds the item's time. One operation runs
    at a time, so intervals do not overlap; items outside every operation
    are left out. Returns a list of item lists, parallel to `ops`."""
    order = sorted(range(len(ops)), key=lambda i: ops[i]["start"])
    starts = [ops[i]["start"] for i in order]
    out = [[] for _ in ops]
    for it in items:
        t = at(it)
        k = bisect.bisect_right(starts, t) - 1
        if k >= 0 and t <= ops[order[k]]["end"]:
            out[order[k]].append(it)
    return out


def self_times(spans):
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap each other). `spans` is a list of
    dicts with id, parent, start, end. Returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_length([(k["start"], k["end"]) for k in kids], s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
