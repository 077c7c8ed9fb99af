"""Statistics helpers of the benchmark: percentiles, quartiles, interval
unions and per-layer self time from nested spans."""

import math
import statistics

# Percentiles tried for a tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_LADDER that leaves at least
    `min_beyond` samples above its nearest rank, as (q, value); None when
    there are too few samples for any of them."""
    n = len(values)
    for q in TAIL_LADDER:
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            return q, percentile(values, q)
    return None


def quartiles(values):
    """First quartile, median, third quartile as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time per layer and wall time per op from spans, each a dict with
    id, parent, op, layer, start_ns and end_ns.

    A span's self time is the part of its interval that none of its
    descendants covers. Each span is first clipped to its parent. Where
    several spans with no running child overlap (parallel jobs), the
    instant is shared equally among them, so the self times of an op's spans
    add up to the wall time of its root span exactly.

    Returns (self_ns by layer, wall_ns by op id, self_ns by (op id, layer)).
    Spans whose parent is not among `spans` count as roots.
    """
    by_id = {s["id"]: s for s in spans}
    bounds = {}

    def place(s):
        if s["id"] not in bounds:
            lo, hi = s["start_ns"], s["end_ns"]
            parent = by_id.get(s["parent"])
            if parent is not None:
                plo, phi = place(parent)
                lo, hi = max(lo, plo), min(hi, phi)
            bounds[s["id"]] = (lo, max(lo, hi))
        return bounds[s["id"]]

    ops = {}
    for s in spans:
        place(s)
        ops.setdefault(s["op"], []).append(s)
    by_layer, walls, by_op_layer = {}, {}, {}
    for op, members in ops.items():
        roots = [s for s in members if s["parent"] not in by_id]
        walls[op] = sum(bounds[r["id"]][1] - bounds[r["id"]][0] for r in roots)
        cuts = sorted({t for s in members for t in bounds[s["id"]]})
        for lo, hi in zip(cuts, cuts[1:]):
            active = [s for s in members
                      if bounds[s["id"]][0] <= lo and bounds[s["id"]][1] >= hi]
            if not active:
                continue
            busy = {s["parent"] for s in active}
            owners = [s for s in active if s["id"] not in busy]
            share = (hi - lo) / len(owners)
            for s in owners:
                by_layer[s["layer"]] = by_layer.get(s["layer"], 0) + share
                key = (op, s["layer"])
                by_op_layer[key] = by_op_layer.get(key, 0) + share
    return by_layer, walls, by_op_layer
