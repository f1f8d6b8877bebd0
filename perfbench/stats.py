"""Statistics the benchmark reports, kept free of I/O so they can be tested."""

import math
import statistics

# Percentiles a tail latency may be reported at. A fixed ladder keeps the
# reported percentile the same across runs whose sample counts differ by a
# pass or two, so that runs stay comparable.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def tail(values):
    """The highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it, by nearest rank. Returns (value, percentile, samples beyond);
    with too few samples for any rung it falls back to the median rung."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = None
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND or best is None:
            best = (xs[rank - 1], p, n - rank)
    return best


def sum_of_medians(latencies_by_key):
    """Σ over keys of each key's median latency: one pass of the workload
    at typical speed, robust to a single slow execution of any key."""
    return sum(statistics.median(v) for v in latencies_by_key.values() if v)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once).

    `spans` maps id -> (parent id or None, start, end). Returns id -> self."""
    children = {}
    for sid, (parent, _, _) in spans.items():
        if parent in spans:
            children.setdefault(parent, []).append(sid)
    out = {}
    for sid, (_, start, end) in spans.items():
        covered = 0.0
        cur_start = cur_end = None
        intervals = sorted(
            (max(start, spans[c][1]), min(end, spans[c][2]))
            for c in children.get(sid, []))
        for a, b in intervals:
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sid] = (end - start) - covered
    return out
