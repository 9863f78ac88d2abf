"""Summary statistics and span arithmetic for rtbench results."""
import math

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values):
    """The highest percentile of TAIL_LADDER with at least 10 samples
    strictly above its rank, as (percentile, value, n).  With fewer than
    11 samples no percentile qualifies and the maximum is reported as
    percentile 100."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p, percentile(values, p), n
    return 100.0, max(values), n


def median(values):
    return percentile(values, 50.0)


def union_length(intervals):
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


def self_times(spans):
    """spans: dicts with id, parent, start, end.  A span's self time is
    its duration minus the part of [start, end] its children cover
    (children may overlap each other and may stick out of the parent)."""
    kids = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length([(max(s, c["start"]), min(e, c["end"]))
                                 for c in kids.get(sp["id"], []) if c["end"] > s and c["start"] < e])
        out[sp["id"]] = (e - s) - covered
    return out
