"""Statistics over the raw record the JVM writes: percentiles, self time, driver gap."""
import statistics


def p50(values):
    return statistics.median(values) if values else None


def tail(values):
    """The highest percentile that has at least 10 samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at 0-based index i has n-1-i samples above it, so the answer is
    index n-11. A tail is never reported below the median: with fewer than
    21 samples no percentile above the median has 10 samples beyond it, and
    the upper median (index n//2) is returned. The value then moves
    continuously as n grows past 21, and `n` tells the reader what it rests on.
    """
    n = len(values)
    if n == 0:
        return None, None, 0
    s = sorted(values)
    i = max(n - 11, n // 2)
    return s[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time of each span: its duration minus the part its children cover.

    `spans` are (id, parent, name, op, t0, t1) tuples; returns {id: self}.
    """
    children = {}
    for sid, parent, _name, _op, t0, t1 in spans:
        children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _parent, _name, _op, t0, t1 in spans:
        covered = union_length(clip(children.get(sid, []), t0, t1))
        out[sid] = (t1 - t0) - covered
    return out


def driver_gap_ms(op_start_ms, op_end_ms, job_spans):
    """Op wall time not covered by any Spark job that ran inside it."""
    return (op_end_ms - op_start_ms) - union_length(clip(job_spans, op_start_ms, op_end_ms))
