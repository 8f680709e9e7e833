"""Arithmetic of the graft benchmark: percentiles, the tail rule, interval
self time and the ratios derived from a run's raw measurements.

Kept free of I/O so tests/test_stats.py can pin every rule."""
import math
import statistics

MIN_BEYOND = 10


def tail(values):
    """The highest percentile with at least MIN_BEYOND samples after it: the
    nearest-rank value at rank n - MIN_BEYOND. Returns (percentile, value,
    samples beyond), or (100.0, max, 0) when there are too few samples."""
    s = sorted(values)
    n = len(s)
    if n <= MIN_BEYOND:
        return 100.0, s[-1], 0
    rank = n - MIN_BEYOND
    return 100.0 * rank / n, s[rank - 1], MIN_BEYOND


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo, hi):
    """Length of the union of the intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(lo, hi, child_intervals):
    """The part of [lo, hi] no child interval covers."""
    return (hi - lo) - union_length(child_intervals, lo, hi)


def busy_ratio(task_run_s, op_wall_s, cores):
    """Task run time over the op wall time all cores could have worked."""
    return task_run_s / (op_wall_s * cores)


def overhead_ratio(ops):
    """Traced over untraced latency. `ops` are (label, traced, seconds); per
    label the ratio of the medians, then the geometric mean over labels that
    ran both ways, so a mix of short and long ops is weighed fairly."""
    by_label = {}
    for label, traced, secs in ops:
        by_label.setdefault(label, ([], []))[0 if traced else 1].append(secs)
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by_label.values() if t and u]
    return geomean(ratios) if ratios else float("nan")

