"""Metric arithmetic shared by run.py and steady.py."""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share `q` of all samples at or below it (0 < q <= 1)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_length(clip(children, start, end))


def occupancy(task_busy, cores, busy_interval):
    """Share of the task slots filled while jobs run: task time over
    cores times the time at least one job was running."""
    if busy_interval <= 0 or cores <= 0:
        return 0.0
    return task_busy / (cores * busy_interval)


def spread(values):
    """Median, quartiles and the quartile spread as a share of the
    median, with quartiles as statistics.quantiles(values, n=4) gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}
