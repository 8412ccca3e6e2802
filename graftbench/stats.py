"""Arithmetic the benchmark reports with: percentiles, the tail rule, and
driver time (wall time not covered by any Spark job)."""
import math
import statistics

# candidate tail percentiles, lowest first
TAIL_LADDER = (0.75, 0.9, 0.95, 0.99, 0.999)
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of ``n`` samples lie above the nearest-rank ``q`` sample."""
    return n - max(1, math.ceil(q * n))


def tail_q(n):
    """The highest ladder percentile with at least MIN_BEYOND samples beyond
    it, or with a quarter of the samples beyond it when there are fewer than
    4 * MIN_BEYOND: a short run's tail is its upper quartile, not its single
    slowest sample."""
    need = min(MIN_BEYOND, n // 4)
    best = TAIL_LADDER[0]
    for q in TAIL_LADDER:
        if beyond(n, q) >= need:
            best = q
    return best


def median(values):
    return statistics.median(values)


def covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    end = lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_time(intervals, lo, hi):
    """Wall time in ``[lo, hi]`` during which no Spark job ran."""
    return (hi - lo) - covered(intervals, lo, hi)


def busy_frac(task_seconds, wall, cores):
    """Task run time as a share of all the cores over the wall time."""
    return task_seconds / (wall * cores)
