"""Summary statistics the benchmark reports."""
import math
import statistics

# tail levels tried from the highest down; a level is reported only when at
# least MIN_BEYOND samples lie beyond it
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_level(n):
    """The highest level in TAIL_LEVELS with at least MIN_BEYOND of ``n``
    samples beyond it; the median when even that has fewer."""
    for level in TAIL_LEVELS:
        if n - math.ceil(level / 100.0 * n) >= MIN_BEYOND:
            return level
    return 50.0


def summarize(values):
    """Median and supported tail of ``values`` with the sample count."""
    level = tail_level(len(values))
    return {"n": len(values), "p50": percentile(values, 50.0),
            "tail_level": level, "tail": percentile(values, level)}


def median(values):
    return statistics.median(values)
