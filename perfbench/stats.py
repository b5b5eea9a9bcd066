"""Summary statistics for the benchmark's latency samples."""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values):
    return statistics.median(values)


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail(values, beyond=10):
    """The highest candidate percentile that has at least `beyond` samples
    strictly above it, as (percentile, value, sample count), or None when
    there are too few samples for any candidate."""
    s = sorted(values)
    for pct in TAIL_PERCENTILES:
        if not s:
            break
        v = nearest_rank(s, pct)
        if sum(1 for x in s if x > v) >= beyond:
            return pct, v, len(s)
    return None

