"""Summary statistics used by the benchmark report."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it. `p` is in (0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank {p} outside (0, 100]")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def median(values):
    return percentile(values, 50)


def mean(values):
    return sum(values) / len(values) if values else 0.0
