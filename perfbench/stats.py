"""Summary statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    """Geometric mean of positive numbers."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that still has at least ten
    samples above it, as (value, percentile, sample count).

    With ``n`` sorted samples this is the sample at 0-based rank
    ``n - 11``; its percentile is ``100 * rank / (n - 1)``. Fewer than
    eleven samples support no such percentile, so the maximum is
    returned with percentile 100: callers print the count next to it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 11:
        return float(xs[-1]), 100.0, n
    rank = n - 11
    return float(xs[rank]), 100.0 * rank / (n - 1), n
