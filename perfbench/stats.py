"""Summary statistics the benchmark reports for its timings."""

from __future__ import annotations

import math

# A tail percentile is reported only where at least this many samples lie
# beyond it, so one slow outlier cannot set it on its own.
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``beyond`` samples
    above it, as ``(value, percentile, sample_count)``.

    With ``n`` samples the nearest-rank value of rank ``k`` (1-based) has
    ``n - k`` samples above it, so the answer is rank ``n - beyond``, the
    ``100 * (n - beyond) / n``-th percentile. With ``n <= beyond`` no
    percentile qualifies and the maximum is returned as percentile 100.
    """
    if not values:
        raise ValueError("tail() of no samples")
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond
    return s[k - 1], math.floor(1000.0 * k / n) / 10.0, n
