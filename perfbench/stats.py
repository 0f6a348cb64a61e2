"""Order statistics used by every metric the benchmark reports."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when at least this many samples
# lie strictly beyond it; with fewer, one outlier moves it
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float | None:
    """Nearest-rank ``q``-th percentile (0 < q < 100), or None when
    fewer than MIN_BEYOND samples lie beyond that rank: a p90 needs
    at least 100 samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return float(xs[rank - 1])
