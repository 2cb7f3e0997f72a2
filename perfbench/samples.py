"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of pooled samples.

    Raises ValueError unless at least ``MIN_BEYOND`` samples lie above the
    rank, so p50 needs 20 samples and p90 needs 100: a tail figure read off
    a handful of samples is one sample, not a percentile."""
    n = len(samples)
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def spread(values: list[float]) -> dict:
    """Median, quartiles, IQR and (max - min) as shares of the median."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    scale = abs(med) if med else 1.0
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / scale,
        "range_share": (max(values) - min(values)) / scale,
    }
