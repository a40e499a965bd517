"""Percentiles under the benchmark's reporting rule.

A timing is reported as its median plus a named upper percentile, and
that percentile is only meaningful with at least ``MIN_BEYOND`` samples
above it: a p90 needs 100 samples (10 beyond), a p99 needs 1000.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def min_samples(pct: float, min_beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which ``pct`` has ``min_beyond`` above it."""
    if not 0 < pct < 100:
        raise ValueError(f"percentile must be in (0, 100), got {pct}")
    return math.ceil(min_beyond * 100 / (100 - pct) - 1e-9)


def percentile(values: list[float], pct: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``pct`` percentile of ``values``.

    Raises ``ValueError`` when fewer than ``min_beyond`` samples lie
    above the percentile's rank — the value would rest on a handful of
    outliers and is not reported."""
    n = len(values)
    need = min_samples(pct, min_beyond)
    if n < need:
        raise ValueError(
            f"p{pct:g} needs >= {need} samples ({min_beyond} beyond it); got {n}")
    rank = max(1, math.ceil(pct / 100 * n))
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)
