"""Small summary statistics shared by the workloads and the report."""

from __future__ import annotations

import math
import statistics

#: Percentiles considered for the latency tail, highest first.
TAIL_LADDER = (99, 95, 90, 80)
#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def nearest_rank(values: list[float], pct: float) -> float:
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` samples above
    it, as ``(pct, value)``; ``None`` when the sample is too small (p80
    needs 50 samples, p99 needs 1000)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100 - pct) / 100.0 >= MIN_BEYOND:
            return pct, nearest_rank(values, pct)
    return None
