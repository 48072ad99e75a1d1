"""Order statistics used by the benchmark's report."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence


def median(values: Sequence[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int, beyond: int = 10) -> Optional[int]:
    """Highest whole percentile (at least the median) that still has
    `beyond` of `n` samples above it, or None when even the median has
    fewer. 200 samples give p95, 100 give p90, 20 give p50."""
    if n < 2 * beyond:
        return None
    return int(math.floor(100.0 * (1.0 - beyond / n) + 1e-9))


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated p-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

