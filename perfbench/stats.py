"""Summary statistics and the result line.

Timings are reported as a median and a tail. The tail is the highest whole
percentile that leaves at least ``TAIL_MIN_BEYOND`` samples above it, chosen
from the number of operations every untraced run of a workload times, so
every run of a workload reports the same percentile.
Percentiles use the nearest-rank definition: the p-th percentile of n sorted
samples is the sample at rank ceil(p/100 * n).
"""

from __future__ import annotations

import json
import math

TAIL_MIN_BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile, 0 < p <= 100."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> int:
    """Highest whole percentile p with at least TAIL_MIN_BEYOND of n samples
    ranked above it: n - ceil(p/100 * n) >= TAIL_MIN_BEYOND. Returns 100
    (the maximum) when n is too small for any percentile to qualify."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= TAIL_MIN_BEYOND:
            return p
    return 100


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The one-line JSON result the benchmark prints last on stdout."""
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics},
        separators=(",", ":"),
    )
