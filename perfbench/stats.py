"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
from statistics import median

__all__ = ["median", "tail", "tail_percentile"]


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that leaves at least ten of ``n``
    samples beyond it (nearest-rank), or None below eleven samples:
    p90 needs 100 samples, p95 200, p99 1000."""
    if n <= 10:
        return None
    return (100 * (n - 10)) // n


def tail(samples: list[float]) -> tuple[int, float] | None:
    """``(p, value)`` of the highest percentile with ten samples beyond."""
    p = tail_percentile(len(samples))
    if p is None:
        return None
    rank = max(1, math.ceil(p * len(samples) / 100))
    return p, sorted(samples)[rank - 1]
