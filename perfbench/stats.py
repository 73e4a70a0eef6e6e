"""Order statistics the benchmark reports."""

from __future__ import annotations

import math


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(values: list[float], p: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``min_beyond`` samples lie above it: a tail figure resting on a
    handful of samples is noise, so it is not reported."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    if len(s) - rank < min_beyond:
        return None
    return s[rank - 1]
