"""Order statistics used by every reported timing."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile with at least ``beyond`` samples
    above it, as ``(value, percentile)`` by the nearest-rank rule. With
    ``beyond`` or fewer samples no percentile qualifies and the maximum
    is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100
    pct = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return xs[rank - 1], pct
