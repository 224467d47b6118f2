"""The tail percentile of the benchmark's samples, computed with
``statistics`` rather than by indexing into a sorted list."""

from __future__ import annotations

import math
import statistics

#: The tail percentile is the highest one with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, int, int] | None:
    """Return ``(value, percentile, n)`` for the highest whole percentile
    that leaves at least ``TAIL_BEYOND`` of the ``n`` samples above it, or
    None when there are too few samples for any."""
    n = len(values)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n) if n else 0
    if pct < 1:
        return None
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[pct - 1], pct, n

