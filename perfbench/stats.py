"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only with at least this many samples
#: strictly beyond it, so one outlier cannot set it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)``: the sorted sample at index
    ``n - beyond - 1`` and its nearest-rank percentile
    ``100 * (n - beyond) / n``. ``None`` when ``n <= beyond`` — too few
    samples to say anything about the tail."""
    n = len(values)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, float(sorted(values)[n - beyond - 1])

