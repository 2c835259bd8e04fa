"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it.

    Nearest-rank: percentile ``p`` of ``n`` sorted samples is the one at
    rank ``ceil(p / 100 * n)``. ``p`` is capped at 99. Returns
    ``(p, value)``, or None when there are too few samples for any
    percentile to have ten beyond it.
    """
    n = len(values)
    if n <= MIN_BEYOND:
        return None
    p = min(99, (100 * (n - MIN_BEYOND)) // n)
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[rank - 1]


def geomean_of_medians(passes: list[dict[str, float]]) -> float:
    """Geometric mean over keys of each key's median over the passes
    (key -> value maps) that have it. Every key counts once, whatever
    its scale, and no single key decides the figure, as one does for a
    percentile of a mixture of a few keys' values."""
    keys = sorted({k for p in passes for k in p})
    return math.exp(statistics.fmean(
        math.log(statistics.median(p[k] for p in passes if k in p)) for k in keys))
