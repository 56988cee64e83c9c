"""Percentiles for the service benchmark.

A tail percentile is only reported when at least ten samples lie beyond
it; with fewer, one slow sample decides the figure. The median is a
central estimate and is exempt.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``.

    Raises ValueError when ``values`` is empty, or when ``q`` is above
    50 and fewer than ``MIN_BEYOND`` samples rank beyond it (p90 needs
    at least 100 samples)."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    rank = max(math.ceil(q / 100 * n), 1)
    if q > 50 and n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]
