"""Order statistics used for every reported timing."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence, Tuple

TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100)."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[k - 1])


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND
         ) -> Optional[Tuple[float, float]]:
    """(percentile, value) of the highest percentile that still has at
    least ``beyond`` samples above it; None with too few samples.

    With n samples that is the (n - beyond)-th smallest, i.e. the
    nearest-rank percentile 100 * (n - beyond) / n."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    return 100.0 * (n - beyond) / n, float(xs[n - beyond - 1])
