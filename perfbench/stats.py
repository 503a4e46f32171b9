"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics
from typing import Sequence

__all__ = ["TAIL_BEYOND", "median", "tail"]

# A tail percentile is reported only where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that has at least ``beyond`` samples
    beyond it: the ``beyond + 1``-th largest sample, whose percentile is
    ``100 * (n - beyond) / n``.

    Returns ``{"value", "percentile", "n", "beyond"}``.  With ``n <=
    beyond`` no percentile qualifies; the median is returned and
    ``beyond`` reports how many samples actually lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n > beyond:
        return {"value": xs[n - beyond - 1],
                "percentile": 100.0 * (n - beyond) / n,
                "n": n, "beyond": beyond}
    return {"value": median(xs), "percentile": 50.0, "n": n,
            "beyond": n // 2}
