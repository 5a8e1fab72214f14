"""Latency summaries."""

from __future__ import annotations

import math

LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], pct: float) -> tuple[float, int]:
    """(value, rank) of the nearest-rank percentile; rank is 1-based.
    The product is rounded first so 99.9 % of 10000 is rank 9990, not
    the 9991 that binary floating point would give."""
    rank = max(1, math.ceil(round(pct * len(sorted_xs) / 100.0, 9)))
    return sorted_xs[rank - 1], rank


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) for the highest of ``LEVELS`` that still has
    at least ``MIN_BEYOND`` samples ranked above it; None when even the
    median has fewer."""
    s = sorted(xs)
    best = None
    for pct in LEVELS:
        value, rank = nearest_rank(s, pct) if s else (None, 0)
        if value is None or len(s) - rank < MIN_BEYOND:
            break
        best = (value, pct, len(s))
    return best
