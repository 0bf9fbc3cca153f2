"""Order statistics used by every metric of the benchmark."""

from __future__ import annotations

import math

#: a reported percentile must have at least this many samples above it
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Fewest samples for which percentile ``q`` (0-100) leaves
    ``MIN_BEYOND`` samples above it."""
    return math.ceil(MIN_BEYOND / (1.0 - q / 100.0) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` of ``values``.

    Raises ``ValueError`` when fewer than ``MIN_BEYOND`` samples lie
    beyond it: a tail read from a handful of points is not a tail.
    """
    n = len(values)
    if n < min_samples(q):
        raise ValueError(
            f"p{q:g} needs >= {min_samples(q)} samples for {MIN_BEYOND} beyond it; got {n}"
        )
    s = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    """Plain median (no sample-count rule): for per-layer summaries."""
    if not values:
        return 0.0
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0
