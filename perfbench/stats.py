"""Pure arithmetic the benchmark reports: medians, tails, geomeans,
span self time and space amplification."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values: Sequence[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has ``min_beyond`` samples above
    it: ``(percentile, value, n)``. The percentile is picked from the
    ladder 50/90/95/99/99.9/99.99; ``None`` when even p50 has fewer than
    ``min_beyond`` samples beyond it."""
    n = len(values)
    s = sorted(values)
    best = None
    for pct in (50.0, 90.0, 95.0, 99.0, 99.9, 99.99):
        rank = math.ceil(pct / 100.0 * n)  # nearest-rank percentile
        if rank < 1 or n - rank < min_beyond:
            break
        best = (pct, float(s[rank - 1]), n)
    return best


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def covered(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def space_amp(bytes_on_disk: int, live_bytes: int) -> float:
    """Bytes stored ÷ bytes a reader of the current state needs."""
    if live_bytes <= 0:
        raise ValueError("space_amp needs live bytes")
    return bytes_on_disk / live_bytes
