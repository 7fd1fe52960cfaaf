"""Summary statistics shared by the workloads and the tracer."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples)`` for the highest percentile with
    at least ten samples ranked beyond it: the sample of rank n - 10.

    Below twenty samples that rank falls under the median, so the
    maximum is returned instead, labelled percentile 100, and the
    caller prints which rule applied.
    """
    n = len(values)
    rank = n - MIN_BEYOND
    if rank < math.ceil(n / 2):
        return 100.0, max(values), n
    return 100.0 * rank / n, sorted(values)[rank - 1], n


def union_length(intervals: Iterable[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
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
