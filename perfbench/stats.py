"""Pure arithmetic behind the benchmark's numbers (no Spark, no I/O).

Kept free of Spark so the self-tests in ``perfbench/tests`` run in
about a second.
"""

from __future__ import annotations


def median(values: list[float]) -> float:
    """Median; the mean of the two middle samples for an even count."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """``intervals`` cut to the window [lo, hi]; empty pieces dropped."""
    out = []
    for start, end in intervals:
        start, end = max(start, lo), min(end, hi)
        if end > start:
            out.append((start, end))
    return out


def driver_gap(
    span: tuple[float, float], job_intervals: list[tuple[float, float]]
) -> float:
    """Span wall time not covered by any of its jobs' run intervals."""
    lo, hi = span
    return (hi - lo) - union_length(clipped(job_intervals, lo, hi))


def self_time(
    span: tuple[float, float], child_spans: list[tuple[float, float]]
) -> float:
    """Span wall time minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - union_length(clipped(child_spans, lo, hi))


def frame_checksum(pdf) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of a pandas frame: the
    wrapping 64-bit sum of pandas' per-row hashes."""
    import pandas as pd

    hashes = pd.util.hash_pandas_object(pdf, index=False).to_numpy(dtype="uint64")
    return len(pdf), int(hashes.sum(dtype="uint64"))


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when the denominator is zero."""
    return num / den if den else 0.0
