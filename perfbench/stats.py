"""Pure arithmetic the benchmark reports with: percentiles, interval
unions and self time. No Spark, no I/O, so the tests can pin it."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

# A tail percentile needs this many samples strictly beyond it.
TAIL_BEYOND = 10
# Ops a run measures at least, so the tail is at or above the median.
MIN_SAMPLES = 2 * TAIL_BEYOND + 1


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def squares_mod7_sum(n: int) -> int:
    """``sum(i * i % 7 for i in range(n))`` in closed form: the answer the
    reference job must return."""
    cycle = [i * i % 7 for i in range(7)]
    return sum(cycle) * (n // 7) + sum(cycle[: n % 7])


def host_factor(reference_s: Sequence[float], nominal_s: float) -> float:
    """How much faster than nominal the host ran: the reference job's
    nominal time over its median time in the run. Multiplying a run's
    times by it states them at the nominal host speed."""
    return nominal_s / median(reference_s)


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """Latency at the highest percentile that still has ``beyond`` samples
    above it, as ``(value, percentile)``.

    With ``n`` sorted samples the answer is the ``(n - beyond)``-th
    smallest, at percentile ``100 * (n - beyond) / n``. Fewer than
    ``beyond + 1`` samples support no tail: ``ValueError``.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support a tail with {beyond} beyond it")
    ordered = sorted(values)
    return float(ordered[n - beyond - 1]), 100.0 * (n - beyond) / n


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        elif end > cur_end:
            cur_end = end
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped_union(
    window: tuple[float, float], intervals: Iterable[tuple[float, float]]
) -> float:
    """Length of the part of ``window`` that ``intervals`` cover."""
    lo, hi = window
    return union_length((max(lo, s), min(hi, e)) for s, e in intervals)


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Overlapping children count once."""
    return (span[1] - span[0]) - clipped_union(span, children)


def driver_gap(op: tuple[float, float], jobs: Iterable[tuple[float, float]]) -> float:
    """Op wall time that no Spark job of the op covers: time the cores
    wait on driver-side Python, py4j or planning."""
    return self_time(op, jobs)
