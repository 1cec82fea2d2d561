"""Metric arithmetic shared by the workloads and checked by selftest.py.

Kept free of Spark imports so the self-test runs without a JVM.
"""

from __future__ import annotations

import statistics
from typing import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals; overlapping
    and nested intervals count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end < start:
            raise ValueError(f"interval ends before it starts: {(start, end)}")
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals: Iterable[tuple[float, float]], lo: float, hi: float
            ) -> list[tuple[float, float]]:
    """The parts of each interval that lie inside [lo, hi]."""
    out = []
    for start, end in intervals:
        s, e = max(start, lo), min(end, hi)
        if e > s:
            out.append((s, e))
    return out


def driver_gap(span_start: float, span_end: float,
               job_intervals: Iterable[tuple[float, float]]) -> float:
    """Span wall time during which none of its Spark jobs was running."""
    busy = interval_union(clipped(job_intervals, span_start, span_end))
    return (span_end - span_start) - busy


def accounting_residual(span_start: float, span_end: float,
                        jobs: Sequence[tuple[float, float, Sequence[tuple[float, float]]]],
                        executor_run_s: float, slots: int, min_fill: float) -> float:
    """Seconds of the span that driver gap plus executor time cannot
    account for.

    ``jobs`` holds each job's interval and the intervals of the stages it
    ran.  The span's wall is driver gap plus job-busy time by definition, so
    the check is on the job-busy time:

    - job time outside the span (the jobs were attributed to the wrong span,
      or the clocks disagree);
    - job time no stage of the job covers (stages missing from the totals);
    - executor run time beyond what ``slots`` task slots deliver while the
      stages ran (totals counted twice), in seconds of wall;
    - stage-busy time the executor run time does not fill to ``min_fill``
      (executor time missing from the totals)."""
    job_iv = [(s, e) for s, e, _st in jobs]
    inside = interval_union(clipped(job_iv, span_start, span_end))
    outside = interval_union(job_iv) - inside
    uncovered = sum((e - s) - interval_union(clipped(st, s, e)) for s, e, st in jobs)
    stage_busy = interval_union(clipped([iv for _s, _e, st in jobs for iv in st],
                                        span_start, span_end))
    over_capacity = max(0.0, executor_run_s - slots * stage_busy) / slots
    under_fill = max(0.0, min_fill * stage_busy - executor_run_s)
    return outside + uncovered + over_capacity + under_fill


def throughput(items: int, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError("throughput over a non-positive interval")
    return items / seconds


def error_rate(failed: int, attempted: int) -> float:
    """Failed or wrong-output timed operations per attempted operation.
    Every attempted operation counts in the base, including ones that
    raised before producing output."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
