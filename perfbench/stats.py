"""The benchmark's arithmetic: percentiles, interval unions, span self time
and the per-operation Spark ratios. Pure functions, covered by
``test_perfbench.py``."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

PERCENTILES = (50, 75, 90, 95, 99)


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest percentile in ``PERCENTILES`` with at least ``beyond``
    samples above it among ``n`` (p75 needs 40 samples, p50 needs 20)."""
    ok = [p for p in PERCENTILES if n * (100 - p) >= beyond * 100]
    return max(ok) if ok else None


def percentile(values: Sequence[float], p: int) -> float:
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[p - 1])


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def merge_intervals(
    intervals: Iterable[tuple[float, float]],
) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    return sum(b - a for a, b in merge_intervals(intervals))


def self_time(
    span: tuple[float, float], children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the time its children cover (clipped to the
    span, overlaps counted once)."""
    a, b = span
    clipped = ((max(a, c0), min(b, c1)) for c0, c1 in children)
    return (b - a) - union_length(clipped)


def spark_ratios(
    wall_s: float,
    job_intervals: Sequence[tuple[float, float]],
    executor_run_s: float,
    cores: int,
) -> dict[str, float]:
    """``in_jobs_s`` is the union of job intervals, ``driver_gap_s`` the
    operation's wall time outside them, ``executor_busy_ratio`` executor
    run time over (in-jobs time x cores)."""
    in_jobs = union_length(job_intervals)
    return {
        "spark.in_jobs_s": in_jobs,
        "spark.driver_gap_s": max(0.0, wall_s - in_jobs),
        "spark.executor_busy_ratio": (
            executor_run_s / (in_jobs * cores) if in_jobs > 0 else 0.0
        ),
    }
