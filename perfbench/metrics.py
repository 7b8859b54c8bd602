"""Metric math of the benchmark: percentiles, failure share, span self
time and the py4j command filter. Pure functions, no Spark import, so
``test_metrics.py`` covers them without a session."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

# py4j's memory-delete command (``m\nd\n<object id>``): Python's garbage
# collector sends one whenever a JVM proxy dies, at moments unrelated to
# the work being measured, so counting them makes call counts drift from
# run to run.
PY4J_MEMORY_DELETE = "m\nd\n"


def is_counted_py4j_command(command: str) -> bool:
    return not command.startswith(PY4J_MEMORY_DELETE)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile by nearest rank: the smallest sample with
    at least ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


@dataclass(frozen=True)
class Tail:
    pct: float  # percentile, by nearest rank
    value: float
    beyond: int  # samples strictly above ``value``
    n: int


def tail(values: list[float], min_beyond: int = 10) -> Tail | None:
    """The highest percentile that still has at least ``min_beyond``
    samples beyond it, or None when there are too few samples. With
    100 samples this is the 90th percentile; with 40 it is the 75th."""
    n = len(values)
    if n <= min_beyond:
        return None
    ordered = sorted(values)
    rank = n - min_beyond
    value = float(ordered[rank - 1])
    beyond = sum(1 for v in ordered if v > value)
    return Tail(pct=100.0 * rank / n, value=value, beyond=beyond, n=n)


def failed_share(failed: int, attempted: int) -> float:
    """Failed, refused or wrong-result operations over those attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the run's span list
    op: str | None  # operation id shared by the spans of one operation

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, -math.inf
    for lo, hi in sorted(intervals):
        if hi <= reach:
            continue
        total += hi - max(lo, reach)
        reach = hi
    return total


def self_time(spans: list[Span], index: int) -> float:
    """A span's duration minus the part of its interval covered by its
    children (children may overlap each other or stick out of it)."""
    span = spans[index]
    children = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == index and c.end > span.start and c.start < span.end
    ]
    return span.duration - _covered(children)


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + self_time(spans, i)
    return out
