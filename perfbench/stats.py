"""Arithmetic behind the reported metrics, kept free of Spark so the
self-tests can check it directly."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    """Geometric mean: every query weighs the same, short or long."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def query_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over queries of each query's median latency."""
    return geomean([median(v) for v in latencies.values()])


def rows_per_pass(
    reads: dict[str, tuple[str, ...]], table_rows: dict[str, int]
) -> int:
    """Input rows one pass reads: each table a query loads, once per load."""
    return sum(table_rows[t] for tables in reads.values() for t in tables)


def rows_per_s(rows: int, pass_s: float) -> float:
    return rows / pass_s


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``children``."""
    lo, hi = interval
    total = 0.0
    end = lo
    for c0, c1 in sorted(children):
        c0, c1 = max(c0, end), min(c1, hi)
        if c1 > c0:
            total += c1 - c0
            end = c1
    return total


def self_time(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


def abba_on(i: int) -> bool:
    """Whether pass ``i`` is traced: on, off, off, on, ... balances the
    two sides so a steady warm-up trend over the passes biases neither."""
    return i % 4 in (0, 3)
