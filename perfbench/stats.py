"""Latency bookkeeping and percentiles for the benchmark.

Two rules are enforced here rather than left to callers:

- a percentile is reported only when at least ``MIN_BEYOND`` samples lie
  beyond it, so a tail figure is never one or two unlucky ops;
- latencies are kept per op type and never pooled, so a percentile
  cannot land on the boundary between a cheap and an expensive op.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The requested percentile has fewer than MIN_BEYOND samples beyond it."""


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Raises TooFewSamples unless at least MIN_BEYOND samples lie above
    the rank; the median is exempt (it is the centre, not a tail)."""
    if not values:
        raise TooFewSamples("no samples")
    ordered = sorted(values)
    n = len(ordered)
    if p == 50:
        mid = n // 2
        return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p:g} of {n} samples has {n - rank} beyond it (< {MIN_BEYOND})"
        )
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return percentile(values, 50)


def fewest(counts: list[int]) -> int:
    """A per-op count (Spark jobs, tasks) reported as the fewest seen, 0
    for none: adaptive query execution can add a job to an occasional
    op, and the fewest is the figure that repeats from run to run."""
    return min(counts) if counts else 0


class OpLatencies:
    """Latency samples in milliseconds, one list per op type."""

    def __init__(self) -> None:
        self._by_kind: dict[str, list[float]] = {}

    def add(self, kind: str, ms: float) -> None:
        self._by_kind.setdefault(kind, []).append(ms)

    def samples(self, kind: str) -> list[float]:
        return list(self._by_kind.get(kind, []))

    def count(self, kind: str) -> int:
        return len(self._by_kind.get(kind, []))

    def kinds(self) -> list[str]:
        return sorted(self._by_kind)

    def percentile(self, kind: str, p: float) -> float:
        """Percentile over ONE op type; there is deliberately no way to
        ask for a percentile over several types at once."""
        if not isinstance(kind, str):
            raise TypeError("latencies of different op types are never pooled")
        return percentile(self._by_kind.get(kind, []), p)

    def summary(self) -> dict[str, dict]:
        """Per op type: sample count, p50 and, where there are enough
        samples, p90 — each op type on its own."""
        out: dict[str, dict] = {}
        for kind in self.kinds():
            vals = self._by_kind[kind]
            row: dict = {"samples": len(vals), "p50_ms": median(vals)}
            try:
                row["p90_ms"] = percentile(vals, 90)
            except TooFewSamples:
                pass
            out[kind] = row
        return out
