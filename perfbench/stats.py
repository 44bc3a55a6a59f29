"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


class TooFewSamples(ValueError):
    pass


def min_samples(q: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count that leaves ``beyond`` samples above the
    ``q``-quantile (0 < q < 1): n * (1 - q) >= beyond."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    return math.ceil(beyond / (1.0 - q) - 1e-9)


def percentile(values: Sequence[float], q: float, beyond: int = MIN_BEYOND) -> float:
    """The ``q``-quantile (linear interpolation between closest ranks);
    raises TooFewSamples unless at least ``beyond`` samples lie above it."""
    n = len(values)
    need = min_samples(q, beyond)
    if n < need:
        raise TooFewSamples(f"p{q * 100:g} needs {need} samples, have {n}")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    """The median; raises TooFewSamples on no values."""
    if not len(values):
        raise TooFewSamples("median of no values")
    return percentile(values, 0.5, beyond=0)


def timing_summary(prefix: str, values: Sequence[float]) -> dict[str, float]:
    """Median, sample count, and the highest of p99/p95/p90/p75 that has
    ten samples beyond it (none when there are fewer than 40)."""
    out = {f"{prefix}_p50_ms": median(values), f"{prefix}_samples": len(values)}
    for q in (0.99, 0.95, 0.9, 0.75):
        if len(values) >= min_samples(q):
            out[f"{prefix}_p{round(q * 100)}_ms"] = percentile(values, q)
            break
    return out


def tracing_cost_pct(times: list[tuple[str, bool, float]]) -> float:
    """Share of throughput tracing costs, in percent, from (kind, traced,
    seconds) samples: one minus the ratio of the time the run's mix of kinds
    takes untraced to the time it takes traced, each kind at its mean time.
    Kinds without both traced and untraced samples are left out."""
    acc: dict[str, dict[bool, list[float]]] = {}
    for kind, traced, secs in times:
        acc.setdefault(kind, {True: [], False: []})[traced].append(secs)
    both = {k: v for k, v in acc.items() if v[True] and v[False]}
    if not both:
        raise TooFewSamples("no kind has both traced and untraced samples")

    def mix_time(traced: bool) -> float:
        return sum(
            len(v[True] + v[False]) * sum(v[traced]) / len(v[traced]) for v in both.values()
        )

    return (1.0 - mix_time(False) / mix_time(True)) * 100.0


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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
    """A span's duration minus the part of it its children cover; children
    that overlap each other (threads) are counted once."""
    return (end - start) - covered(children, start, end)
