"""Arithmetic over timings and spans — no Spark, no I/O, so the
self-tests can drive it with synthetic inputs.

A span is ``(start, end)`` in seconds of the system-wide monotonic clock
(CLOCK_MONOTONIC on Linux is shared by the driver and its local Python
workers, so executor spans and driver spans are comparable).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile counts as a tail only with this many samples beyond it
TAIL_MIN_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float
    pct: float
    samples: int
    #: False when no ladder percentile has TAIL_MIN_BEYOND samples
    #: beyond it, so ``value`` is the median instead of a tail
    qualified: bool


def tail(values: Sequence[float]) -> Tail:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it. With fewer than 2×TAIL_MIN_BEYOND samples none qualifies
    and the median is returned, flagged as unqualified."""
    n = len(values)
    for p in TAIL_LADDER:
        # (100 - p) first: 1 - 0.9 is not exactly 0.1 in binary
        if n * (100.0 - p) / 100.0 + 1e-9 >= TAIL_MIN_BEYOND:
            return Tail(float(np.percentile(values, p)), p, n, True)
    return Tail(float(np.percentile(values, 50.0)), 50.0, n, False)


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]: parallel
    or overlapping intervals count once."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Parent duration minus the part of its interval the children cover."""
    s, e = parent
    return (e - s) - covered(children, s, e)


def clipped(span: tuple[float, float], parent: tuple[float, float]) -> float:
    return max(0.0, min(span[1], parent[1]) - max(span[0], parent[0]))


@dataclass
class IterationBreakdown:
    """One traced iteration, split into the layers that block it."""

    span_s: float
    master_s: float
    worker_max_s: float
    worker_sum_s: float
    worker_calls: int
    self_s: float
    idle_share: float
    model_bytes: int
    result_bytes: int


def breakdown(
    span: tuple[float, float],
    master: Sequence[tuple[float, float]],
    workers: Sequence[tuple[float, float]],
    cores: int,
    model_bytes: int = 0,
    result_bytes: int = 0,
) -> IterationBreakdown:
    """Split an iteration span into master compute, the slowest worker
    compute (the workers run in parallel, so the slowest one blocks the
    iteration) and the engine's self time: the part of the span neither
    covers. When the master and slowest-worker spans are disjoint —
    the engine collects worker results before the master runs —
    ``self_s + worker_max_s + master_s == span_s`` exactly."""
    slowest = max(workers, key=lambda w: clipped(w, span), default=None)
    blocking = list(master) + ([slowest] if slowest is not None else [])
    worker_sum = sum(clipped(w, span) for w in workers)
    span_s = span[1] - span[0]
    return IterationBreakdown(
        span_s=span_s,
        master_s=covered(master, *span),
        worker_max_s=clipped(slowest, span) if slowest is not None else 0.0,
        worker_sum_s=worker_sum,
        worker_calls=len(workers),
        self_s=self_time(span, blocking),
        idle_share=idle_share(worker_sum, span_s, cores),
        model_bytes=model_bytes,
        result_bytes=result_bytes,
    )


def idle_share(worker_busy_s: float, span_s: float, cores: int) -> float:
    """Share of the iteration's core-seconds no worker computed in."""
    if span_s <= 0 or cores <= 0:
        raise ValueError("idle share needs a positive span and core count")
    return 1.0 - worker_busy_s / (span_s * cores)


@dataclass
class LayerSummary:
    """Per-layer means over traced iterations 2..N (iteration 1 carries
    the load-once prepare and is reported separately as prepare_s)."""

    prepare_s: float
    iteration_span_s: float
    iter_self_s: float
    master_compute_s: float
    worker_compute_max_s: float
    worker_compute_s: float
    worker_calls: float
    idle_share: float
    model_bytes: float
    result_bytes: float
    iterations: int


def summarize(per_training: Sequence[Sequence[IterationBreakdown]]) -> LayerSummary:
    """Means over every traced training's iterations 2..N. Means, not
    medians, so the identity iter_self + worker_max + master == span
    holds for the summary as it does for each iteration."""
    firsts = [its[0] for its in per_training if its]
    rest = [b for its in per_training for b in its[1:]]
    if not firsts or not rest:
        raise ValueError("need traced trainings with at least two iterations")

    def mean(attr: str, xs=rest) -> float:
        return statistics.fmean(getattr(b, attr) for b in xs)

    return LayerSummary(
        prepare_s=mean("self_s", firsts),
        iteration_span_s=mean("span_s"),
        iter_self_s=mean("self_s"),
        master_compute_s=mean("master_s"),
        worker_compute_max_s=mean("worker_max_s"),
        worker_compute_s=mean("worker_sum_s"),
        worker_calls=mean("worker_calls"),
        idle_share=mean("idle_share"),
        model_bytes=mean("model_bytes"),
        result_bytes=mean("result_bytes"),
        iterations=len(rest),
    )
