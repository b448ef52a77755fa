"""Benchmark-owned hooks that record spans through the engine's public
extension points. Nothing here changes what a training computes.

- ``IterationSpans`` (a ``MasterInterceptor``) records one
  ``engine.iteration`` span per iteration on the driver.
- The ``Traced*Master`` subclasses wrap ``compute`` in an
  ``algorithms.master_compute`` span and record the pickled size of
  the result it ships down (``engine.model_bytes``).
- ``WorkerSpans`` (a ``WorkerInterceptor``) runs on the executors and
  sends one ``algorithms.worker_compute`` span per task back through a
  Spark accumulator.
- The ``Traced*Worker`` subclasses record the pickled size of each
  worker partial (``engine.result_bytes``). They subclass the real
  worker, so the engine still sees the worker's own ``prepare`` and
  takes the same load-once path as an untraced training.

Spans stay in memory until the run ends. Executors pickle these classes
by reference, so this module must be importable on the workers: the
checkout root is on their ``PYTHONPATH``.
"""

from __future__ import annotations

import pickle
import time
from typing import Any

from pyspark.accumulators import AccumulatorParam

from guagua_spark.algorithms import (
    GradientDescentMaster,
    KMeansMaster,
    KMeansWorker,
    LogisticGradientWorker,
    NNMaster,
    NNWorker,
)
from guagua_spark.api import (
    MasterContext,
    MasterInterceptor,
    WorkerContext,
    WorkerInterceptor,
)


class SpanListParam(AccumulatorParam):
    """Accumulates lists of span tuples from tasks."""

    def zero(self, value: list) -> list:
        return []

    def addInPlace(self, a: list, b: list) -> list:
        a.extend(b)
        return a


class IterationSpans(MasterInterceptor):
    """Driver-side ``engine.iteration`` spans: {iteration: (start, end)}."""

    def __init__(self) -> None:
        self.spans: dict[int, tuple[float, float]] = {}
        self._start = 0.0

    def pre_iteration(self, context: MasterContext) -> None:
        self._start = time.monotonic()

    def post_iteration(self, context: MasterContext) -> None:
        self.spans[context.current_iteration] = (self._start, time.monotonic())


class _MasterSpans:
    """Records ``algorithms.master_compute`` spans in ``trace_spans``:
    {iteration: (start, end, pickled result bytes)}."""

    def compute(self, context: MasterContext) -> Any:
        start = time.monotonic()
        result = super().compute(context)
        end = time.monotonic()
        size = len(pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL))
        spans = self.__dict__.setdefault("trace_spans", {})
        spans[context.current_iteration] = (start, end, size)
        return result


class TracedGradientDescentMaster(_MasterSpans, GradientDescentMaster):
    pass


class TracedNNMaster(_MasterSpans, NNMaster):
    pass


class TracedKMeansMaster(_MasterSpans, KMeansMaster):
    pass


class WorkerSpans(WorkerInterceptor):
    """Executor-side ``algorithms.worker_compute`` spans around each
    task's ``init`` + compute. Each task adds
    ``(tag, iteration, partition, start, end, result_bytes)``."""

    def __init__(self, accumulator, tag: int) -> None:
        self.accumulator = accumulator
        self.tag = tag
        self._start = 0.0

    def pre_iteration(self, context: WorkerContext) -> None:
        self._start = time.monotonic()

    def post_iteration(self, context: WorkerContext) -> None:
        end = time.monotonic()
        size = context.attachment if isinstance(context.attachment, int) else 0
        self.accumulator.add(
            [(self.tag, context.current_iteration, context.partition_id,
              self._start, end, size)]
        )


class _ResultBytes:
    """Leaves the pickled size of the partial on ``context.attachment``
    for ``WorkerSpans`` to read."""

    def compute_prepared(self, context: WorkerContext, data: Any) -> Any:
        result = super().compute_prepared(context, data)
        context.attachment = len(
            pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)
        )
        return result


class TracedLogisticGradientWorker(_ResultBytes, LogisticGradientWorker):
    pass


class TracedNNWorker(_ResultBytes, NNWorker):
    pass


class TracedKMeansWorker(_ResultBytes, KMeansWorker):
    pass
