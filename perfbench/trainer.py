"""The measured process: one Spark driver that sets up, then trains one
workload back to back (a closed loop with one client) for the run's
length, and pickles what it observed to ``--out``.

Run by ``perfbench/run.py``; it is not a user-facing entry point. All
timings are taken here, around calls into the package's public
functions, with ``time.monotonic`` (CLOCK_MONOTONIC, shared with the
parent process, which passes the instant it launched this one as
``--t0``).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

from guagua_spark import IterativeEngine, get_spark
from guagua_spark import algorithms as alg
from guagua_spark.shipping import ensure_shipped
from guagua_spark.sources import load_table
from guagua_spark.sources.readers import configure_splits
from perfbench import tracing as tr
from perfbench.workloads import WORKLOADS, Workload


@contextmanager
def _span(spans: dict, name: str):
    start = time.monotonic()
    try:
        yield
    finally:
        spans[name] = (start, time.monotonic())


def _warm_python_workers(it):
    """Python-worker warm-up task: import what a training task imports."""
    import pyarrow as pa

    import guagua_spark.algorithms  # noqa: F401
    import guagua_spark.engine  # noqa: F401

    rows = sum(b.num_rows for b in it)
    yield pa.RecordBatch.from_pydict({"rows": [rows]})


def _rows(row) -> int:
    return row.rows


def _make(w: Workload, meta: dict, traced: bool):
    """(master, worker) for one training; the traced variants are
    subclasses that only add measurement."""
    feats = [f"f{i}" for i in range(w.features)]
    if w.algorithm == "logistic":
        m = tr.TracedGradientDescentMaster if traced else alg.GradientDescentMaster
        wk = tr.TracedLogisticGradientWorker if traced else alg.LogisticGradientWorker
        return m(w.features, w.learning_rate), wk(feats, "label")
    if w.algorithm == "mlp":
        m = tr.TracedNNMaster if traced else alg.NNMaster
        wk = tr.TracedNNWorker if traced else alg.NNWorker
        return (
            m([w.features, w.hidden, 1], w.learning_rate, "backprop",
              seed=meta["init_seed"]),
            wk(feats, "label"),
        )
    m = tr.TracedKMeansMaster if traced else alg.KMeansMaster
    wk = tr.TracedKMeansWorker if traced else alg.KMeansWorker
    return (
        m(w.k, tolerance=0.0, init_centroids=np.asarray(meta["init_centroids"])),
        wk(w.k),
    )


def _scheduler_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks launched for one job group, read
    from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            s = st.getStageInfo(sid)
            ran = 0 if s is None else s.numCompletedTasks + s.numFailedTasks
            if ran:
                stages += 1
                tasks += ran
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    with open(os.path.join(args.data, f"{w.name}.json")) as f:
        meta = json.load(f)

    setup: dict[str, tuple[float, float]] = {}
    with _span(setup, "session.start"):
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{args.cores}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    sc = spark.sparkContext
    with _span(setup, "shipping.ensure"):
        ensure_shipped(sc)
    with _span(setup, "sources.load"):
        # one generated file per partition: an open cost as large as
        # the split size keeps the planner from packing files together
        configure_splits(spark, open_cost_bytes=128 * 1024 * 1024)
        df = load_table(spark, args.data, w.name)
    with _span(setup, "python.warmup"):
        # the same Arrow-task-to-RDD-task chain a load-once training
        # starts with; one row per partition
        warm = df.mapInArrow(_warm_python_workers, "rows long")
        partitions = len(warm.rdd.map(_rows).collect())
    ready = time.monotonic()

    acc = sc.accumulator([], tr.SpanListParam()) if args.trace else None
    trainings: list[dict] = []
    deadline = ready + args.seconds
    i = 0
    while True:
        # the traced run alternates untraced and traced trainings, so
        # tracing overhead is measured against trainings of the same run
        traced = bool(args.trace) and i % 2 == 1
        group = f"perfbench-{i}"
        sc.setJobGroup(group, f"perfbench training {i}")
        master, worker = _make(w, meta, traced)
        icpt = tr.IterationSpans() if traced else None
        engine = IterativeEngine(spark)
        rec: dict = {"index": i, "traced": traced, "group": group}
        start = time.monotonic()
        try:
            result = engine.run(
                master,
                worker,
                df,
                total_iteration=w.iterations,
                interceptors=[icpt] if icpt else (),
                worker_interceptors=[tr.WorkerSpans(acc, i)] if traced else (),
                combine_executor_side=w.combine_executor_side,
            )
            rec["result"] = pickle.dumps(result, protocol=pickle.HIGHEST_PROTOCOL)
        except Exception:  # a failed training is counted, not fatal
            rec["error"] = traceback.format_exc(limit=5)
        rec["start"], rec["end"] = start, time.monotonic()
        rec["iteration_seconds"] = list(engine.iteration_seconds)
        if traced:
            rec["iteration_spans"] = dict(icpt.spans)
            rec["master_spans"] = dict(getattr(master, "trace_spans", {}))
        trainings.append(rec)
        i += 1
        enough = not args.trace or i >= 3
        if time.monotonic() >= deadline and enough:
            break
    out = {
        "ready": ready,
        "setup": setup,
        "partitions": partitions,
        "trainings": trainings,
        "worker_spans": list(acc.value) if acc is not None else [],
    }
    if args.trace:
        sc.setJobGroup("perfbench-after", "perfbench bookkeeping")
        out["rows"] = df.count()
        # read after that extra job, so the status tracker has taken in
        # the events of the last training's final tasks
        for rec in trainings:
            rec.update(_scheduler_counts(sc, rec["group"]))
    tmp = args.out + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(out, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, args.out)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
