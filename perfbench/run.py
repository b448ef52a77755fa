"""Training benchmark for the iterative engine.

    python3 perfbench/run.py --workload lr_sched --seed 1 --seconds 3 --trace 0

Generates the workload's input from ``--seed`` (parquet under
``.perfbench_work/`` in the checkout), launches one Spark driver process
(``perfbench/trainer.py``) that sets up and then trains back to back
for ``--seconds``, samples the resident memory of that process tree,
replays the training in this process with numpy to check every
training's output, and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs traced
and untraced trainings and reports the per-layer metrics. See
``perfbench/README.md`` for what each metric means and which metric
each layer should move.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes lives here (git-ignored)
WORK = os.path.join(ROOT, ".perfbench_work")
#: the measured process must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 150.0


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# -- process tree -------------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid`` (the trainer, its JVM and the
    JVM's Python workers all inherit the trainer's session)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional resident memory (Pss): each page shared
    between processes, such as forked Python workers, counts once in
    total rather than once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakRss(threading.Thread):
    """Peak of the session's summed resident memory, sampled every
    0.5 s (reading a 2 GB JVM's smaps_rollup takes ~20 ms, so sampling
    faster would cost the measured process noticeable CPU)."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        n = 0
        pids: list[int] = []
        while not self._stop_event.is_set():
            if n % 2 == 0:
                pids = _session_pids(self.sid)
            n += 1
            self.peak = max(self.peak, _pss_bytes(pids))
            self._stop_event.wait(0.5)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def _reap(sid: int) -> None:
    """Terminate whatever is left of session ``sid`` and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)


# -- metrics --------------------------------------------------------------------


def _duration(span) -> float:
    return span[1] - span[0]


def _end_to_end(w, out: dict, t0: float, peak_rss: int, timed: list[dict]) -> tuple:
    from perfbench.stats import tail

    trains = [t["end"] - t["start"] for t in timed]
    iters = [s for t in timed for s in t["iteration_seconds"][1:]]
    train_s = statistics.median(trains)
    tl = tail(iters)
    return {
        "setup_s": (out["ready"] - t0, "s"),
        "train_s": (train_s, "s"),
        "iter_p50_s": (statistics.median(iters), "s"),
        "iter_tail_s": (tl.value, "s"),
        "samples_per_s": (w.rows * w.iterations / train_s, "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }, tl


def _per_layer(out: dict, cores: int, timed: list[dict]) -> tuple:
    from perfbench.stats import breakdown, summarize

    traced = [t for t in out["trainings"] if t["traced"] and "result" in t]
    by_tag: dict[int, list] = {}
    for tag, it, _pid, s, e, size in out["worker_spans"]:
        by_tag.setdefault(tag, []).append((it, s, e, size))
    per_training = []
    calls = tasks = 0
    for t in traced:
        spans = by_tag.get(t["index"], [])
        calls += len(spans)
        tasks += t["tasks"]
        its = []
        for it in sorted(t["iteration_spans"]):
            ws = [(s, e) for i, s, e, _ in spans if i == it]
            m = t["master_spans"].get(it)
            its.append(
                breakdown(
                    t["iteration_spans"][it],
                    [m[:2]] if m else [],
                    ws,
                    cores,
                    model_bytes=m[2] if m else 0,
                    result_bytes=sum(sz for i, _, _, sz in spans if i == it),
                )
            )
        per_training.append(its)
    lay = summarize(per_training)
    everything = [t for t in out["trainings"] if "result" in t]
    n_iter = sum(len(t["iteration_seconds"]) for t in everything)
    # the process's first training is the slowest (the JVM is still
    # compiling its per-job paths), and it is always untraced: leave it
    # out so the overhead compares warm trainings on both sides
    warm = [t for t in timed if t["index"] > 0] or timed
    untraced = statistics.median(t["end"] - t["start"] for t in warm)
    traced_s = statistics.median(t["end"] - t["start"] for t in traced)
    setup = out["setup"]
    return {
        "session.start_s": (_duration(setup["session.start"]), "s"),
        "sources.load_s": (_duration(setup["sources.load"]), "s"),
        "sources.rows": (out["rows"], "count"),
        "shipping.ensure_s": (_duration(setup["shipping.ensure"]), "s"),
        "engine.prepare_s": (lay.prepare_s, "s"),
        "engine.iteration_span_s": (lay.iteration_span_s, "s"),
        "engine.iter_self_s": (lay.iter_self_s, "s"),
        "engine.jobs_per_iter": (sum(t["jobs"] for t in everything) / n_iter, "count"),
        "engine.stages_per_iter": (
            sum(t["stages"] for t in everything) / n_iter, "count"
        ),
        "engine.tasks_per_iter": (sum(t["tasks"] for t in everything) / n_iter, "count"),
        "engine.useful_task_ratio": (calls / tasks, "ratio"),
        "engine.model_bytes": (lay.model_bytes, "B"),
        "engine.result_bytes": (lay.result_bytes, "B"),
        "engine.idle_share": (lay.idle_share, "ratio"),
        "algorithms.worker_compute_s": (lay.worker_compute_s, "s"),
        "algorithms.worker_compute_max_s": (lay.worker_compute_max_s, "s"),
        "algorithms.worker_calls": (lay.worker_calls, "count"),
        "algorithms.master_compute_s": (lay.master_compute_s, "s"),
        "trace.overhead_s": (traced_s - untraced, "s"),
    }, lay


# -- main -----------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "guagua_spark", "engine.py")):
        return _fail(f"no guagua_spark package under {ROOT}; run from a checkout")
    env = dict(os.environ)
    # the replay below spreads row chunks over threads; one BLAS thread
    # each keeps them from oversubscribing the cores (set before numpy
    # loads, and only for this process: the trainer gets ``env``)
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    w = workloads.WORKLOADS.get(args.workload)
    if w is None:
        return _fail(
            f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}"
        )
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(WORK, f"run{os.getpid()}")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    workloads.generate(w, args.seed, data, cores)
    tmpdir = os.path.join(run_dir, "tmp")
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": tmpdir,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_SUBMIT_OPTS": (
            env.get("SPARK_SUBMIT_OPTS", "")
            + f" -Djava.io.tmpdir={tmpdir} -XX:-UsePerfData"
        ).strip(),
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out_path = os.path.join(run_dir, "trainer.pkl")
    log_path = os.path.join(run_dir, "trainer.log")
    t0 = time.monotonic()
    with open(log_path, "wb") as log:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.trainer",
             "--workload", w.name, "--data", data, "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--t0", repr(t0), "--cores", str(cores),
             "--out", out_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = PeakRss(child.pid)
        sampler.start()
        out = expected = code = None
        try:
            # the trainer writes what it observed before it stops Spark,
            # so the replay overlaps that shutdown
            while not os.path.exists(out_path) and child.poll() is None:
                if time.monotonic() - t0 > CHILD_TIMEOUT_S:
                    break
                time.sleep(0.05)
            peak = sampler.stop()
            if os.path.exists(out_path):
                with open(out_path, "rb") as f:
                    out = pickle.load(f)  # written by our own trainer process
                expected = workloads.replay(w, data, cores)
            left = CHILD_TIMEOUT_S + 10.0 - (time.monotonic() - t0)
            code = child.wait(timeout=max(1.0, left))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop()
            _reap(child.pid)
            child.wait()
    failure = None
    if code != 0 or out is None:
        with open(log_path, "rb") as f:
            tail_log = f.read()[-4000:].decode(errors="replace")
        failure = f"trainer {'timed out' if code is None else f'exited {code}'}\n{tail_log}"
    shutil.rmtree(run_dir, ignore_errors=True)
    if failure:
        return _fail(failure)

    failed = 0
    for t in out["trainings"]:
        if "result" in t:
            reason = workloads.check(w, pickle.loads(t["result"]), expected)
            if reason:
                t["error"] = reason
        if "error" in t:
            failed += 1
            print(f"# training {t['index']} failed: {t['error']}", file=sys.stderr)
    attempted = len(out["trainings"])
    timed = [t for t in out["trainings"] if not t["traced"] and "result" in t]
    if not timed or (
        args.trace and not any(t["traced"] and "result" in t for t in out["trainings"])
    ):
        return _fail("no training returned a result")

    e2e, tl = _end_to_end(w, out, t0, peak, timed)
    print(f"# workload {w.name}: {w.rows} rows x {w.features} features, "
          f"{out['partitions']} partitions on {cores} cores, "
          f"{w.iterations} iterations, seed {args.seed}")
    print(f"# trainings attempted {attempted}, failed {failed}, "
          f"failed_frac {failed / attempted:.4f}")
    # one sample per run, too noisy to hold to a regression bound
    first = statistics.median(t["iteration_seconds"][0] for t in timed)
    print(f"# first_iter_s {first:.6f} s (reported, not gated)")
    print(f"# iter_tail_s is p{tl.pct:g} of {tl.samples} iterations"
          + ("" if tl.qualified else
             " (fewer than 20 samples: no percentile has 10 beyond it, so this"
             " is the median)"))
    metrics = e2e
    if args.trace:
        metrics, lay = _per_layer(out, cores, timed)
        resid = lay.iteration_span_s - (
            lay.iter_self_s + lay.worker_compute_max_s + lay.master_compute_s
        )
        print(f"# iter_self + worker_compute_max + master_compute - "
              f"iteration_span = {resid:.3g} s over {lay.iterations} iterations")
    print("# setup spans: " + ", ".join(
        f"{k} {_duration(v):.3f} s" for k, v in out["setup"].items()))
    for name, (value, unit) in metrics.items():
        print(f"# {name:32s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
