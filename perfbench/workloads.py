"""Workload definitions: seeded input generation and the single-process
numpy replay that checks each training's output.

Each workload plants known parameters (teacher weights, a teacher
network, cluster centres) so the trained model is not trivial, writes
one parquet file per partition (the session plans one file as one
partition), and can replay its training in one process without Spark.
The replay is an independent numpy implementation of the same update
rule, so a check failure points at the engine or the algorithm, never
at shared code.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    algorithm: str  # "logistic" | "mlp" | "kmeans"
    rows: int
    features: int
    partitions_per_core: float
    iterations: int
    #: combine partials executor-side (treeReduce) instead of collecting
    combine_executor_side: bool | None = None
    hidden: int = 0
    k: int = 0
    learning_rate: float = 0.0


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "lr_sched", "logistic", rows=400_000, features=8,
            partitions_per_core=1, iterations=16, learning_rate=2.0,
        ),
        Workload(
            "nn_compute", "mlp", rows=480_000, features=16,
            partitions_per_core=1, iterations=8, hidden=64,
            learning_rate=2.0,
        ),
        Workload(
            "kmeans_wide", "kmeans", rows=24_000, features=64,
            partitions_per_core=1.5, iterations=8, k=1024,
            combine_executor_side=True,
        ),
    )
}

#: tolerance of the output check. The engine sums partials in partition
#: order (or a treeReduce order) where the replay sums per row chunk, so
#: results differ by float64 rounding that a few iterations amplify by
#: at most a few orders of magnitude.
RTOL = 1e-6
ATOL = 1e-9
#: row chunks the replay splits each pass into (bounds its temporaries)
REPLAY_CHUNKS = 16


# -- generation -------------------------------------------------------------


def partitions(w: Workload, cores: int) -> int:
    return max(1, round(w.partitions_per_core * cores))


def _teacher_mlp(rng: np.random.Generator, d: int) -> list[np.ndarray]:
    return [rng.normal(0, 1.5 / np.sqrt(d), size=(d, 8)),
            rng.normal(0, 1.5, size=(8, 1))]


def generate(w: Workload, seed: int, out_dir: str, cores: int) -> None:
    """Write ``out_dir/<name>.parquet/part-NNNNN.parquet`` (one file per
    partition) and ``out_dir/<name>.json`` (the planted parameters the
    training needs). Same seed, same bytes."""
    rng = np.random.default_rng([seed, len(w.name)] + [ord(c) for c in w.name])
    parts = partitions(w, cores)
    n, d = w.rows, w.features
    x = rng.normal(size=(n, d))
    meta: dict = {"seed": seed}
    cols: dict[str, np.ndarray] = {}
    if w.algorithm == "logistic":
        true_w = rng.normal(size=d + 1)
        z = x @ true_w[1:] + true_w[0]
        y = (rng.random(n) < 1.0 / (1.0 + np.exp(-z))).astype(np.float64)
        meta["true_weights"] = true_w.tolist()
        cols = {f"f{i}": x[:, i] for i in range(d)}
        cols["label"] = y
    elif w.algorithm == "mlp":
        t1, t2 = _teacher_mlp(rng, d)
        h = 1.0 / (1.0 + np.exp(-(x @ t1)))
        y = 1.0 / (1.0 + np.exp(-(h @ t2 - 0.5 * t2.sum())))
        cols = {f"f{i}": x[:, i] for i in range(d)}
        cols["label"] = y[:, 0]
        meta["init_seed"] = int(rng.integers(1 << 30))
    else:
        centres = rng.normal(0, 4.0, size=(w.k, d))
        tags = rng.integers(0, w.k, size=n)
        x = centres[tags] + rng.normal(size=(n, d))
        init = x[rng.choice(n, size=w.k, replace=False)]
        meta["init_centroids"] = init.tolist()
    root = os.path.join(out_dir, f"{w.name}.parquet")
    os.makedirs(root, exist_ok=True)
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for p in range(parts):
        lo, hi = bounds[p], bounds[p + 1]
        if w.algorithm == "kmeans":
            table = pa.table({
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(x[lo:hi].ravel()), d
                ).cast(pa.list_(pa.float64()))
            })
        else:
            table = pa.table({c: v[lo:hi] for c, v in cols.items()})
        pq.write_table(
            table, os.path.join(root, f"part-{p:05d}.parquet"), compression="none"
        )
    with open(os.path.join(out_dir, f"{w.name}.json"), "w") as f:
        json.dump(meta, f)


def load_matrix(w: Workload, data_dir: str) -> tuple[np.ndarray, np.ndarray | None]:
    """The generated input as one (X, y) in partition order, for the
    replay — read straight from the parquet files, no Spark."""
    root = os.path.join(data_dir, f"{w.name}.parquet")
    files = sorted(f for f in os.listdir(root) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(root, f)) for f in files]
    t = pa.concat_tables(tables)
    if w.algorithm == "kmeans":
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        return flat.reshape(t.num_rows, w.features), None
    x = np.column_stack(
        [t.column(f"f{i}").to_numpy() for i in range(w.features)]
    )
    return x, t.column("label").to_numpy()


# -- single-process replay ----------------------------------------------------


def _sig(z: np.ndarray) -> np.ndarray:
    return 0.5 * (1.0 + np.tanh(0.5 * z))


def replay_logistic(w: Workload, x: np.ndarray, y: np.ndarray) -> dict:
    xb = np.concatenate([np.ones((x.shape[0], 1)), x], axis=1)
    wt = np.zeros(w.features + 1)
    loss = float("inf")
    for _ in range(w.iterations):
        err = _sig(xb @ wt) - y
        loss = float(err @ err) / len(y)
        wt = wt - w.learning_rate * (xb.T @ err) / len(y)
    return {"weights": wt, "loss": loss}


def _xavier(layers: list[int], seed: int) -> list[tuple[np.ndarray, np.ndarray]]:
    rng = np.random.default_rng(seed)
    out = []
    for a, b in zip(layers[:-1], layers[1:]):
        bound = np.sqrt(6.0 / (a + b))
        out.append((rng.uniform(-bound, bound, size=(a, b)), np.zeros(b)))
    return out


def _row_chunks(n: int, parts: int) -> list[slice]:
    bounds = np.linspace(0, n, parts + 1).astype(int)
    return [slice(a, b) for a, b in zip(bounds[:-1], bounds[1:]) if b > a]


def _map_rows(pool: ThreadPoolExecutor, fn, n: int) -> list:
    """``fn(rows)`` over row chunks on the pool's threads (numpy releases
    the GIL inside the kernels used here), results in chunk order."""
    return list(pool.map(fn, _row_chunks(n, REPLAY_CHUNKS)))


def replay_mlp(
    w: Workload, x: np.ndarray, y: np.ndarray, init_seed: int,
    pool: ThreadPoolExecutor,
) -> dict:
    """Full-batch backprop with momentum 0.5 on squared error, sigmoid
    units throughout."""
    weights = _xavier([w.features, w.hidden, 1], init_seed)
    vel = [np.zeros_like(a) for pair in weights for a in pair]
    yc = y.reshape(-1, 1)
    n = x.shape[0]
    err_first = err_last = float("nan")
    for it in range(w.iterations):
        (w1, b1), (w2, b2) = weights

        def grad(rows: slice):
            h = _sig(x[rows] @ w1 + b1)
            out = _sig(h @ w2 + b2)
            e = out - yc[rows]
            d2 = e * out * (1 - out)
            d1 = (d2 @ w2.T) * h * (1 - h)
            return (float(np.sum(e * e)),
                    [x[rows].T @ d1, d1.sum(axis=0), h.T @ d2, d2.sum(axis=0)])

        parts = _map_rows(pool, grad, n)
        err_last = sum(p[0] for p in parts) / n
        if it == 0:
            err_first = err_last
        grads = [sum(p[1][i] for p in parts) for i in range(4)]
        flat = [a for pair in weights for a in pair]
        vel = [0.5 * v - w.learning_rate * g / n for v, g in zip(vel, grads)]
        flat = [a + v for a, v in zip(flat, vel)]
        weights = [(flat[0], flat[1]), (flat[2], flat[3])]
    return {"weights": weights, "train_error": err_last,
            "first_error": err_first}


def replay_kmeans(
    w: Workload, x: np.ndarray, init: np.ndarray, pool: ThreadPoolExecutor
) -> dict:
    """Iteration 1 adopts the given initial centroids (the engine's
    init round); iterations 2..N are Lloyd steps. Empty clusters keep
    their centroid."""
    c = init.copy()
    for _ in range(w.iterations - 1):
        c2 = np.sum(c * c, axis=1)

        def assign(rows: slice):
            tags = np.argmin(-2.0 * (x[rows] @ c.T) + c2, axis=1)
            sums = np.zeros_like(c)
            np.add.at(sums, tags, x[rows])
            return sums, np.bincount(tags, minlength=w.k)

        parts = _map_rows(pool, assign, x.shape[0])
        sums = sum(p[0] for p in parts)
        counts = sum(p[1] for p in parts).astype(np.float64)
        mask = counts > 0
        c[mask] = sums[mask] / counts[mask, None]
    return {"centroids": c}


def replay(w: Workload, data_dir: str, threads: int) -> dict:
    """The expected final model: the training replayed in this process
    over the generated files, row chunks spread over ``threads``."""
    with open(os.path.join(data_dir, f"{w.name}.json")) as f:
        meta = json.load(f)
    x, y = load_matrix(w, data_dir)
    if w.algorithm == "logistic":
        return replay_logistic(w, x, y)
    with ThreadPoolExecutor(max_workers=threads) as pool:
        if w.algorithm == "mlp":
            return replay_mlp(w, x, y, meta["init_seed"], pool)
        return replay_kmeans(w, x, np.asarray(meta["init_centroids"]), pool)


def check(w: Workload, result, expected: dict) -> str | None:
    """None when the engine's final master result matches the replay
    within RTOL/ATOL, else a one-line reason."""
    def close(a, b) -> bool:
        return bool(np.allclose(a, b, rtol=RTOL, atol=ATOL))

    if w.algorithm == "logistic":
        if not close(result.weights, expected["weights"]):
            return "logistic weights differ from the replay"
        if not close(result.loss, expected["loss"]):
            return "logistic loss differs from the replay"
        return None
    if w.algorithm == "mlp":
        for (gw, gb), (ew, eb) in zip(result.weights, expected["weights"]):
            if not (close(gw, ew) and close(gb, eb)):
                return "MLP weights differ from the replay"
        if not close(result.train_error, expected["train_error"]):
            return "MLP training error differs from the replay"
        if not result.train_error < expected["first_error"]:
            return "MLP training error did not fall"
        return None
    if not close(result.centroids, expected["centroids"]):
        return "k-means centroids differ from the replay"
    return None
