"""Self-tests of the benchmark's own arithmetic and input generation.

    python3 -m pytest perfbench -q

No Spark session: these drive ``perfbench.stats`` with synthetic spans
and ``perfbench.workloads`` with tiny inputs.
"""

from __future__ import annotations

import dataclasses
import json

import numpy as np
import pytest

from perfbench import stats, workloads


# -- tail percentile ----------------------------------------------------------


def test_tail_needs_ten_samples_beyond() -> None:
    # 40 samples: p75 has exactly 10 beyond it, p90 only 4
    t = stats.tail([float(i) for i in range(40)])
    assert (t.pct, t.samples, t.qualified) == (75.0, 40, True)
    assert t.value == pytest.approx(29.25)


def test_tail_climbs_with_sample_count() -> None:
    assert stats.tail([1.0] * 100).pct == 90.0
    assert stats.tail([1.0] * 199).pct == 90.0
    assert stats.tail([1.0] * 200).pct == 95.0
    assert stats.tail([1.0] * 1000).pct == 99.0


def test_tail_with_too_few_samples_is_the_median() -> None:
    t = stats.tail([5.0, 1.0, 3.0])
    assert (t.value, t.pct, t.qualified) == (3.0, 50.0, False)
    # 20 samples: the median has exactly 10 beyond it
    assert stats.tail([float(i) for i in range(20)]).qualified


# -- self time ------------------------------------------------------------------


def test_self_time_sequential_children() -> None:
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_overlapping_children_count_once() -> None:
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)
    # a child nested inside another adds nothing
    assert stats.self_time((0.0, 10.0), [(1.0, 6.0), (2.0, 3.0)]) == pytest.approx(5.0)


def test_self_time_parallel_executor_children() -> None:
    # four tasks running side by side on four executor cores cover
    # their common interval once, not four times
    tasks = [(2.0, 5.0), (2.1, 5.2), (2.05, 4.9), (2.2, 5.1)]
    assert stats.self_time((0.0, 8.0), tasks) == pytest.approx(8.0 - 3.2)


def test_self_time_clips_children_to_parent() -> None:
    assert stats.self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0)]) == pytest.approx(2.0)
    assert stats.self_time((2.0, 6.0), [(7.0, 9.0)]) == pytest.approx(4.0)


def test_breakdown_identity_and_slowest_worker() -> None:
    # engine ships the model (0-1), four workers run in parallel (1-3.5),
    # the engine collects (3.5-4), the master computes (4-4.5)
    workers = [(1.0, 3.0), (1.1, 3.5), (1.0, 2.5), (1.2, 3.2)]
    b = stats.breakdown((0.0, 5.0), [(4.0, 4.5)], workers, cores=4)
    assert b.worker_max_s == pytest.approx(2.4)
    assert b.master_s == pytest.approx(0.5)
    assert b.self_s == pytest.approx(5.0 - 2.4 - 0.5)
    assert b.self_s + b.worker_max_s + b.master_s == pytest.approx(b.span_s)
    assert b.worker_sum_s == pytest.approx(2.0 + 2.4 + 1.5 + 2.0)
    assert b.worker_calls == 4


def test_breakdown_two_waves() -> None:
    # six tasks on four cores: the second wave starts when the first
    # frees a core; only the slowest single task counts as blocking
    workers = [(0.0, 1.0)] * 4 + [(1.0, 2.0)] * 2
    b = stats.breakdown((0.0, 2.5), [], workers, cores=4)
    assert b.worker_max_s == pytest.approx(1.0)
    assert b.self_s == pytest.approx(1.5)
    assert b.idle_share == pytest.approx(1.0 - 6.0 / (2.5 * 4))


def test_idle_share() -> None:
    assert stats.idle_share(4.0, 1.0, 4) == pytest.approx(0.0)
    assert stats.idle_share(1.0, 2.0, 4) == pytest.approx(0.875)
    with pytest.raises(ValueError):
        stats.idle_share(1.0, 0.0, 4)


def test_summarize_keeps_identity_and_separates_prepare() -> None:
    def it(span: float) -> stats.IterationBreakdown:
        return stats.breakdown(
            (0.0, span), [(span - 0.1, span)], [(0.2, 0.2 + span / 2)], cores=2
        )

    s = stats.summarize([[it(4.0), it(1.0), it(2.0)], [it(5.0), it(1.5)]])
    assert s.iterations == 3
    assert s.prepare_s == pytest.approx(((4.0 - 2.0 - 0.1) + (5.0 - 2.5 - 0.1)) / 2)
    assert s.iteration_span_s == pytest.approx(1.5)
    assert s.iter_self_s + s.worker_compute_max_s + s.master_compute_s == pytest.approx(
        s.iteration_span_s
    )


# -- generation and replay -------------------------------------------------------


def _tiny(name: str) -> workloads.Workload:
    w = workloads.WORKLOADS[name]
    return dataclasses.replace(w, rows=600, k=min(w.k, 8), iterations=3)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generation_is_seeded(tmp_path, name: str) -> None:
    w = _tiny(name)
    workloads.generate(w, 7, str(tmp_path / "a"), cores=2)
    workloads.generate(w, 7, str(tmp_path / "b"), cores=2)
    workloads.generate(w, 8, str(tmp_path / "c"), cores=2)
    xa, ya = workloads.load_matrix(w, str(tmp_path / "a"))
    xb, _ = workloads.load_matrix(w, str(tmp_path / "b"))
    xc, _ = workloads.load_matrix(w, str(tmp_path / "c"))
    assert xa.shape == (600, w.features)
    assert np.array_equal(xa, xb)
    assert not np.array_equal(xa, xc)
    n_files = len(list((tmp_path / "a" / f"{name}.parquet").iterdir()))
    assert n_files == workloads.partitions(w, 2)


def test_replay_logistic_learns_the_planted_weights(tmp_path) -> None:
    w = dataclasses.replace(workloads.WORKLOADS["lr_sched"], rows=20_000, iterations=200)
    workloads.generate(w, 3, str(tmp_path), cores=1)
    got = workloads.replay(w, str(tmp_path), threads=1)
    planted = np.array(json.loads((tmp_path / "lr_sched.json").read_text())["true_weights"])
    cos = got["weights"] @ planted / np.linalg.norm(got["weights"]) / np.linalg.norm(planted)
    assert cos > 0.95


def test_replay_does_not_depend_on_thread_count(tmp_path) -> None:
    for name in ("nn_compute", "kmeans_wide"):
        w = _tiny(name)
        workloads.generate(w, 5, str(tmp_path), cores=2)
        one = workloads.replay(w, str(tmp_path), threads=1)
        four = workloads.replay(w, str(tmp_path), threads=4)
        key = "centroids" if name == "kmeans_wide" else "train_error"
        assert np.allclose(one[key], four[key], rtol=1e-12)
