"""Tests of the benchmark's own code (not of the package under test).

    python3 -m pytest sparkbench/test_sparkbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data import (distance_ratio, exact_knn, exact_top_pairs, pair_recall,  # noqa: E402
                  recall_at_k, tail_percentile, topic_mixture)

GEN = dict(n_topics=8, latent=6, spread=1.0, noise=0.2)


def test_generator_is_a_function_of_the_seed():
    a = topic_mixture(7, 500, 20, 16, **GEN)
    b = topic_mixture(7, 500, 20, 16, **GEN)
    c = topic_mixture(8, 500, 20, 16, **GEN)
    assert all(x.dtype == np.float32 for x in a)
    assert a[0].tobytes() == b[0].tobytes() and a[1].tobytes() == b[1].tobytes()
    assert a[0].tobytes() != c[0].tobytes()


def test_exact_knn_matches_brute_force():
    base, queries = topic_mixture(1, 300, 15, 8, **GEN)
    ids, d2 = exact_knn(base, queries, k=5, chunk=4)
    full = ((queries[:, None, :].astype(np.float64) - base[None].astype(np.float64)) ** 2).sum(-1)
    want = np.argsort(full, axis=1, kind="stable")[:, :5]
    assert (ids == want).all()
    assert np.allclose(d2, np.take_along_axis(full, want, axis=1))


def test_exact_top_pairs_matches_brute_force():
    emb, _ = topic_mixture(2, 60, 1, 8, **GEN)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sims = unit.astype(np.float64) @ unit.T.astype(np.float64)
    pairs = sorted(((a, b) for a in range(60) for b in range(a + 1, 60)),
                   key=lambda p: (-sims[p], p))
    assert exact_top_pairs(emb, 7) == pairs[:7]


def test_recall_on_hand_built_cases():
    truth = np.array([[1, 2, 3], [4, 5, 6]])
    assert recall_at_k(truth, truth) == 1.0
    assert recall_at_k(np.array([[3, 2, 9], [7, 8, 9]]), truth) == pytest.approx(2 / 6)


def test_distance_ratio_on_hand_built_case():
    base = np.array([[1.0, 0.0], [2.0, 0.0], [4.0, 0.0]], dtype=np.float32)
    q = np.zeros((1, 2), dtype=np.float32)
    truth_sq = np.array([[1.0, 4.0]])
    assert distance_ratio(base, q, np.array([[1, 0]]), truth_sq) == pytest.approx(1.0)
    # found {1, 2} against true {0, 1}: ranks compare 2/1 and 4/2
    assert distance_ratio(base, q, np.array([[2, 1]]), truth_sq) == pytest.approx(2.0)


def test_pair_recall_on_hand_built_case():
    truth = [(0, 1), (2, 3), (4, 5), (6, 7)]
    assert pair_recall([(2, 3), (0, 1), (8, 9), (1, 4)], truth) == 0.5


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples: p90 is the 90th, ten lie above
    assert tail_percentile(xs) == (90.0, 90, 100)
    pct, val, n = tail_percentile(list(range(40)))
    assert (pct, val, n) == (75.0, 29, 40)
    assert sum(x > val for x in range(40)) == 10
    # under 20 samples nothing past the median qualifies
    assert tail_percentile([5.0, 1.0, 3.0]) == (50.0, 3.0, 3)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("sparkbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_status_store_accounting_on_a_trivial_job(spark):
    from probes import Traced, job_floor_ms

    n = 5
    jsc = spark.sparkContext._jsc
    count, rec = Traced(spark, True).call(lambda: None,
                                          lambda _: jsc.parallelize(list(range(n)), n).count())
    assert count == n
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (1, 1, n)
    assert rec["shuffle_read_mb"] == 0 and rec["shuffle_write_mb"] == 0
    assert rec["wall_s"] >= rec["execute_s"] > 0
    # untraced calls only time, and leave no job group behind
    _, plain = Traced(spark, False).call(lambda: None, lambda _: jsc.parallelize([1], 1).count())
    assert "jobs" not in plain
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert job_floor_ms(spark, reps=3) > 0
