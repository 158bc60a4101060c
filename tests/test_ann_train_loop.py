"""The ANN trainers' shared fixed-iteration Lloyd loop
(`ann_train._fixed_lloyd` over `lloyd._lloyd_step`): the
empty-cluster rule, the job budget and the per-iteration log."""

from __future__ import annotations

import logging
import random

import numpy as np
import pytest

from apachebeamkmeans_spark.operators import ann_train as ANN
from apachebeamkmeans_spark.sources import io
from job_ledger import jobs_and_stages

SEED = "dup"
K = 3
DIM = 8
M = 4


@pytest.fixture(scope="module")
def dup_seeds(spark):
    """(frame, ids, matrix): the two rows first in hash01(id, SEED) order
    are the same far point, so the first two seeds coincide; every
    other row lies in [-1, 1]^DIM, and the third seed is one of them."""
    rng = random.Random(3)
    ids = list(range(60))
    first = sorted(ids, key=lambda i: (ANN.py_hash01(i, SEED), i))[:2]
    mat = np.array([[100.0] * DIM if i in first
                    else [rng.uniform(-1, 1) for _ in range(DIM)] for i in ids])
    df = spark.createDataFrame([(i, row.tolist()) for i, row in zip(ids, mat)],
                               "id long, features array<double>")
    return df, np.array(ids), mat


def test_ivf_duplicate_seed_keeps_its_seed_value(dup_seeds):
    """Under the first-minimum rule the later of two equal centers gets
    no members, so it keeps its seed value; the trainer still equals
    its numpy twin."""
    df, ids, mat = dup_seeds
    centers = ANN.ivf_train(df, K, 3, SEED)
    assert centers[1] == [100.0] * DIM
    assert ANN.round_mat(centers) == ANN.round_mat(ANN.ivf_train_np(ids, mat, K, 3, SEED))


def test_pq_duplicate_seed_keeps_its_seed_value(dup_seeds):
    df, ids, mat = dup_seeds
    books = ANN.pq_train(df, M, K, 3, SEED)
    assert all(book[1] == [100.0] * (DIM // M) for book in books)
    want = ANN.pq_train_np(ids, mat, M, K, 3, SEED)
    assert [ANN.round_mat(b) for b in books] == [ANN.round_mat(b) for b in want]


@pytest.mark.parametrize("n_iters", [1, 3])
def test_trainers_run_one_job_per_iteration(spark, sf_dir, n_iters):
    """The seed draw is one job of one stage and every iteration one
    more: the staged input materializes inside the first iteration's
    job, and the step has no exchange, so AQE has nothing to split."""
    pts = io.load_points(spark, sf_dir)
    budget = (1 + n_iters, 1 + n_iters)
    assert jobs_and_stages(spark, f"ivf_train.{n_iters}",
                           lambda: ANN.ivf_train(pts, 4, n_iters)) == budget
    assert jobs_and_stages(spark, f"pq_train.{n_iters}",
                           lambda: ANN.pq_train(pts, 8, 4, n_iters)) == budget


def test_trainer_loop_logs_each_iteration(dup_seeds, caplog):
    df, _, _ = dup_seeds
    with caplog.at_level(logging.INFO, logger=ANN.__name__):
        ANN.ivf_train(df, K, 3, SEED)
        ANN.pq_train(df, M, K, 2, SEED)
    recs = [r for r in caplog.records if hasattr(r, "iteration")]
    assert [r.iteration for r in recs] == [1, 2, 3, 1, 2]
    assert all(r.delta >= 0 for r in recs)
    # the first IVF iteration moves the cloud's seed to the cloud's mean
    assert recs[0].delta > 0
