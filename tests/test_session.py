"""Session-conf scopes (session.scoped_conf / driver_loop_conf): every
temporary conf override restores the session exactly, including when
scopes overlap across threads."""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from apachebeamkmeans_spark.session import driver_loop_conf, scoped_conf

AQE = "spark.sql.adaptive.enabled"
UNSET_KEY = "spark.apachebeamkmeans.test.scopedConf"
WAIT_S = 60


def test_overlapped_driver_loops_restore_aqe(spark):
    """The second entrant reads the first one's "false" on entry and
    exits last; the session must still end with AQE on."""
    assert spark.conf.get(AQE) == "true"
    first_in = threading.Event()
    first_out = threading.Event()
    both_in = threading.Barrier(2, timeout=WAIT_S)

    def first():
        with driver_loop_conf(spark):
            first_in.set()
            both_in.wait()
        first_out.set()

    def second():
        assert first_in.wait(WAIT_S)
        with driver_loop_conf(spark):
            assert spark.conf.get(AQE) == "false"
            both_in.wait()
            assert first_out.wait(WAIT_S)
            return spark.conf.get(AQE)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_first, fut_second = pool.submit(first), pool.submit(second)
        fut_first.result()
        held_after_first_exit = fut_second.result()
    assert spark.conf.get(AQE) == "true"
    assert held_after_first_exit == "false"  # the first exit restored nothing


def test_scope_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, UNSET_KEY, "on"):
        assert spark.conf.get(UNSET_KEY) == "on"
        with scoped_conf(spark, UNSET_KEY, "on"):  # nested join
            assert spark.conf.get(UNSET_KEY) == "on"
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scope_restores_on_exception(spark):
    with pytest.raises(ZeroDivisionError):
        with driver_loop_conf(spark):
            assert spark.conf.get(AQE) == "false"
            1 / 0
    assert spark.conf.get(AQE) == "true"


def test_conflicting_value_from_another_thread_raises(spark):
    def enter_b():
        with scoped_conf(spark, UNSET_KEY, "b"):
            pass

    with scoped_conf(spark, UNSET_KEY, "a"):
        with ThreadPoolExecutor(max_workers=1) as pool:
            with pytest.raises(RuntimeError, match="held"):
                pool.submit(enter_b).result()
        assert spark.conf.get(UNSET_KEY) == "a"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scope_stress_many_threads(spark):
    """More threads than cores churn one key with a short switch
    interval: every reader inside a scope sees the held value, and the
    key ends unset — a lost depth update would leak or unset early."""
    def churn():
        seen = set()
        for _ in range(40):
            with scoped_conf(spark, UNSET_KEY, "x"):
                seen.add(spark.conf.get(UNSET_KEY, None))
        return seen

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [pool.submit(churn) for _ in range(16)]
            seen = set().union(*(f.result(timeout=WAIT_S) for f in futs))
    finally:
        sys.setswitchinterval(interval)
    assert seen == {"x"}
    assert spark.conf.get(UNSET_KEY, None) is None


def test_pq_index_train_leaves_aqe_as_found(spark, sf_dir, tmp_path):
    """AnnIndex.train's PQ tier overlaps the coarse and PQ trainers in
    two threads, each inside driver_loop_conf."""
    from apachebeamkmeans_spark.ann import AnnIndex
    from apachebeamkmeans_spark.sources import io

    before = spark.conf.get(AQE, None)
    emb = io.read_table(spark, sf_dir, "embeddings")
    AnnIndex.train(spark, emb, str(tmp_path / "idx"), k=4, pq_m=8,
                   pq_ksub=16)
    assert spark.conf.get(AQE, None) == before
