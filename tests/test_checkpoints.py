"""Scoped checkpoint-block release (checkpoints.release_blocks, r18)."""

from __future__ import annotations

from apachebeamkmeans_spark.checkpoints import release_blocks


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_blocks_unpersists_only_its_own_rdd(spark):
    base = _n_persisted(spark)
    a = spark.range(100).localCheckpoint(eager=True)
    b = a.selectExpr("id + 1 AS y").localCheckpoint(eager=True)
    assert _n_persisted(spark) == base + 2
    release_blocks(b)
    assert _n_persisted(spark) == base + 1
    assert a.count() == 100  # a untouched by b's release
    release_blocks(a)
    assert _n_persisted(spark) == base


def test_release_blocks_noop_on_lazy_and_none(spark):
    base = _n_persisted(spark)
    lazy = spark.range(10).localCheckpoint(eager=False)
    release_blocks(lazy)     # never materialized — no-op, no error
    release_blocks(None)
    plain = spark.range(10)  # not a checkpoint at all
    release_blocks(plain)
    assert plain.count() == 10
    assert _n_persisted(spark) == base


def test_trainers_leave_no_persistent_blocks(spark, sf_dir):
    """ivf_train / pq_train / pca_train consume their checkpoints
    internally — after each returns, the block manager must hold no
    new persistent RDDs (the r17 leak class, now engine-owned)."""
    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.sources import io

    pts = io.load_points(spark, sf_dir)
    base = _n_persisted(spark)
    ANN.ivf_train(pts, 4, 2)
    assert _n_persisted(spark) == base
    ANN.pq_train(pts, 8, 4, 1)
    assert _n_persisted(spark) == base
    ANN.pca_train(pts, 2)
    assert _n_persisted(spark) == base


def test_release_blocks_of_derived_frame_releases_neither_checkpoint(spark):
    base = _n_persisted(spark)
    a = spark.range(100).localCheckpoint(eager=True)
    b = spark.range(50).localCheckpoint(eager=True)
    assert _n_persisted(spark) == base + 2
    release_blocks(a.join(b, "id"))  # root is a Join, not a checkpoint
    assert _n_persisted(spark) == base + 2
    assert a.join(b, "id").count() == 50
    release_blocks(a)
    release_blocks(b)
    assert _n_persisted(spark) == base


def test_duplicate_clusters_keeps_only_the_returned_checkpoint(spark):
    """Each propagation round supersedes the previous round's
    checkpoint; the loop's `labels` is a projection over it, so the
    release must target the checkpoint itself. Only the checkpoint
    under the returned labels may stay persisted, and a run that does
    not converge keeps none."""
    import pytest

    from apachebeamkmeans_spark.operators import dedup as DD

    def new_persisted():
        # ids, not a count: the context cleaner may unpersist an earlier
        # test's garbage-collected frame while this test runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - base

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "doc_a long, doc_b long"
    )
    base = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    # the 32-node path needs more than two rounds to converge; the
    # failed run releases every checkpoint it made
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.duplicate_clusters(pairs, max_rounds=2)
    assert new_persisted() == set()
    labels = DD.duplicate_clusters(pairs)
    assert len(new_persisted()) == 1
    assert {r["doc_id"]: r["cluster_id"] for r in labels.collect()} == {
        i: 0 for i in range(32)
    }
