"""Checkpoint-block release: `checkpoints.staged` for frames consumed
inside a function, `checkpoints.release_blocks` for rolling loops."""

from __future__ import annotations

import pytest

from apachebeamkmeans_spark import checkpoints as C
from apachebeamkmeans_spark.checkpoints import release_blocks
from apachebeamkmeans_spark.operators import textindex as TI


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persisted_ids(spark) -> set:
    # ids, not a count: the context cleaner may unpersist an earlier
    # test's garbage-collected frame while a test runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_staged_releases_on_normal_exit(spark):
    before = _persisted_ids(spark)
    with C.staged(spark.range(100), eager=True) as x:
        assert len(_persisted_ids(spark) - before) == 1
        assert x.count() == 100
    assert _persisted_ids(spark) - before == set()


def test_staged_releases_on_exception(spark):
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with C.staged(spark.range(100)) as x:
            assert x.count() == 100  # materializes the lazy checkpoint
            assert len(_persisted_ids(spark) - before) == 1
            raise RuntimeError("boom")
    assert _persisted_ids(spark) - before == set()


def test_staged_releases_on_early_return(spark):
    def first_even(df):
        with C.staged(df) as x:
            for r in x.orderBy("id").collect():
                if r["id"] % 2 == 0:
                    return r["id"]
        return None

    before = _persisted_ids(spark)
    assert first_even(spark.range(1, 10)) == 2
    assert _persisted_ids(spark) - before == set()


def _ann_index(spark, sf_dir, path):
    from apachebeamkmeans_spark.ann import AnnIndex
    from apachebeamkmeans_spark.sources import io

    emb = io.read_table(spark, sf_dir, "embeddings")
    return emb, AnnIndex.train(spark, emb, path, k=4)


def _ann_delete_tombstone_zero_match(spark, sf_dir, path):
    _, idx = _ann_index(spark, sf_dir, path)
    return lambda: idx.delete("vec_id < 0", mode="tombstone") == 0


def _ann_upsert_resurrect(spark, sf_dir, path):
    from pyspark.sql import functions as F

    emb, idx = _ann_index(spark, sf_dir, path)
    victim = emb.agg(F.min("vec_id")).collect()[0][0]
    assert idx.delete(f"vec_id = {victim}", mode="tombstone") == 1
    batch = emb.filter(F.col("vec_id") == victim).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    return lambda: idx.upsert(batch) == 1


_BM25_DOCS = [
    (1, "spark join the hash table fast"),
    (2, "slow scan of the big table"),
    (3, "hash hash hash join"),
    (4, "stream window agg"),
]


def _bm25_index(spark, path):
    TI.bm25_index_build(
        spark.createDataFrame(_BM25_DOCS, "doc_id long, text string"), path
    )


def _bm25_delete(mode):
    def case(spark, sf_dir, path):
        _bm25_index(spark, path)
        return lambda: TI.bm25_index_delete(
            spark, path, doc_ids=[2], mode=mode
        ) == 1
    return case


def _bm25_upsert(resurrect):
    def case(spark, sf_dir, path):
        _bm25_index(spark, path)
        if resurrect:
            assert TI.bm25_index_delete(
                spark, path, doc_ids=[2, 3], mode="tombstone"
            ) == 2
        batch = spark.createDataFrame(
            [(2, "window agg window"), (20, "merge join fast")],
            "doc_id long, text string",
        )
        return lambda: TI.bm25_index_upsert(batch, path) == 1
    return case


def _quality_classifier_report(spark, sf_dir, path):
    from apachebeamkmeans_spark.operators import classifier as CLF
    from apachebeamkmeans_spark.sources import io

    docs = io.read_table(spark, sf_dir, "documents")
    return lambda: len(CLF.quality_classifier_report(docs).collect()) == 1


def _train_quantizer(spark, sf_dir, path):
    from apachebeamkmeans_spark.pipeline import CurationPipeline
    from apachebeamkmeans_spark.sources import io

    emb = io.read_table(spark, sf_dir, "embeddings")
    return lambda: len(CurationPipeline.train_quantizer(emb, k=4)) == 4


@pytest.mark.parametrize("case", [
    pytest.param(_ann_delete_tombstone_zero_match,
                 id="ann_delete_tombstone_zero_match"),
    pytest.param(_ann_upsert_resurrect, id="ann_upsert_resurrect"),
    pytest.param(_bm25_delete("rewrite"), id="bm25_delete_rewrite"),
    pytest.param(_bm25_delete("tombstone"), id="bm25_delete_tombstone"),
    pytest.param(_bm25_upsert(False), id="bm25_upsert"),
    pytest.param(_bm25_upsert(True), id="bm25_upsert_resurrect"),
    pytest.param(_quality_classifier_report, id="quality_classifier_report"),
    pytest.param(_train_quantizer, id="train_quantizer"),
])
def test_call_leaves_no_persisted_rdd(spark, sf_dir, tmp_path, case):
    """Each call consumes its checkpoints before it returns, so it must
    leave no new persisted RDD behind."""
    action = case(spark, sf_dir, str(tmp_path / "idx"))
    before = _persisted_ids(spark)
    assert action()
    assert _persisted_ids(spark) - before == set()


def test_kmeans_purity_leaves_cache_manager_empty(spark, sf_dir):
    from apachebeamkmeans_spark.queries_kmeans import q_kmeans_purity

    spark.catalog.clearCache()
    assert len(q_kmeans_purity(spark, sf_dir).collect()) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


def test_is_held(spark):
    """Cached frames and checkpoint roots are held; a frame over local
    rows, a plain plan and a projection of a checkpoint are not."""
    rows = spark.createDataFrame([(1,), (2,)], "id long")
    assert not C.is_held(rows) and not C.is_held(spark.range(3))
    with C.staged(spark.range(3)) as lazy, C.staged(spark.range(3), eager=True) as eager:
        assert C.is_held(lazy) and C.is_held(eager)
        assert not C.is_held(eager.select("id"))
    cached = spark.range(4).cache()
    try:
        assert C.is_held(cached)
    finally:
        cached.unpersist()


def test_trainer_does_not_restage_a_checkpoint(spark, sf_dir):
    """`ivf_train` and `pq_train` over an eager checkpoint scan it as
    it is: no iteration holds a persisted RDD that was not there when
    the trainer started."""
    import logging

    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.sources import io

    seen: list[set] = []

    class Census(logging.Handler):
        def emit(self, record):
            if hasattr(record, "iteration"):
                seen.append(_persisted_ids(spark))

    census = Census()
    logger = logging.getLogger(ANN.__name__)
    level = logger.level
    logger.addHandler(census)
    logger.setLevel(logging.INFO)
    try:
        with C.staged(io.load_points(spark, sf_dir), eager=True) as pts:
            base = _persisted_ids(spark)
            ANN.ivf_train(pts, 4, 2)
            ANN.pq_train(pts, 8, 4, 2)
    finally:
        logger.removeHandler(census)
        logger.setLevel(level)
    assert len(seen) == 4
    assert all(ids <= base for ids in seen), [ids - base for ids in seen]


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
