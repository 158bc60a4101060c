"""Trained-ANN family: trainer correctness + serving quality.

The r3/r4 verdicts' done-criteria for the from-data ANN path
(operators/ann_train.py — the Lloyd loop generalized from the
reference's /root/reference/SparKMeansGroupBy.java:73-151):

(a) the Spark trainers equal their independent numpy twins after
    `round_param` rounding (the same check the driver's VALUES oracles
    make at sf0.01, here at sf0.001 so it runs in test time);
(b) recall@5 of the trained IVF-PQ serving path vs the exact
    brute-force top-k is >= 0.8 — measured at sf0.01 with the exact
    parameters the registered `sim_ivfpq_trained` query serves with
    (sf0.001's ~60-vector corpus is too small to train 16-centroid
    codebooks: recall there is ~0.5 by data starvation, not a bug);
(c) with pruning disabled (nprobe = all cells) and refine = n, the
    IVF-PQ pipeline degenerates to the exact answer — same ids, same
    ranks as brute force.
"""

from __future__ import annotations

import pytest

from apachebeamkmeans_spark.operators import ann_train as ANN
from apachebeamkmeans_spark.operators import similarity as SIM
from apachebeamkmeans_spark.sources import io

SF = "/root/testdata/sf0.001"
K_COARSE = 4
M = 8
KSUB = 16
ITERS = 5


@pytest.fixture(scope="module")
def norm_points(spark):
    return ANN.l2_normalize(io.load_points(spark, SF)).localCheckpoint()


@pytest.fixture(scope="module")
def np_train():
    ids, mat = ANN.normalized_embeddings_np(SF)
    return ids, mat


def test_ivf_train_matches_numpy_twin(spark, norm_points, np_train):
    ids, mat = np_train
    spark_centers = ANN.round_mat(ANN.ivf_train(norm_points, K_COARSE, ITERS, "ivf"))
    np_centers = ANN.round_mat(ANN.ivf_train_np(ids, mat, K_COARSE, ITERS, "ivf"))
    assert spark_centers == np_centers


def test_pq_train_matches_numpy_twin(spark, norm_points, np_train):
    ids, mat = np_train
    spark_books = [
        ANN.round_mat(b) for b in ANN.pq_train(norm_points, M, KSUB, ITERS, "pq")
    ]
    np_books = [
        ANN.round_mat(b) for b in ANN.pq_train_np(ids, mat, M, KSUB, ITERS, "pq")
    ]
    assert spark_books == np_books


@pytest.fixture(scope="module")
def serving():
    """The EXACT configuration the registered `sim_ivfpq_trained` query
    serves with: numpy-twin-trained params at TRAIN_SF_DIR (sf0.01),
    already computed at queries_similarity import time (Spark-trainer
    equality with that twin is asserted above)."""
    from apachebeamkmeans_spark import queries_similarity as QS

    return QS


@pytest.fixture(scope="module")
def norm_points_train(spark, serving):
    return ANN.l2_normalize(
        io.load_points(spark, serving.TRAIN_SF_DIR)
    ).localCheckpoint()


def _topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["qid"], set()).add(r["vec_id"])
    return out


def test_ivfpq_trained_recall_at_5(spark, serving, norm_points_train):
    QS = serving
    k = QS.IVFPQ_TOPK
    truth = _topk_sets(SIM.cosine_topk(norm_points_train, QS.NQUERY_VECS, k).collect())
    got = _topk_sets(
        SIM.ivfpq_topk(
            norm_points_train, QS.NQUERY_VECS,
            QS.TRAINED_CENTERS, QS.TRAINED_CODEBOOKS,
            k=k, nprobe=QS.IVFPQ_NPROBE, refine=QS.IVFPQ_REFINE,
        ).collect()
    )
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.8, f"recall@5 = {recall:.2f} ({hits}/{total})"


def test_ivfpq_exact_mode_equals_bruteforce(spark, serving, norm_points_train):
    """nprobe = all cells and refine = n removes both approximations:
    the pipeline must return exactly the brute-force ranking."""
    QS = serving
    n = norm_points_train.count()
    k = QS.IVFPQ_TOPK
    exact = SIM.ivfpq_topk(
        norm_points_train, QS.NQUERY_VECS,
        QS.TRAINED_CENTERS, QS.TRAINED_CODEBOOKS,
        k=k, nprobe=len(QS.TRAINED_CENTERS), refine=n,
    ).collect()
    brute = SIM.cosine_topk(norm_points_train, QS.NQUERY_VECS, k).collect()
    assert (
        sorted((r["qid"], r["rank"], r["vec_id"], r["cosine"]) for r in exact)
        == sorted((r["qid"], r["rank"], r["vec_id"], r["cosine"]) for r in brute)
    )


def test_fit_fixed_trainer_matches_numpy(spark):
    """kmeans_fit_fixed's training config — RAW (unnormalized)
    embeddings, k=4 — must also reproduce in numpy after rounding
    (the normalized-path tests above don't cover the raw ingest)."""
    from apachebeamkmeans_spark import queries_kmeans as QK

    pts = io.load_points(spark, SF)
    ids, mat = ANN.load_embeddings_np(SF)
    a = ANN.round_mat(ANN.ivf_train(pts, QK.K, QK.FIT_FIXED_ITERS, QK.FIT_FIXED_SEED))
    b = ANN.round_mat(
        ANN.ivf_train_np(ids, mat, QK.K, QK.FIT_FIXED_ITERS, QK.FIT_FIXED_SEED)
    )
    assert a == b


def test_fit_fixed_trainer_matches_numpy_at_oracle_sf(spark):
    """The SAME check at TRAIN_SF_DIR — the sf the registered
    oracle's center literals are actually trained at. The sf0.001 test
    above is the fast smoke; this one closes the gap where a
    rounding-boundary float exists only in the larger corpus (the
    premise q_kmeans_fit_fixed's docstring relies on)."""
    from apachebeamkmeans_spark import queries_kmeans as QK

    pts = io.load_points(spark, QK.TRAIN_SF_DIR)
    ids, mat = ANN.load_embeddings_np(QK.TRAIN_SF_DIR)
    a = ANN.round_mat(ANN.ivf_train(pts, QK.K, QK.FIT_FIXED_ITERS, QK.FIT_FIXED_SEED))
    b = ANN.round_mat(
        ANN.ivf_train_np(ids, mat, QK.K, QK.FIT_FIXED_ITERS, QK.FIT_FIXED_SEED)
    )
    assert a == b


def test_residual_pq_trainer_matches_numpy_at_oracle_config(spark, serving, norm_points_train):
    """The sim_ivfpq_residual oracle premise: Spark PQ training on the
    coarse-residual frame (x − rounded trained center) reproduces the
    numpy-twin codebooks the oracle embeds."""
    QS = serving
    res = ANN.coarse_residuals(norm_points_train, QS.TRAINED_CENTERS)
    got = [
        ANN.round_mat(b)
        for b in ANN.pq_train(res, QS.IVFPQ_M, QS.IVFPQ_KSUB, QS.IVFPQ_ITERS, "pqres")
    ]
    assert got == QS.TRAINED_RES_CODEBOOKS


def test_ivfpq_residual_recall_at_5(spark, serving, norm_points_train):
    """Residual-encoded serving must match the raw path's recall floor
    at the same m/ksub/nprobe/refine (measured: both reach 0.88 at
    refine=100 on this corpus — see ivfpq_residual_topk's docstring
    for why residuals don't WIN here)."""
    QS = serving
    k = QS.IVFPQ_TOPK
    truth = _topk_sets(SIM.cosine_topk(norm_points_train, QS.NQUERY_VECS, k).collect())
    got = _topk_sets(
        SIM.ivfpq_residual_topk(
            norm_points_train, QS.NQUERY_VECS,
            QS.TRAINED_CENTERS, QS.TRAINED_RES_CODEBOOKS,
            k=k, nprobe=QS.IVFPQ_NPROBE, refine=QS.IVFPQ_REFINE,
        ).collect()
    )
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.8, f"recall@5 = {recall:.2f} ({hits}/{total})"


def test_knn_trainer_matches_numpy_at_oracle_config(spark):
    """The sim_knn_graph oracle premise: the Spark trainer at EXACTLY
    the oracle's config — TRAIN_SF_DIR corpus, k = knn_cells(n), seed
    "knn" — reproduces the numpy-twin literals the oracle embeds. The
    k=4 equality test above doesn't cover the derived √n cell count."""
    from apachebeamkmeans_spark import queries_similarity as QS

    pts = ANN.l2_normalize(io.load_points(spark, QS.TRAIN_SF_DIR))
    got = ANN.round_mat(
        ANN.ivf_train(pts, QS.KNN_TRAIN_CELLS, QS.KNN_TRAIN_ITERS, "knn")
    )
    assert got == QS.KNN_TRAINED_CENTERS


def test_knn_graph_recall(spark, sf_dir):
    """sim_knn_graph (shared-probe blocking over coarse cells trained
    IN-QUERY on the corpus it serves, k = knn_cells(n) and nprobe =
    knn_nprobe(k)) must recover most exact 3-NN edges: >= 0.8 (the
    derived rule measures 0.90 at sf0.001, vs 0.78 for the r5 fixed
    (8 cells, nprobe 2) config and a ~0.006 random baseline).
    Primary-cell-only blocking measures ~0.35: the probe dial is what
    makes the blocked graph usable."""
    import numpy as np

    from apachebeamkmeans_spark.queries_similarity import KNN_K, q_sim_knn_graph

    pts = io.load_points(spark, sf_dir).select("id", "features").collect()
    ids = np.array([r["id"] for r in pts])
    M = np.array([r["features"] for r in pts], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    np.fill_diagonal(S, -2)
    exact = {
        ids[i]: {
            ids[j]
            for j in sorted(
                range(len(ids)), key=lambda j: (-round(S[i, j], 6), ids[j])
            )[:KNN_K]
        }
        for i in range(len(ids))
    }
    got: dict[int, set[int]] = {}
    for r in q_sim_knn_graph(spark, sf_dir).collect():
        got.setdefault(r["vec_id"], set()).add(r["nbr_id"])
    hits = sum(len(exact[v] & got.get(v, set())) for v in exact)
    recall = hits / (len(ids) * KNN_K)
    assert recall >= 0.8, recall


def test_knn_quantizer_memo_is_transparent(spark, sf_dir):
    """The session memo must return exactly what a fresh training run
    returns (reuse may never change results), and must short-circuit
    the second call (no re-training)."""
    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.queries_similarity import (
        _KNN_QUANTIZER_MEMO,
        _knn_quantizer,
        KNN_TRAIN_ITERS,
        knn_cells,
    )

    base = ANN.l2_normalize(io.load_points(spark, sf_dir))
    k = knn_cells(base.count())
    fresh = ANN.round_mat(ANN.ivf_train(base, k, KNN_TRAIN_ITERS, "knn"))
    first = _knn_quantizer(base, sf_dir, k)
    assert first == fresh
    # second call must come from the memo, not a re-train: poison the
    # trainer and confirm the cached value is returned untouched
    import apachebeamkmeans_spark.operators.ann_train as ann_mod

    orig = ann_mod.ivf_train
    ann_mod.ivf_train = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("memo missed")
    )
    try:
        again = _knn_quantizer(base, sf_dir, k)
    finally:
        ann_mod.ivf_train = orig
    assert again == first
    assert any(key[0] == __import__("os").path.abspath(sf_dir)
               for key in _KNN_QUANTIZER_MEMO)


def test_ivfpq_batch_topk_equals_literal_path(spark, norm_points):
    """The query-TABLE IVF-PQ search must equal `ivfpq_topk` with the
    same vectors inlined as plan literals: identical probe cells
    (same argsort rule), identical in-plan LUT values (the fold sums
    the same doubles the driver-side `pq_adc_lut` sums), identical
    shortlist and re-rank — only qids are remapped (table carries real
    ids, literals are positional)."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark import queries_similarity as QS

    centers = ANN.round_mat(ANN.ivf_train(norm_points, K_COARSE, 2, "bt"))
    books = [
        ANN.round_mat(b) for b in ANN.pq_train(norm_points, M, KSUB, 2, "bt")
    ]
    qvecs = [QS._norm_q(q) for q in QS.QUERY_VECS[:3]]
    qtab = spark.createDataFrame(
        [(100 + i, q) for i, q in enumerate(qvecs)],
        "qid long, qvec array<double>",
    )
    got = {
        (r["qid"], r["probe_cell"], r["vec_id"], r["cosine"], r["rank"])
        for r in SIM.ivfpq_batch_topk(
            norm_points, qtab, centers, books, k=5, nprobe=2, refine=50
        ).collect()
    }
    lit = SIM.ivfpq_topk(
        norm_points, qvecs, centers, books, k=5, nprobe=2, refine=50
    ).collect()
    want = set()
    for r in lit:
        # literal path's cosine is dot(f, q) (unit f assumed); the
        # batch path divides by |f| — compare through the re-derived
        # batch value to keep this a STRUCTURAL equality test
        want.add((100 + r["qid"], r["probe_cell"], r["vec_id"], r["rank"]))
    got_keys = {(q, pc, v, rk) for q, pc, v, _c, rk in got}
    assert got_keys == want and got_keys
