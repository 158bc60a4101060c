"""K-Means operators: assignment argmin, recenter means, convergence,
empty-cluster reseed, init strategies, end-to-end fit on separable
blobs, and the Lloyd SSE-descent property (SURVEY.md §5 test plan)."""

from __future__ import annotations

import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.operators.kmeans import KMeans, KMeansModel, KMeansParams, lloyd
from apachebeamkmeans_spark.operators.kmeans.init import STRATEGIES, initial_centers
from apachebeamkmeans_spark.operators.kmeans.mllib import mllib_kmeans_fit

BLOB_CENTERS = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]


@pytest.fixture(scope="module")
def blobs(spark):
    rng = random.Random(7)
    rows = []
    i = 0
    for c, (cx, cy) in enumerate(BLOB_CENTERS):
        for _ in range(50):
            rows.append((i, [cx + rng.gauss(0, 0.5), cy + rng.gauss(0, 0.5)], c))
            i += 1
    return spark.createDataFrame(rows, "id long, features array<double>, true_center int").cache()


def test_assign_argmin(spark):
    df = spark.createDataFrame([(0, [0.1, 0.0]), (1, [9.8, 0.2])], "id long, features array<double>")
    out = lloyd.assign(df, [[0.0, 0.0], [10.0, 0.0]], 2.0, keep_dist=True).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["center_id"] == 0 and by_id[1]["center_id"] == 1
    assert by_id[0]["dist"] == pytest.approx(0.01)


def test_assign_tie_breaks_low_center(spark):
    df = spark.createDataFrame([(0, [5.0, 0.0])], "id long, features array<double>")
    out = lloyd.assign(df, [[0.0, 0.0], [10.0, 0.0]], 2.0).collect()
    assert out[0]["center_id"] == 0  # equidistant → first center


# Row 60 is equidistant (1.0 under every p) from centers 0 and 1.
TIE_CENTERS = [[0.0, 0.0, 0.0], [2.0, 0.0, 0.0], [0.5, -1.25, 3.0]]
TIE_ROW = 60


@pytest.fixture(scope="module")
def scatter(spark):
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-3.0, 3.0) for _ in range(3)]) for i in range(TIE_ROW)]
    rows.append((TIE_ROW, [1.0, 0.0, 0.0]))
    return spark.createDataFrame(rows, "id long, features array<double>")


@pytest.mark.parametrize("p", [1.0, 2.0, 3.0])
def test_parsed_min_dist_is_bit_identical(scatter, p):
    """The shared parsed-literal D(x) equals, row for row and to the
    last bit, the unrolled form (p=1, 2) and the HOF `D.minkowski`."""
    feats = F.col("features")
    parsed = lloyd.min_dist_col(TIE_CENTERS, p)
    mink = F.array_min(F.array(*[D.minkowski(feats, D.lit_array(c), p) for c in TIE_CENTERS]))
    cols = [(F.sqrt(parsed) if p == 2 else parsed).alias("parsed"), mink.alias("mink")]
    if p in (1, 2):
        unrolled = D.l2_sq_unrolled if p == 2 else D.l1_unrolled
        cols += [
            parsed.alias("raw"),
            F.array_min(F.array(*[unrolled(feats, c) for c in TIE_CENTERS])).alias("unrolled"),
        ]
    rows = scatter.select("id", *cols).collect()
    assert len(rows) == TIE_ROW + 1
    for r in rows:
        assert r["parsed"] == r["mink"], r
        if p in (1, 2):
            assert r["raw"] == r["unrolled"], r


@pytest.mark.parametrize("p", [1.0, 2.0, 3.0])
def test_assign_matches_argmin_twin(scatter, p):
    """`assign` equals, center_id and dist to the last bit, a
    first-minimum argmin over per-center distances built here from the
    unrolled family (p=1, 2) and the HOF `D.minkowski` (other p)."""
    feats = F.col("features")
    if p == 2:
        dists = [D.l2_sq_unrolled(feats, c) for c in TIE_CENTERS]
    elif p == 1:
        dists = [D.l1_unrolled(feats, c) for c in TIE_CENTERS]
    else:
        dists = [D.minkowski(feats, D.lit_array(c), p) for c in TIE_CENTERS]
    darr = F.array(*dists)
    twin = scatter.select(
        "id",
        (F.array_position(darr, F.array_min(darr)) - 1).cast("int").alias("center_id"),
        F.array_min(darr).alias("dist"),
    ).collect()
    out = lloyd.assign(scatter, TIE_CENTERS, p, keep_dist=True).collect()
    got = {r["id"]: (r["center_id"], r["dist"]) for r in out}
    assert got == {r["id"]: (r["center_id"], r["dist"]) for r in twin}
    assert got[TIE_ROW] == (0, 1.0)


def test_recenter_means(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 4.0]), (2, [100.0, 100.0])],
        "id long, features array<double>",
    )
    assigned = lloyd.assign(df, [[1.0, 1.0], [100.0, 100.0]], 2.0)
    centers, sizes = lloyd.recenter_to_list(assigned, dim=2, k=2)
    assert centers[0] == pytest.approx([1.0, 2.0])
    assert centers[1] == pytest.approx([100.0, 100.0])
    assert sizes == [2, 1]


def test_empty_cluster_reseeded(blobs):
    # a far-away center gets no points; fit must keep k centers
    init = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [1e6, 1e6]]
    centers, _ = lloyd.lloyd_fit(blobs, init, p=2.0, threshold=1e-4, max_iter=5)
    assert len(centers) == 4
    assert all(c is not None and max(map(abs, c)) < 100 for c in centers)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_fit_leaves_cache_state_as_found(spark, blobs):
    """A fit caches an uncached input only for its own duration, and
    leaves a frame the caller cached cached."""
    plain = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(40)], "id long, features array<double>"
    )
    before = _persisted_rdds(spark)
    KMeans(KMeansParams(k=3, seed=2, max_iter=3)).fit(plain)
    assert _persisted_rdds(spark) <= before
    assert plain.storageLevel == StorageLevel.NONE
    KMeans(KMeansParams(k=4, seed=2, max_iter=3)).fit(blobs)
    assert blobs.storageLevel != StorageLevel.NONE


@pytest.mark.parametrize("init", ["random", "max_farthest"])
def test_fit_rejects_non_finite_features(spark, init):
    """A NaN feature reaches a center literal within two iterations (as
    a seed, or through its cluster's mean) and fails there as a
    ValueError; the fit still releases its cache."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, float("nan")]), (2, [5.0, 5.0]), (3, [6.0, 5.0])],
        "id long, features array<double>",
    )
    before = _persisted_rdds(spark)
    with pytest.raises(ValueError, match="non-finite"):
        KMeans(KMeansParams(k=2, seed=1, init=init, max_iter=3)).fit(df)
    assert _persisted_rdds(spark) <= before


def test_fit_recovers_blobs(blobs):
    model = KMeans(KMeansParams(k=4, seed=1, init="max_farthest", max_iter=20)).fit(blobs)
    recovered = sorted(tuple(round(x) for x in c) for c in model.centers)
    assert recovered == sorted(tuple(map(int, c)) for c in BLOB_CENTERS)
    # label agreement: every cluster maps to exactly one true blob
    assigned = model.transform(blobs)
    purity = (
        assigned.groupBy("center_id", "true_center").count()
        .groupBy("center_id").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert purity == 1


def test_lloyd_step_never_increases_sse(blobs):
    params = KMeansParams(k=4, seed=3, init="random")
    centers = initial_centers(blobs, params)
    prev = None
    for _ in range(5):
        assigned = lloyd.assign(blobs, centers, 2.0, keep_dist=True)
        sse = lloyd.sse(assigned)
        if prev is not None:
            assert sse <= prev + 1e-9
        prev = sse
        centers, _ = lloyd.recenter_to_list(assigned, dim=2, k=4)


def test_all_init_strategies_deterministic(blobs):
    for name in STRATEGIES:
        params = KMeansParams(k=4, seed=11, init=name)
        c1 = initial_centers(blobs, params)
        c2 = initial_centers(blobs, params)
        assert c1 == c2, name
        assert len(c1) == 4
        assert len({tuple(c) for c in c1}) == 4, f"{name}: duplicate seeds"


def test_plusplus_weight_variants(blobs):
    d = initial_centers(blobs, KMeansParams(k=4, seed=5, init="plusplus", weight="d"))
    d2 = initial_centers(blobs, KMeansParams(k=4, seed=5, init="plusplus", weight="d2"))
    assert len(d) == len(d2) == 4  # both valid; may differ


def test_format_clusters(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [10.0, 0.0])],
        "id long, features array<double>",
    )
    model = KMeansModel(centers=[[0.0, 0.0], [10.0, 0.0]], n_iter=1, params=KMeansParams(k=2))
    lines = sorted(r["value"] for r in model.format_clusters(df).collect())
    assert lines == ["0:0;1;", "1:2;"]


def test_quality_metrics_perfect_and_random(blobs, spark):
    from apachebeamkmeans_spark.operators.kmeans.evaluation import quality_metrics
    from pyspark.sql import functions as F2

    # perfect clustering: cluster == true label → purity 1, ARI 1
    perfect = blobs.select("id", F.col("true_center").alias("center_id"),
                           F.col("true_center").alias("label"))
    r = quality_metrics(perfect).collect()[0]
    assert r["purity"] == 1.0 and r["ari"] == 1.0 and r["n"] == 200
    # everything in one cluster → ARI 0 (chance-corrected)
    lumped = blobs.select("id", F2.lit(0).alias("center_id"),
                          F.col("true_center").alias("label"))
    r = quality_metrics(lumped).collect()[0]
    assert abs(r["ari"]) < 1e-9 and r["purity"] == 0.25


def test_model_save_load(blobs, tmp_path):
    model = KMeans(KMeansParams(k=4, seed=1, init="max_farthest", max_iter=10)).fit(blobs)
    p = str(tmp_path / "model.json")
    model.save(p)
    loaded = KMeansModel.load(p)
    assert loaded.centers == model.centers
    assert loaded.params == model.params
    a = sorted((r["id"], r["center_id"]) for r in model.transform(blobs).collect())
    b = sorted((r["id"], r["center_id"]) for r in loaded.transform(blobs).collect())
    assert a == b


def test_mllib_path(blobs):
    model, assigned = mllib_kmeans_fit(blobs, k=4, seed=42, max_iter=20)
    assert assigned.select("center_id").distinct().count() == 4
    sizes = sorted(r["count"] for r in assigned.groupBy("center_id").count().collect())
    assert sizes == [50, 50, 50, 50]
