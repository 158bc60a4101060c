"""K-Means operators: assignment argmin, recenter means, convergence,
empty-cluster reseed, init strategies, end-to-end fit on separable
blobs, and the Lloyd SSE-descent property (SURVEY.md §5 test plan).
The batch kernel of the driver-loop steps is held to the Column form
and to the Column references in `kmeans_reference`."""

from __future__ import annotations

import logging
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import staged
from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.operators.kmeans import KMeans, KMeansModel, KMeansParams, lloyd
from apachebeamkmeans_spark.operators.kmeans.init import STRATEGIES, initial_centers
from apachebeamkmeans_spark.operators.kmeans.mllib import mllib_kmeans_fit
from job_ledger import jobs_and_stages
from kmeans_reference import farthest_point, recenter_to_list, roulette_point
from kmeans_reference import sse as sse_of

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


def _kernel_rows(frame, centers, p):
    """(id, idx, dist) per row from the batch kernel, run here on the
    collected features as an Arrow column."""
    rows = frame.select("id", "features").collect()
    matrix, nearest = lloyd._batch_kernel(centers, p)
    idx, dist = nearest(matrix(pa.array([r["features"] for r in rows])))
    return {r["id"]: (int(i), float(d)) for r, i, d in zip(rows, idx, dist)}


@pytest.mark.parametrize("p", [1.0, 2.0, 3.0])
def test_batch_kernel_matches_column_form(scatter, p):
    """The batch kernel's argmin and distance equal `_nearest_center`
    (through `assign`): to the last bit for p=1, 2, the tie row
    included; for p=3 numpy's pow may differ from the JVM's in the
    last bits, so `dist` is held to a relative 1e-12."""
    got = _kernel_rows(scatter, TIE_CENTERS, p)
    col = {r["id"]: (r["center_id"], r["dist"])
           for r in lloyd.assign(scatter, TIE_CENTERS, p, keep_dist=True).collect()}
    assert got.keys() == col.keys() and len(got) == TIE_ROW + 1
    assert got[TIE_ROW][0] == col[TIE_ROW][0] == 0
    if p in (1, 2):
        assert got == col
    else:
        assert {i: g[0] for i, g in got.items()} == {i: c[0] for i, c in col.items()}
        for i, (_, d) in got.items():
            assert d == pytest.approx(col[i][1], rel=1e-12, abs=0.0), i


def test_batch_kernel_rejects_non_finite_centers():
    with pytest.raises(ValueError, match="non-finite"):
        lloyd._batch_kernel([[0.0, float("nan")]], 2.0)
    with pytest.raises(ValueError, match="non-finite"):
        lloyd._batch_kernel([[float("inf"), 0.0]], 1.0)


@pytest.mark.parametrize("p", [1.0, 2.0])
def test_farthest_point_matches_column_reference(scatter, p):
    centers = [TIE_CENTERS[0]]
    for _ in range(4):
        got = lloyd.farthest_point(scatter, centers, p)
        assert got == farthest_point(scatter, centers, p)
        centers.append(got)


@pytest.mark.parametrize("weight", ["d", "d2"])
@pytest.mark.parametrize("seed", [1, 2, 3, 5, 8, 13])
def test_roulette_draw_matches_column_reference(scatter, weight, seed):
    from apachebeamkmeans_spark.operators.kmeans.init import _roulette_next

    centers = [TIE_CENTERS[0], TIE_CENTERS[2]]
    for rnd in (1, 2):
        got = _roulette_next(scatter, centers, 2.0, weight, seed, rnd)
        assert got == roulette_point(scatter, centers, 2.0, weight, seed, rnd)
        centers.append(got)


def test_draws_keep_the_id_type_and_break_ties_by_id(spark):
    """String ids ride the draw with their own type; two points equally
    far from the centers go to the smaller id, as orderBy(id) does."""
    df = spark.createDataFrame(
        [("b", [5.0, 0.0]), ("a9", [0.0, 5.0]), ("a10", [0.0, -5.0]), ("c", [1.0, 1.0])],
        "id string, features array<double>",
    ).repartition(2)
    got = lloyd.farthest_point(df, [[0.0, 0.0]], 2.0)
    assert got == farthest_point(df, [[0.0, 0.0]], 2.0) == [0.0, -5.0]


def test_draws_reject_an_empty_frame(spark):
    empty = spark.createDataFrame([], "id long, features array<double>")
    with pytest.raises(ValueError, match="non-empty"):
        lloyd.farthest_point(empty, TIE_CENTERS, 2.0)
    with pytest.raises(ValueError, match="non-empty"):
        initial_centers(empty, KMeansParams(k=2, init="plusplus"))


@pytest.mark.parametrize("p", [1.0, 2.0])
def test_model_sse_matches_column_reference(scatter, p):
    """`KMeansModel.sse`: assignment under the model's metric, squared
    L2 to the assigned center."""
    model = KMeansModel(centers=TIE_CENTERS, n_iter=1, params=KMeansParams(k=3, p=p))
    ref = lloyd.assign(scatter, TIE_CENTERS, p).withColumn(
        "dist", F.expr(D.sql_pow_sum(
            "features", f"element_at({D.sql_array_literal(TIE_CENTERS)}, center_id + 1)", 2)))
    assert model.sse(scatter) == pytest.approx(sse_of(ref), rel=1e-12)


def test_lloyd_step_matches_column_reference(scatter):
    size, sx, _ = lloyd._lloyd_step(scatter, [TIE_CENTERS], 2.0, "features")
    ref, sizes = recenter_to_list(lloyd.assign(scatter, TIE_CENTERS, 2.0), dim=3, k=3)
    assert size.tolist() == [sizes]
    for c in np.flatnonzero(size[0]):
        assert (sx[0, c] / size[0, c]).tolist() == pytest.approx(ref[c], rel=1e-12)


def test_block_step_equals_single_block_steps(spark):
    """An m-block step equals m one-block steps over the column slices:
    the same sizes, and Σx, Σdist within 1e-12. Block 1's last center
    lies far from every point and gets no members."""
    rng = random.Random(5)
    m, dsub, n = 3, 2, 80
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(m * dsub)]) for i in range(n)],
        "id long, features array<double>")
    sets = [[[rng.uniform(-1, 1) for _ in range(dsub)] for _ in range(3)] for _ in range(m)]
    sets[1][2] = [50.0, 50.0]
    size, sx, sd = lloyd._lloyd_step(df, sets, 2.0, "features")
    for s in range(m):
        block = df.select(F.slice("features", s * dsub + 1, dsub).alias("features"))
        bsize, bsx, bsd = lloyd._lloyd_step(block, [sets[s]], 2.0, "features")
        assert bsize.shape == (1, 3)
        if s == 1:
            assert bsize[0, 2] == 0
        assert size[s].tolist() == bsize[0].tolist()
        assert sx[s].ravel().tolist() == pytest.approx(bsx[0].ravel().tolist(), rel=1e-12)
        assert sd[s].tolist() == pytest.approx(bsd[0].tolist(), rel=1e-12)
    assert size.sum(axis=1).tolist() == [n] * m


def test_lloyd_step_is_one_stage(spark, monkeypatch):
    """With AQE at the session default, each step over a checkpointed
    multi-partition frame is one job of one stage, and its executed
    plan has no Exchange: each task ships one row of dense partials
    and the driver sums them."""
    rng = random.Random(2)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(200)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
                               "id long, features array<double>")
    plans = []
    collect = type(df).collect

    def recording_collect(self):
        out = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    n = 3
    centers = [r[1] for r in rows[:3]]
    with staged(df, eager=True) as pts:
        assert pts.rdd.getNumPartitions() == 4
        monkeypatch.setattr(type(df), "collect", recording_collect)
        got = jobs_and_stages(spark, "lloyd_step.stages", lambda: [
            lloyd._lloyd_step(pts, [centers], 2.0, "features") for _ in range(n)])
    assert got == (n, n)
    assert len(plans) == n and not any("Exchange" in plan for plan in plans)


def test_lloyd_fit_runs_one_job_per_iteration(spark, blobs):
    """With no empty cluster, `lloyd_fit` runs one job of one stage per
    iteration at the session's own AQE setting."""
    n = 3
    got = jobs_and_stages(spark, "lloyd_fit.jobs", lambda: lloyd.lloyd_fit(
        blobs, BLOB_CENTERS, p=2.0, threshold=-1.0, max_iter=n))
    assert got == (n, n)


def test_lloyd_fit_is_deterministic(spark):
    """The driver sums the per-task partials in partition order, so a
    fit over a 4-partition frame gives the same bits on every run."""
    rng = random.Random(9)
    rows = [(i, [rng.gauss(0, 1) * 10 ** rng.randint(-3, 3) for _ in range(5)])
            for i in range(400)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
                               "id long, features array<double>")
    init = [r[1] for r in rows[:4]]
    runs = {
        tuple(tuple(float.hex(x) for x in c)
              for c in lloyd.lloyd_fit(df, init, p=2.0, threshold=-1.0, max_iter=5)[0])
        for _ in range(3)
    }
    assert len(runs) == 1


def test_lloyd_fit_sse_log_has_one_entry_per_iteration(blobs):
    """One non-increasing `sse_log` entry per iteration. An empty log
    would pass `kmeans_fit_clusters`' descent property vacuously."""
    init = initial_centers(blobs, KMeansParams(k=4, seed=3, init="random"))
    sse_log: list[float] = []
    _, n_iter = lloyd.lloyd_fit(blobs, init, p=2.0, threshold=-1.0, max_iter=4,
                                sse_log=sse_log)
    assert n_iter == 4 and len(sse_log) == n_iter
    assert all(b <= a * (1 + 1e-12) for a, b in zip(sse_log, sse_log[1:])), sse_log


def test_lloyd_fit_logs_each_iteration(blobs, caplog):
    init = initial_centers(blobs, KMeansParams(k=4, seed=3, init="random"))
    with caplog.at_level(logging.INFO, logger=lloyd.__name__):
        lloyd.lloyd_fit(blobs, init, p=2.0, threshold=-1.0, max_iter=4)
    recs = [r for r in caplog.records if hasattr(r, "iteration")]
    assert [r.iteration for r in recs] == [1, 2, 3, 4]
    assert all(r.reseeded == 0 and r.delta >= 0 for r in recs)


def test_recenter_means(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 4.0]), (2, [100.0, 100.0])],
        "id long, features array<double>",
    )
    assigned = lloyd.assign(df, [[1.0, 1.0], [100.0, 100.0]], 2.0)
    centers, sizes = recenter_to_list(assigned, dim=2, k=2)
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
        sse = sse_of(assigned)
        if prev is not None:
            assert sse <= prev + 1e-9
        prev = sse
        centers, _ = recenter_to_list(assigned, dim=2, k=4)


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
