"""Unit tests for the binned time-range join and the SQL-UDF surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.functions.sqludfs import register_sql_functions
from apachebeamkmeans_spark.operators.rangejoin import trailing_range_join
from apachebeamkmeans_spark.plans import explain as X

HOUR = 3_600_000_000


def _ts(us: int):
    return F.timestamp_micros(F.lit(us))


def test_trailing_range_join_boundaries(spark):
    """Window is [t-1h, t): the exact lower bound matches, the probe's
    own instant does not; matches across an hour-bucket boundary are
    found (the reason for the 2-bucket probe explode)."""
    probes = spark.createDataFrame(
        [(1, 10, 2 * HOUR)], "pid long, user_id long, t_us long"
    ).select("pid", "user_id", _col_ts())
    others = spark.createDataFrame(
        [
            (100, 10, 2 * HOUR - 1),        # just inside, crosses bucket? no: same window
            (101, 10, HOUR),                # exactly t - 1h  -> included
            (102, 10, HOUR - 1),            # one us earlier  -> excluded
            (103, 10, 2 * HOUR),            # at probe instant -> excluded
            (104, 10, HOUR + HOUR // 2),    # previous bucket -> included
            (105, 99, 2 * HOUR - 5),        # other user      -> excluded
        ],
        "oid long, user_id long, t_us long",
    ).select("oid", "user_id", _col_ts())
    j = trailing_range_join(
        probes, others, "user_id",
        probe_ts_us=F.unix_micros("ts"), other_ts_us=F.unix_micros("ts"),
        window_us=HOUR,
    )
    got = sorted(r["o_oid"] for r in j.collect())
    assert got == [100, 101, 104]


def _col_ts():
    return F.timestamp_micros(F.col("t_us")).alias("ts")


def test_trailing_range_join_is_hash_join(spark):
    """The binned plan must be an equi hash join (SortMerge/Hash on
    key+bucket) — never a BroadcastNestedLoopJoin over the inequality,
    which is the O(n²)-per-key plan the binning exists to avoid."""
    probes = spark.range(100).select(
        F.col("id").alias("user_id"), F.timestamp_micros(F.col("id") * 1000).alias("ts")
    )
    j = trailing_range_join(
        probes, probes, "user_id",
        probe_ts_us=F.unix_micros("ts"), other_ts_us=F.unix_micros("ts"),
        window_us=HOUR,
    )
    plan = X.simple_plan(j)
    assert "NestedLoop" not in plan
    assert "Join" in plan


def test_sql_udfs_match_expression_api(spark):
    """SQL-UDF results must be bit-identical to functions/distance.py
    (same fold order) — no approx."""
    names = register_sql_functions(spark)
    assert "minkowski_dist" in names
    vecs = [[0.1, -0.25, 3.5, 0.0], [1e-8, 100.5, -99.25, 0.125]]
    center = [0.5, -1.5, 2.25, 0.0]
    sdf = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    sdf.createOrReplaceTempView("sqludf_vecs")
    expr_rows = sdf.select(
        D.abs_sum(F.col("v")).alias("l1"),
        D.l2_sq(F.col("v"), D.lit_array(center)).alias("d2"),
        D.dot(F.col("v"), D.lit_array(center)).alias("dp"),
        D.minkowski(F.col("v"), D.lit_array(center), 1).alias("m1"),
    ).collect()
    c = "array(" + ", ".join(f"{x!r}D" for x in center) + ")"
    sql_rows = spark.sql(
        f"SELECT l1_norm(v) AS l1, l2_dist_sq(v, {c}) AS d2, "
        f"dot_product(v, {c}) AS dp, minkowski_dist(v, {c}, 1.0D) AS m1 "
        "FROM sqludf_vecs"
    ).collect()
    for a, b in zip(expr_rows, sql_rows):
        assert (a["l1"], a["d2"], a["dp"]) == (b["l1"], b["d2"], b["dp"])
        assert abs(a["m1"] - b["m1"]) < 1e-12


def test_ws_tokens_sql_udf(spark):
    register_sql_functions(spark)
    got = spark.sql("SELECT ws_tokens('The  quick  Fox') AS t").collect()[0]["t"]
    assert got == ["the", "quick", "fox"]


def test_udaf_udtf_registration(spark):
    from apachebeamkmeans_spark.functions.udxf import register_udxfs

    names = register_udxfs(spark)
    assert names == ["gmean", "tokenize_udtf"]
    spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("b", 3.0)], "k string, v double"
    ).createOrReplaceTempView("udxf_t")
    rows = {
        r["k"]: r["g"]
        for r in spark.sql("SELECT k, gmean(v) AS g FROM udxf_t GROUP BY k").collect()
    }
    assert abs(rows["a"] - 4.0) < 1e-12 and abs(rows["b"] - 3.0) < 1e-12
    toks = spark.sql("SELECT * FROM tokenize_udtf('Hello  world')").collect()
    assert [(r["token"], r["pos"]) for r in toks] == [("hello", 0), ("world", 1)]


def test_empty_input_robustness(spark):
    """Operators must return empty frames (not raise) on empty inputs —
    the degenerate partitions a 100 TB run will inevitably contain."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.operators import dedup as DD
    from apachebeamkmeans_spark.operators.rangejoin import trailing_range_join

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert DD.minhash_signatures(empty).count() == 0
    assert DD.lsh_candidate_pairs(empty).count() == 0
    no_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert DD.duplicate_clusters(no_pairs).count() == 0

    e = spark.createDataFrame([], "user_id long, ts timestamp")
    j = trailing_range_join(
        e, e, "user_id",
        probe_ts_us=F.unix_micros("ts"), other_ts_us=F.unix_micros("ts"),
        window_us=3_600_000_000,
    )
    assert j.count() == 0
