"""Column-expression references for the K-Means driver-loop steps.

The engine runs every Lloyd step, seeding draw and SSE as one numpy
batch job (`lloyd._lloyd_step`, `lloyd.best_point`, `lloyd.total_sse`).
These are the same steps written as plain DataFrame plans over the
Column form (`lloyd.nearest_center`), which the tests
hold the batch jobs to. `farthest_point` and `roulette_point` are the
only Column-form seeding draws left: the package seeds only through
`init.seed_picks`, the registered seed-trace queries included.
`l1_unrolled` is the p = 1 twin of `distance.l2_sq_unrolled`, which
the tests hold the parsed center distance to.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions.hashing import hash01
from apachebeamkmeans_spark.operators.kmeans import lloyd


def recenter(assigned: DataFrame, dim: int, features_col: str = "features") -> DataFrame:
    """New centroid per cluster: groupBy(center_id) + dim scalar avgs +
    count. One shuffle, map-side partial aggregation, k rows out."""
    feats = F.col(features_col)
    aggs = [F.avg(feats[j]).alias(f"c{j}") for j in range(dim)] + [
        F.count(F.lit(1)).alias("size")
    ]
    return assigned.groupBy("center_id").agg(*aggs)


def recenter_to_list(assigned: DataFrame, dim: int, k: int,
                     features_col: str = "features") -> tuple[list[list[float] | None], list[int]]:
    """The k new centers and sizes; empty clusters yield None / 0."""
    rows = recenter(assigned, dim, features_col).collect()
    centers: list[list[float] | None] = [None] * k
    sizes = [0] * k
    for r in rows:
        cid = r["center_id"]
        centers[cid] = [r[f"c{j}"] for j in range(dim)]
        sizes[cid] = r["size"]
    return centers, sizes


def sse(assigned_with_dist: DataFrame) -> float:
    """Total within-cluster squared error (expects `dist` = squared L2)."""
    return assigned_with_dist.agg(F.sum("dist").alias("sse")).collect()[0]["sse"]


def _take1(df: DataFrame, desc: bool) -> list[float]:
    row = df.orderBy(F.desc("k") if desc else F.asc("k"), F.asc("id")).limit(1)
    return list(row.select("f").collect()[0]["f"])


def farthest_point(df: DataFrame, centers, p: float) -> list[float]:
    """argmax_x min_c dist(x, c), ties to the smallest id."""
    d = lloyd.nearest_center(centers, p)["dist"]
    return _take1(df.select("id", F.col("features").alias("f"), d.alias("k")), desc=True)


def roulette_point(df: DataFrame, centers, p: float, weight: str, seed: int,
                   rnd: int) -> list[float]:
    """The exponential-race winner: min -ln(u)/w, +inf where w = 0."""
    d = lloyd.nearest_center(centers, p)["dist"]
    if p == 2 and weight == "d":
        w = F.sqrt(d)
    elif p != 2 and weight == "d2":
        w = d * d
    else:
        w = d
    u = hash01(F.col("id"), f"{seed}-{rnd}")
    t = F.when(w > 0, -F.log(u) / w).otherwise(F.lit(float("inf")))
    return _take1(df.select("id", F.col("features").alias("f"), t.alias("k")), desc=False)


def l1_unrolled(col: Column, center: list[float]) -> Column:
    """Σ_j |col[j] - c_j| with a literal center, left-associated like
    `distance.l2_sq_unrolled`."""
    return reduce(lambda acc, t: acc + t,
                  [F.abs(col[j] - F.lit(float(c))) for j, c in enumerate(center)])
