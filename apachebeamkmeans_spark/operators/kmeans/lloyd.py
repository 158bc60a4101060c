"""Lloyd iteration primitives: assign → recenter → converge.

Reference semantics (SURVEY.md §2.3-2.4, §3.1):

- assign = broadcast nested-loop argmin over the current centers
  (`mapToPair` closing over the broadcast list with an inner for-loop,
  SparKMeansGroupBy.java:77-98). Here the centers are a *plan-time
  literal* (k×dim doubles) and each point takes the argmin of its k
  distances — zero join, zero shuffle. At 100 TB this is a pure map
  stage.
- recenter = per-cluster element-wise mean. The reference shuffles every
  point string through `groupByKey` with no map-side combine
  (SparKMeansGroupBy.java:102-114). Here: one `groupBy(center_id)` with
  `dim` scalar `avg` aggregates → Catalyst HashAggregate with partial
  (map-side) aggregation, so only k×dim partial sums cross the shuffle.
- convergence = max movement between *index-matched* old/new centers
  (textbook; the reference's any-match + index bug, SURVEY.md §8.1-8.2,
  is deliberately not reproduced).

Every center expression — seeding draws, the fit loop's assignment,
farthest-point reseeds, model assignment, SSE and the single-step
`kmeans_*` queries — comes from one builder, `_nearest_center`: ONE
parsed SQL string holding the centers as one folded literal
(`distance.sql_array_literal`) and the Minkowski-p fold as a lambda.
Building it costs one py4j call whatever k and dim, and the literal
lands in the codegen reference array, so one compile serves every
draw, iteration and seed. It is the one physical form of assignment:
its left-to-right sums and first-minimum ties give the same doubles as
the unrolled oracle SQL.

Centers live on the driver as a k×dim Python list (≤ a few KB) —
the only data that ever crosses to the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D


def _nearest_center(centers: list[list[float]], p: float,
                    features_col: str = "features", root: bool = True):
    """struct(dist, idx) of the nearest literal center (ties → lowest
    idx) as ONE parsed SQL expression (see module docstring). `dist`
    is squared for p=2 and plain for p=1; other p take the 1/p root
    unless `root` is False — an argmin alone can skip the monotone
    root."""
    dist = D.sql_pow_sum(features_col, "c", p)
    if root and p not in (1, 2):
        dist = f"pow({dist}, {1.0 / float(p)!r}D)"
    return F.expr(
        f"array_min(transform({D.sql_array_literal(centers)}, (c, i) -> "
        f"struct({dist} AS dist, CAST(i AS INT) AS idx)))"
    )


def assign(df: DataFrame, centers: list[list[float]], p: float = 2.0,
           features_col: str = "features", keep_dist: bool = False) -> DataFrame:
    """Add `center_id` (argmin over literal centers; ties → lowest id),
    and with `keep_dist` the distance to it as `dist` (squared for p=2).

    J1 in SURVEY.md §2.3 — the reference's only "join", expressed as a
    narrow map over a plan-time center literal; zero join, zero shuffle.
    One physical form, the shared `_nearest_center` expression: one
    py4j call to build and one codegen compile for any center values.
    """
    best = _nearest_center(centers, p, features_col)
    out = df.withColumn("center_id", best["idx"])
    if keep_dist:
        out = out.withColumn("dist", best["dist"])
    return out


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
    """Collect the k new centers (k rows — O(k·dim) driver traffic).
    Returns (centers, sizes); empty clusters yield None / 0."""
    rows = recenter(assigned, dim, features_col).collect()
    centers: list[list[float] | None] = [None] * k
    sizes = [0] * k
    for r in rows:
        cid = r["center_id"]
        centers[cid] = [r[f"c{j}"] for j in range(dim)]
        sizes[cid] = r["size"]
    return centers, sizes


def min_dist_col(centers: list[list[float]], p: float = 2.0,
                 features_col: str = "features"):
    """min over current centers of distance(point, center) — seeding's
    D(x) quantity (SparKMeansGroupByPlusPlus.java:82-96); squared for
    p=2."""
    return _nearest_center(centers, p, features_col)["dist"]


def farthest_point(df: DataFrame, centers: list[list[float]], p: float = 2.0,
                   features_col: str = "features") -> list[float]:
    """argmax_x min_c dist(x, c) — Gonzalez scattering step and the
    empty-cluster re-seed. orderBy+limit(1) is TakeOrdered (per-partition
    top-1 then driver merge), not a full sort."""
    row = (
        df.select(F.col("id"), F.col(features_col).alias("f"),
                  min_dist_col(centers, p, features_col).alias("d"))
        .orderBy(F.desc("d"), F.asc("id"))
        .limit(1)
        .collect()[0]
    )
    return list(row["f"])


def movement(old: list[list[float]], new: list[list[float]], p: float = 2.0) -> float:
    """Max index-matched center movement under the Minkowski-p metric."""
    worst = 0.0
    for a, b in zip(old, new):
        if p == 1:
            d = sum(abs(x - y) for x, y in zip(a, b))
        elif p == 2:
            d = math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
        else:
            d = sum(abs(x - y) ** p for x, y in zip(a, b)) ** (1.0 / p)
        worst = max(worst, d)
    return worst


def sse(assigned_with_dist: DataFrame) -> float:
    """Total within-cluster squared error (expects `dist` = squared L2)."""
    return assigned_with_dist.agg(F.sum("dist").alias("sse")).collect()[0]["sse"]


def sql_assign_expr(centers: list[list[float]], p: float,
                    features_col: str = "features"):
    """Argmin center id (ties → lowest id) of the fit loop: the shared
    parsed expression without the Minkowski root (monotone, so the
    argmin is unchanged)."""
    return _nearest_center(centers, p, features_col, root=False)["idx"]


def lloyd_fit(df: DataFrame, init_centers: list[list[float]], p: float,
              threshold: float, max_iter: int,
              features_col: str = "features",
              sse_log: list[float] | None = None) -> tuple[list[list[float]], int]:
    """The dynamic driver loop (SURVEY.md §2.6 C5): assign → recenter →
    converge, centers re-literalized each iteration.

    Each iteration re-scans `df`, so the caller caches it (`KMeans.fit`
    does). Because each iteration's plan is rebuilt from that base
    frame + literal centers, there is no lineage growth — no
    checkpointing needed (the reference accidentally achieved the same
    by collecting every iteration).

    Loop physical strategy (~3× per-iteration speedup over the naive
    loop, measured at sf0.1):
    - assign via `sql_assign_expr` — the shared parsed-literal
      expression, so whole-stage codegen compiles once for the whole
      loop;
    - recenter via MLlib `Summarizer.mean` over a vector column — a
      single partial-aggregating vector aggregate instead of `dim`
      scalar avgs, so plan analysis is O(1) in dimensionality. The
      per-dimension `avg` form (`recenter`) remains the oracle-exact
      twin for the single-step queries; the fit loop is rows-only
      checked, where summation-order differences are immaterial.

    Empty clusters are re-seeded from the current farthest point
    (documented divergence from the reference, which silently shrank k —
    SURVEY.md §8.3).

    `sse_log`: pass a list to receive the per-iteration SSE (sum over
    points of the min distance to the CURRENT centers, measured at the
    assignment step — squared for p=2, matching `sse()`); the extra
    sum rides the same per-iteration aggregate, no extra job. Used by
    the `kmeans_fit_clusters` property oracle (Lloyd's monotonic
    descent is a theorem, so a non-increasing log certifies the loop).
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    k = len(init_centers)
    centers = [list(c) for c in init_centers]
    # derived per iteration from the caller's (cached) frame: a second
    # cached copy would only double the fit's storage
    vpts = df.withColumn("__fvec", array_to_vector(features_col))
    aggs = [
        Summarizer.mean(F.col("__fvec")).alias("mean"),
        F.count(F.lit(1)).alias("size"),
    ]
    n_iter = 0
    from apachebeamkmeans_spark.session import driver_loop_conf

    # AQE off for the iteration loop: each iteration's k-row
    # aggregate otherwise schedules as two jobs (see
    # session.driver_loop_conf; r18)
    with driver_loop_conf(df.sparkSession):
        for _ in range(max_iter):
            n_iter += 1
            frame = vpts.withColumn(
                "center_id", sql_assign_expr(centers, p, features_col)
            )
            ag = aggs
            if sse_log is not None:
                frame = frame.withColumn(
                    "__md", min_dist_col(centers, p, features_col)
                )
                ag = aggs + [F.sum("__md").alias("__sse")]
            rows = frame.groupBy("center_id").agg(*ag).collect()
            if sse_log is not None:
                sse_log.append(float(sum(r["__sse"] for r in rows)))
            by_id = {r["center_id"]: list(r["mean"]) for r in rows}
            new_centers: list[list[float] | None] = [by_id.get(i) for i in range(k)]
            for i in range(k):
                if new_centers[i] is None:
                    new_centers[i] = farthest_point(
                        df,
                        [c for c in new_centers if c is not None] or centers,
                        p,
                        features_col,
                    )
            delta = movement(centers, new_centers, p)  # matched pairs, not any-match
            centers = new_centers
            if delta <= threshold:
                break
    return centers, n_iter
