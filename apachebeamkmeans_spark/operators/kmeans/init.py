"""The six centroid-initialization strategies of the reference
(SURVEY.md §0 table, §3.2), re-expressed as scalable Spark plans.

| strategy                 | reference file                                   | first seed            | remaining seeds |
|--------------------------|--------------------------------------------------|-----------------------|-----------------|
| random                   | SparKMeansGroupBy.java:68                        | —                     | exact-k seeded sample |
| plusplus                 | SparKMeansGroupByPlusPlus.java:76-123            | seeded random point   | roulette, weight D or D² |
| init_max                 | ...PlusPlusInitMax.java:78-87                    | farthest from origin  | roulette |
| init_min                 | ...PlusPlusInitMin.java:77-87                    | nearest to origin     | roulette |
| max_farthest             | ...PlusPlusInitMaxFarthest.java:77-120           | farthest from origin  | deterministic farthest point (Gonzalez) |
| max_farthest_manhattan   | ...InitMaxFarthestManhattan.java:76-121          | max L1 norm           | deterministic farthest point |

Scale posture — two reference anti-patterns are replaced:

- `takeSample` / unseeded Random → `hash01(id, seed)` order + TakeOrdered
  limit(k): per-partition top-k then a k-row driver merge; deterministic
  and reproducible by the DuckDB oracle.
- the roulette that `collect()`s the whole (distance, point) set to the
  driver every round (SparKMeansGroupByPlusPlus.java:105, O(n·k) driver
  traffic) → a distributed **exponential race**: winner =
  argmin_i  -ln(U_i)/w_i  with U_i = hash01(id, seed⊕round). This is
  one-pass weighted sampling (P(win) ∝ w_i), needs only each task's
  minimum and a driver merge, and is deterministic cross-engine.

Every draw after the first seed — roulette and farthest point alike —
is one job of `lloyd.best_point`: D(x) comes from the numpy batch
kernel over Arrow batches, each task keeps its best row, and the driver
picks among those (lloyd module docstring). The race's -ln(u) stays a
JVM column, so the JVM's `log` decides it exactly as before.

Every strategy returns a k×dim Python list — O(k·dim) driver data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.functions.hashing import hash01
from apachebeamkmeans_spark.operators.kmeans.lloyd import best_point, farthest_point
from apachebeamkmeans_spark.operators.kmeans.params import KMeansParams


def _take1(df: DataFrame, order_cols) -> list[float]:
    rows = df.orderBy(*order_cols).limit(1).collect()
    if not rows:
        raise ValueError("k-means seeding requires a non-empty points frame")
    return list(rows[0]["f"])


def init_random(df: DataFrame, k: int, seed: int, features_col: str = "features") -> list[list[float]]:
    """Exact-k deterministic sample without replacement: order by a
    reproducible per-row hash, take k (O4 in SURVEY.md §2.5)."""
    rows = (
        df.select(F.col(features_col).alias("f"), hash01(F.col("id"), seed).alias("h"), "id")
        .orderBy("h", "id")
        .limit(k)
        .collect()
    )
    if not rows:
        raise ValueError("k-means seeding requires a non-empty points frame")
    feats = [list(r["f"]) for r in rows]
    # k > n: cycle the available points rather than silently shrinking k
    # (the reference shrank — documented divergence, SURVEY.md §8.3);
    # the Lloyd loop's empty-cluster reseed takes it from here.
    while len(feats) < k:
        feats.append(list(feats[len(feats) % len(rows)]))
    return feats


def _roulette_next(df: DataFrame, centers: list[list[float]], p: float, weight: str,
                   seed: int, rnd: int, features_col: str = "features") -> list[float]:
    """One k-means++ roulette draw via the exponential race (see module
    docstring). weight='d' reproduces the reference's D-weighting
    (SURVEY.md §8.4); 'd2' is classic k-means++ D²."""
    # t = -ln(u)/w : Exp(rate=w) arrival time; min t wins with P ∝ w.
    # w=0 (point equals an existing center) → t=+inf, never selected.
    nlu = -F.log(hash01(F.col("id"), f"{seed}-{rnd}"))
    return best_point(df, centers, p, features_col, race=(nlu, weight))


def init_plusplus(df: DataFrame, params: KMeansParams,
                  features_col: str = "features") -> list[list[float]]:
    first = init_random(df, 1, params.seed, features_col)
    centers = first
    for i in range(1, params.k):
        centers = centers + [
            _roulette_next(df, centers, params.p, params.weight, params.seed, i, features_col)
        ]
    return centers


def _norm_first(df: DataFrame, p: float, desc: bool, manhattan: bool,
                features_col: str = "features") -> list[float]:
    feats = F.col(features_col)
    if manhattan:
        n = D.abs_sum(feats)
    elif p == 2:
        n = D.norm(feats, 2)
    else:
        n = D.norm(feats, p)
    order = [F.desc("n") if desc else F.asc("n"), F.asc("id")]
    return _take1(df.select(feats.alias("f"), n.alias("n"), "id"), order)


def init_max(df: DataFrame, params: KMeansParams, features_col: str = "features") -> list[list[float]]:
    """Farthest-from-origin first seed + roulette rounds."""
    centers = [_norm_first(df, params.p, desc=True, manhattan=False, features_col=features_col)]
    for i in range(1, params.k):
        centers.append(_roulette_next(df, centers, params.p, params.weight, params.seed, i, features_col))
    return centers


def init_min(df: DataFrame, params: KMeansParams, features_col: str = "features") -> list[list[float]]:
    """Nearest-to-origin first seed + roulette rounds."""
    centers = [_norm_first(df, params.p, desc=False, manhattan=False, features_col=features_col)]
    for i in range(1, params.k):
        centers.append(_roulette_next(df, centers, params.p, params.weight, params.seed, i, features_col))
    return centers


def init_max_farthest(df: DataFrame, params: KMeansParams,
                      features_col: str = "features") -> list[list[float]]:
    """Gonzalez / maximin scattering: farthest-from-origin seed, then
    deterministically take the point farthest from the chosen set."""
    centers = [_norm_first(df, params.p, desc=True, manhattan=False, features_col=features_col)]
    for _ in range(1, params.k):
        centers.append(farthest_point(df, centers, params.p, features_col))
    return centers


def init_max_farthest_manhattan(df: DataFrame, params: KMeansParams,
                                features_col: str = "features") -> list[list[float]]:
    """Same as max_farthest but the first seed maximizes the L1 norm
    (`Point.point_abs_sum`)."""
    centers = [_norm_first(df, params.p, desc=True, manhattan=True, features_col=features_col)]
    for _ in range(1, params.k):
        centers.append(farthest_point(df, centers, params.p, features_col))
    return centers


STRATEGIES = {
    "random": lambda df, p, fc: init_random(df, p.k, p.seed, fc),
    "plusplus": init_plusplus,
    "init_max": init_max,
    "init_min": init_min,
    "max_farthest": init_max_farthest,
    "max_farthest_manhattan": init_max_farthest_manhattan,
}


def initial_centers(df: DataFrame, params: KMeansParams,
                    features_col: str = "features") -> list[list[float]]:
    return STRATEGIES[params.init](df, params, features_col)
