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

Each seeded strategy is one (first seed, next draw) pair of `SEEDED`,
run by the one loop in `seed_picks`. Every pick is the chosen row's
(id, features), so a strategy returns k (id, features) pairs — O(k·dim)
driver data — and `initial_centers` keeps their features. This loop is
the engine's only seeding: `KMeans.fit` runs it, and so do the
registered seed-trace queries (`queries_kmeans.q_kmeans_gonzalez_seeds`,
`q_kmeans_plusplus_seeds`, `q_kmeans_plusplus_seeds_dweight`), which
emit the picked ids for the DuckDB oracle to replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.functions.hashing import hash01
from apachebeamkmeans_spark.operators.kmeans.lloyd import best_point
from apachebeamkmeans_spark.operators.kmeans.params import KMeansParams


def _take1(df: DataFrame, order_cols) -> tuple:
    rows = df.orderBy(*order_cols).limit(1).collect()
    if not rows:
        raise ValueError("k-means seeding requires a non-empty points frame")
    return rows[0]["id"], list(rows[0]["f"])


def seed_rows(df: DataFrame, n: int, seed, id_col: str = "id",
              features_col: str = "features") -> list[tuple]:
    """The (id, features) of the n rows with the smallest hash01(id,
    seed) (ties → lowest id) — the engine's deterministic seeded sample
    (TakeOrdered, no full sort; O(n·dim) driver traffic). Shared by
    `init_random` and the ANN trainers (`ann_train`)."""
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(features_col).alias("f"),
                  hash01(F.col(id_col), seed).alias("h"))
        .orderBy(F.asc("h"), F.asc("i"))
        .limit(n)
        .collect()
    )
    return [(r["i"], list(r["f"])) for r in rows]


def init_random(df: DataFrame, k: int, seed: int, features_col: str = "features") -> list[tuple]:
    """Exact-k deterministic sample without replacement: order by a
    reproducible per-row hash, take k (O4 in SURVEY.md §2.5)."""
    picks = seed_rows(df, k, seed, features_col=features_col)
    if not picks:
        raise ValueError("k-means seeding requires a non-empty points frame")
    # k > n: cycle the available points rather than silently shrinking k
    # (the reference shrank — documented divergence, SURVEY.md §8.3);
    # the Lloyd loop's empty-cluster reseed takes it from here.
    n = len(picks)
    while len(picks) < k:
        i, f = picks[len(picks) % n]
        picks.append((i, list(f)))
    return picks


# ------------------------------------------- seeded strategies: (first, next)


def _random_first(df: DataFrame, params: KMeansParams, features_col: str) -> tuple:
    """Seeded random point."""
    return init_random(df, 1, params.seed, features_col)[0]


def _norm_first(desc: bool, manhattan: bool):
    """First seed by norm: farthest from (desc) or nearest to the
    origin under the metric's norm, or by L1 norm (`manhattan`,
    `Point.point_abs_sum`); ties → lowest id."""
    def first(df: DataFrame, params: KMeansParams, features_col: str) -> tuple:
        feats = F.col(features_col)
        n = D.abs_sum(feats) if manhattan else D.norm(feats, params.p)
        order = [F.desc("n") if desc else F.asc("n"), F.asc("id")]
        return _take1(df.select(feats.alias("f"), n.alias("n"), "id"), order)
    return first


def _roulette_draw(df: DataFrame, centers: list[list[float]], params: KMeansParams,
                   rnd: int, features_col: str) -> tuple:
    """One k-means++ roulette draw via the exponential race (see module
    docstring). weight='d' reproduces the reference's D-weighting
    (SURVEY.md §8.4); 'd2' is classic k-means++ D²."""
    # t = -ln(u)/w : Exp(rate=w) arrival time; min t wins with P ∝ w.
    # w=0 (point equals an existing center) → t=+inf, never selected.
    nlu = -F.log(hash01(F.col("id"), f"{params.seed}-{rnd}"))
    return best_point(df, centers, params.p, features_col, race=(nlu, params.weight))


def _farthest_draw(df: DataFrame, centers: list[list[float]], params: KMeansParams,
                   rnd: int, features_col: str) -> tuple:
    """Gonzalez / maximin scattering: the point farthest from the
    chosen set, deterministically."""
    return best_point(df, centers, params.p, features_col)


SEEDED = {
    "plusplus": (_random_first, _roulette_draw),
    "init_max": (_norm_first(desc=True, manhattan=False), _roulette_draw),
    "init_min": (_norm_first(desc=False, manhattan=False), _roulette_draw),
    "max_farthest": (_norm_first(desc=True, manhattan=False), _farthest_draw),
    "max_farthest_manhattan": (_norm_first(desc=True, manhattan=True), _farthest_draw),
}

STRATEGIES = ("random", *SEEDED)


def seed_picks(df: DataFrame, params: KMeansParams,
               features_col: str = "features") -> list[tuple]:
    """The k picks of `params.init`, in order, each the chosen row's
    (id, features). Raises ValueError on an empty frame."""
    if params.init == "random":
        return init_random(df, params.k, params.seed, features_col)
    first, draw = SEEDED[params.init]
    picks = [first(df, params, features_col)]
    for rnd in range(1, params.k):
        picks.append(draw(df, [f for _, f in picks], params, rnd, features_col))
    return picks


def initial_centers(df: DataFrame, params: KMeansParams,
                    features_col: str = "features") -> list[list[float]]:
    return [f for _, f in seed_picks(df, params, features_col)]
