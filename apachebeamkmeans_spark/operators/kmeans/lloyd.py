"""Lloyd iteration primitives: assign → recenter → converge.

Reference semantics (SURVEY.md §2.3-2.4, §3.1):

- assign = broadcast nested-loop argmin over the current centers
  (`mapToPair` closing over the broadcast list with an inner for-loop,
  SparKMeansGroupBy.java:77-98). Here the centers are a *plan-time
  constant* (k×dim doubles, a SQL literal or a kernel closure) and
  each point takes the argmin of its k distances — zero join, zero
  shuffle. At 100 TB this is a pure map
  stage.
- recenter = per-cluster element-wise mean. The reference shuffles every
  point string through `groupByKey` with no map-side combine
  (SparKMeansGroupBy.java:102-114). Here nothing is shuffled: each task
  emits one row of dense partials (size, Σx, Σdist over all k centers)
  and the driver sums the rows in partition order, so an iteration is
  one job of one stage and its centers are the same bits on every run.
- convergence = max movement between *index-matched* old/new centers
  (textbook; the reference's any-match + index bug, SURVEY.md §8.1-8.2,
  is deliberately not reproduced).

Two forms of "nearest center", one per kind of consumer:

- **Column form** for lazy plans that queries compose (`assign`,
  `min_dist_col`): `_nearest_center`, ONE parsed
  SQL string holding the centers as one folded literal
  (`distance.sql_array_literal`) and the Minkowski-p fold as a lambda.
  One py4j call to build, one codegen compile for any center values;
  its left-to-right sums and first-minimum ties give the same doubles
  as the unrolled oracle SQL.
- **Batch kernel** for the driver-loop steps that collect a result —
  a Lloyd iteration (`_lloyd_step`, run by `lloyd_fit` and by the ANN
  trainers `ann_train.ivf_train` and `ann_train.pq_train`), a
  farthest-point or roulette draw (`best_point`) and a model's SSE
  (`total_sse`): `_batch_kernel`, the
  same fold in numpy over whole Arrow batches (`mapInArrow`). The
  higher-order functions of the Column form never compile to Java
  (`CodegenFallback`) and are interpreted per (row, center); the kernel
  makes each step one job of vectorized numpy. It gives the Column
  form's doubles and ties for p ∈ {1, 2}, and `tests/test_kmeans.py`
  pins the two to each other.

Centers live on the driver as a k×dim Python list (≤ a few KB); the
driver receives one partial row per task per step: k·(dim+2) values
for a Lloyd iteration, one point for a draw.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D

log = logging.getLogger(__name__)


def _nearest_center(centers: list[list[float]], p: float,
                    features_col: str = "features"):
    """struct(dist, idx) of the nearest literal center (ties → lowest
    idx) as ONE parsed SQL expression (see module docstring). `dist`
    is squared for p=2, plain for p=1, and the 1/p root for other p."""
    dist = D.sql_pow_sum(features_col, "c", p)
    if p not in (1, 2):
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


def min_dist_col(centers: list[list[float]], p: float = 2.0,
                 features_col: str = "features"):
    """min over current centers of distance(point, center) — seeding's
    D(x) quantity (SparKMeansGroupByPlusPlus.java:82-96); squared for
    p=2."""
    return _nearest_center(centers, p, features_col)["dist"]


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


# ------------------------------------------------------ batch kernel (driver loops)


def _arrow_matrix(dim: int):
    """`matrix(list_array)`: an Arrow ARRAY<DOUBLE> column as an n×dim
    float64 matrix, as a closure that cloudpickle ships by value."""

    def matrix(col):
        lens = col.value_lengths().to_numpy(zero_copy_only=False)
        if col.null_count or (lens != dim).any():
            raise ValueError(f"features must be non-null arrays of {dim} doubles")
        return col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), dim)

    return matrix


def _batch_kernel(centers: list[list[float]], p: float):
    """The numpy twin of `_nearest_center`, as closures that cloudpickle
    ships by value (workers of a session not built by `get_spark` cannot
    import this package; compare `similarity.pq_encode_lut_arrow`). Raises ValueError before any job
    when a center is NaN or ±inf, as the SQL literal does.

    Returns (matrix, nearest):
    - `matrix(list_array)`: `_arrow_matrix` at the centers' width;
    - `nearest(X)`: (idx, dist) per row. For each center the distance
      accumulates dimension by dimension, left to right, from 0.0 —
      the fold `sql_pow_sum` runs — and a strict `<` keeps the first
      minimum, so p ∈ {1, 2} give the same doubles and ties as the
      Column form. Other p use numpy's `pow`, not the JVM's, and may
      differ from it in the last bits.
    """
    cents = [[float(x) for x in c] for c in centers]
    if not all(math.isfinite(x) for c in cents for x in c):
        raise ValueError("non-finite value in the k-means centers")
    dim, pf = len(cents[0]), float(p)

    def nearest(X):
        import numpy as np

        best = idx = None
        for c, cen in enumerate(np.asarray(cents, dtype=np.float64)):
            t = X - cen
            t = t * t if pf == 2 else np.abs(t) if pf == 1 else np.abs(t) ** pf
            acc = np.zeros(len(X))
            for j in range(dim):
                acc += t[:, j]
            if best is None:
                best, idx = acc, np.zeros(len(X), dtype=np.int32)
            else:
                better = acc < best
                best[better], idx[better] = acc[better], c
        if pf not in (1, 2):
            best = best ** (1.0 / pf)
        return idx, best

    return _arrow_matrix(dim), nearest


def _lloyd_step(df: DataFrame, center_sets: list[list[list[float]]], p: float,
                features_col: str):
    """One Lloyd iteration as one single-stage job, over `m =
    len(center_sets)` sets of k centers: set s owns the s-th of m
    equal, consecutive column blocks of `features` (m = 1 for plain
    k-means; the m subspaces of a product quantizer). Each task assigns
    every block of its Arrow batches with that block's batch kernel and
    emits ONE row of dense partials over all m·k centers (a center with
    no members stays at zero); `collect` returns the rows in partition
    order and the driver sums them in that order, so the result is the
    same from run to run.

    Returns numpy arrays (size[m, k], Σx[m, k, dsub], Σdist[m, k]); a
    center with size 0 got no members."""
    import numpy as np

    m, k, dsub = len(center_sets), len(center_sets[0]), len(center_sets[0][0])
    matrix = _arrow_matrix(m * dsub)
    kernels = [_batch_kernel(c, p)[1] for c in center_sets]

    def partials(batches):
        import numpy as np
        import pyarrow as pa

        size, sd = np.zeros((m, k), dtype=np.int64), np.zeros((m, k))
        sx = np.zeros((m, k, dsub))
        for b in batches:
            X = matrix(b.column(0))
            for s, nearest in enumerate(kernels):
                B = X[:, s * dsub:(s + 1) * dsub]
                idx, dist = nearest(B)
                size[s] += np.bincount(idx, minlength=k)
                sd[s] += np.bincount(idx, weights=dist, minlength=k)
                for c in np.unique(idx):
                    sx[s, c] += B[idx == c].sum(axis=0)

        def row(a):
            return pa.ListArray.from_arrays(pa.array([0, a.size], pa.int32()), pa.array(a.ravel()))

        yield pa.RecordBatch.from_arrays([row(size), row(sx), row(sd)],
                                         names=["size", "sx", "sd"])

    size, sd = np.zeros((m, k), dtype=np.int64), np.zeros((m, k))
    sx = np.zeros((m, k, dsub))
    for r in (df.select(features_col)
              .mapInArrow(partials, "size array<bigint>, sx array<double>, sd array<double>")
              .collect()):
        size += np.asarray(r["size"], dtype=np.int64).reshape(m, k)
        sx += np.asarray(r["sx"]).reshape(m, k, dsub)
        sd += np.asarray(r["sd"]).reshape(m, k)
    return size, sx, sd


def best_point(df: DataFrame, centers: list[list[float]], p: float = 2.0,
               features_col: str = "features", race=None) -> list[float]:
    """The features of one point chosen by its distance D(x) to the
    nearest center (squared for p=2), as one job: each task keeps its
    best row (key, id, f) and the driver picks among those.

    - `race=None`: the point farthest from the centers, ties to the
      smallest id — Gonzalez scattering and the empty-cluster reseed.
    - `race=(nlu, weight)`: the exponential-race winner, smallest
      t = nlu / w (+inf where w = 0), ties to the smallest id. `nlu`
      is the column -ln(u), computed in the JVM; w is D(x), its square
      root for p=2 and weight 'd', or its square for p≠2 and weight
      'd2' (see `init` for the race).

    Raises ValueError on an empty frame."""
    import numpy as np

    matrix, nearest = _batch_kernel(centers, p)
    cols = [F.col("id"), F.col(features_col).alias("f")]
    largest = race is None
    nlu, weight = race or (None, None)
    if not largest:
        cols.append(nlu.alias("nlu"))
    dtypes = dict(df.select(*cols).dtypes)

    def first_best(keys, ids):
        """Index of the largest (or smallest) key, NaN ordered greatest
        as Spark orders doubles, ties to the smallest id:
        `orderBy(key, id).limit(1)`."""
        import numpy as np

        nan = np.isnan(keys)
        if nan.all() or (largest and nan.any()):
            top = nan
        else:
            rest = keys[~nan]
            top = keys == (rest.max() if largest else rest.min())
        cand = np.flatnonzero(top)
        return int(cand[np.argmin(ids[cand])])

    def best(batches):
        import numpy as np
        import pyarrow as pa

        keys, rows = [], []
        for b in batches:
            if not b.num_rows:
                continue
            _, d = nearest(matrix(b.column(1)))
            if largest:
                key = d
            else:
                w = (np.sqrt(d) if p == 2 and weight == "d"
                     else d * d if p != 2 and weight == "d2" else d)
                nl = b.column(2).to_numpy(zero_copy_only=False)
                with np.errstate(divide="ignore", invalid="ignore"):
                    key = np.where(w > 0, nl / w, np.inf)
            j = first_best(key, b.column(0).to_numpy(zero_copy_only=False))
            keys.append(key[j])
            rows.append(b.slice(j, 1))
        if rows:
            ids = pa.concat_arrays([r.column(0) for r in rows])
            j = first_best(np.asarray(keys), ids.to_numpy(zero_copy_only=False))
            yield pa.RecordBatch.from_arrays(
                [pa.array([keys[j]], pa.float64()), rows[j].column(0), rows[j].column(1)],
                names=["key", "id", "f"],
            )

    rows = (
        df.select(*cols)
        .mapInArrow(best, f"key double, id {dtypes['id']}, f {dtypes['f']}")
        .collect()
    )
    if not rows:
        raise ValueError("k-means seeding requires a non-empty points frame")
    j = first_best(np.array([r["key"] for r in rows]),
                   np.array([r["id"] for r in rows], dtype=object))
    return list(rows[j]["f"])


def farthest_point(df: DataFrame, centers: list[list[float]], p: float = 2.0,
                   features_col: str = "features") -> list[float]:
    """argmax_x min_c dist(x, c), ties to the smallest id — Gonzalez
    scattering step and the empty-cluster re-seed (`best_point`)."""
    return best_point(df, centers, p, features_col)


def total_sse(df: DataFrame, centers: list[list[float]], p: float = 2.0,
              features_col: str = "features") -> float:
    """Σ over points of the squared L2 distance to the center nearest
    under metric p, as one job: one partial sum per task, summed on the
    driver."""
    import numpy as np

    matrix, nearest = _batch_kernel(centers, p)
    cents = np.asarray(centers, dtype=np.float64)

    def partial(batches):
        import numpy as np
        import pyarrow as pa

        s = 0.0
        for b in batches:
            X = matrix(b.column(0))
            idx, dist = nearest(X)
            if p != 2:
                t = X - cents[idx]
                dist = np.zeros(len(X))
                for j in range(X.shape[1]):
                    dist += t[:, j] * t[:, j]
            s += float(dist.sum())
        yield pa.RecordBatch.from_arrays([pa.array([s], pa.float64())], names=["sse"])

    rows = df.select(features_col).mapInArrow(partial, "sse double").collect()
    return float(sum(r["sse"] for r in rows))


def lloyd_fit(df: DataFrame, init_centers: list[list[float]], p: float,
              threshold: float, max_iter: int,
              features_col: str = "features",
              sse_log: list[float] | None = None) -> tuple[list[list[float]], int]:
    """The dynamic driver loop (SURVEY.md §2.6 C5): assign → recenter →
    converge, one single-stage job per iteration (`_lloyd_step`: no
    shuffle, so nothing for AQE to re-plan and no conf scope); the new
    center is Σx / size.

    Each iteration re-scans `df`, so the caller caches it (`KMeans.fit`
    does). Each iteration's plan is built from that base frame and the
    current centers, so lineage never grows — no checkpointing needed
    (the reference accidentally achieved the same by collecting every
    iteration).

    Empty clusters (size 0) are re-seeded from the current farthest
    point (documented divergence from the reference, which silently
    shrank k — SURVEY.md §8.3), one more job each. Every iteration is
    logged with `extra` fields `iteration`, `delta` (max center
    movement) and `reseeded`.

    `sse_log`: pass a list to receive one entry per iteration: the sum
    over points of the distance to the nearest CURRENT center, measured
    at the assignment step (squared for p=2) — it rides the same
    partials. Lloyd's descent makes it non-increasing for p=2; the
    `kmeans_fit_clusters` property oracle checks that.
    """
    k = len(init_centers)
    centers = [list(c) for c in init_centers]
    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        size, sx, sd = _lloyd_step(df, [centers], p, features_col)
        if sse_log is not None:
            sse_log.append(float(sd.sum()))
        new_centers: list[list[float] | None] = [
            (sx[0, i] / size[0, i]).tolist() if size[0, i] else None for i in range(k)
        ]
        reseeded = 0
        for i in range(k):
            if new_centers[i] is None:
                new_centers[i] = farthest_point(
                    df,
                    [c for c in new_centers if c is not None] or centers,
                    p,
                    features_col,
                )
                reseeded += 1
        delta = movement(centers, new_centers, p)  # matched pairs, not any-match
        centers = new_centers
        log.info("lloyd iteration %d: delta %.6g, reseeded %d", n_iter, delta, reseeded,
                 extra={"iteration": n_iter, "delta": delta, "reseeded": reseeded})
        if delta <= threshold:
            break
    return centers, n_iter
