"""Training the ANN family's parameters from data.

Round-3 verdict gap: PQ codebooks, IVF coarse centers and LSH planes
were fixture literals (`fixtures.py`) — oracle-convenient but not
self-contained. This module trains them with the engine itself:

- `ivf_train` — Lloyd's k-means over (L2-normalized) embeddings for the
  IVF coarse quantizer.
- `pq_train` — Lloyd per PQ subspace: m independent k-means runs, one
  per `dsub`-wide column block of the vectors. This is the training
  step of IVF-PQ.

Both run the package's one Lloyd iteration, `lloyd._lloyd_step` (the
reference's loop, SparKMeansGroupBy.java:73-151,
generalized per SURVEY.md §2.3-2.4): IVF with one center set over the
whole vector, PQ with m codebooks over m column blocks, so all m
subspaces train in one single-stage job per iteration. Each task
assigns its Arrow batches with the numpy batch kernel and ships one row
of dense partials (size, Σx, Σdist) over all m·ksub centers (m = 1,
ksub = k for IVF); the driver sums the rows.

Determinism contract: seeds come from the engine's md5 `hash01` order
(lowest hash wins, ties by id); iteration count is FIXED (no float
convergence test that could diverge across engines); an empty cluster
keeps its previous centroid (FAISS behavior — deterministic, no
re-seed race). Under that contract the `*_np` numpy twins reproduce
training to float-rounding precision, which lets the driver
oracle-check the Spark-trained values against numpy-trained literals
(see queries_similarity).

100 TB posture: an iteration shuffles nothing; its driver traffic is
tasks × m·ksub·(dsub+2) values (k·(dim+2) per task for IVF), never
points. Training normally runs on a sample (here: the sf0.01 reference
slice) — codebooks do not need the full corpus.
"""

from __future__ import annotations

import hashlib
import logging
from contextlib import nullcontext

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import is_held, staged
from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.operators.kmeans import lloyd
from apachebeamkmeans_spark.operators.kmeans.init import seed_rows

TWO32 = 4294967296.0

log = logging.getLogger(__name__)


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


def _fixed_lloyd(vecs: DataFrame, blocks: list[list[list[float]]],
                 n_iters: int, features_col: str) -> list[list[list[float]]]:
    """`n_iters` Lloyd iterations of the center sets `blocks` (block s
    over the s-th column block of `features_col`, see
    `lloyd._lloyd_step`), one single-stage job each; the new center is
    Σx / size and an empty cluster (size 0) keeps its previous
    centroid. `vecs` is re-scanned every iteration, so it is staged
    unless it is held already (`checkpoints.is_held`). Each iteration
    is logged with `extra` fields `iteration` and `delta`, the largest
    center movement over the blocks."""
    base = vecs.select(features_col)
    with nullcontext(base) if is_held(vecs) else staged(base) as base:
        for it in range(1, n_iters + 1):
            size, sx, _ = lloyd._lloyd_step(base, blocks, 2.0, features_col)
            new = [[(sx[s, c] / size[s, c]).tolist() if size[s, c] else list(center)
                    for c, center in enumerate(block)]
                   for s, block in enumerate(blocks)]
            delta = max(lloyd.movement(a, b) for a, b in zip(blocks, new))
            blocks = new
            log.info("trainer iteration %d: delta %.6g", it, delta,
                     extra={"iteration": it, "delta": delta})
    return blocks


def ivf_train(vecs: DataFrame, k: int, n_iters: int = 5, seed="ivf",
              id_col: str = "id", features_col: str = "features") -> list[list[float]]:
    """k coarse centers by Lloyd, seeded with the k rows of smallest
    hash01(id, seed): `n_iters` iterations of `lloyd._lloyd_step` over
    one center set, one job each (one row of k partials per task).
    Fixed iteration count; empty clusters keep their previous
    centroid. The kernel's distances and first-minimum ties are those
    of the Column-form assign; the mean's summation order differs from
    numpy's only at ulp level, absorbed by the `round_param` rounding
    the numpy-twin contract relies on (asserted in
    tests/test_ann_train.py)."""
    # dimensionality comes from the seed rows — no separate probe job
    centers = [f for _, f in seed_rows(vecs, k, seed, id_col, features_col)]
    if not centers:
        raise ValueError("ivf_train requires a non-empty points frame")
    if len(centers) < k:
        raise ValueError(f"ivf_train: need >= {k} rows, got {len(centers)}")
    return _fixed_lloyd(vecs, [centers], n_iters, features_col)[0]


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
    Lloyd runs, one per `dsub`-wide column block: `n_iters` iterations
    of `lloyd._lloyd_step` over the m codebooks, one job each (one row
    of m·ksub partials per task). Init: codebook c of every subspace =
    the c-th seed row's slice (same seeded sample for all subspaces).
    Empty clusters keep their previous centroid."""
    # dimensionality comes from the seed rows — no separate probe job
    seeds = [f for _, f in seed_rows(vecs, ksub, seed, id_col, features_col)]
    if not seeds:
        raise ValueError("pq_train requires a non-empty points frame")
    if len(seeds) < ksub:
        raise ValueError(f"pq_train: need >= {ksub} rows, got {len(seeds)}")
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = [[row[s * dsub:(s + 1) * dsub] for row in seeds] for s in range(m)]
    return _fixed_lloyd(vecs, codebooks, n_iters, features_col)


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
