"""Similarity search over embeddings: brute-force cosine top-k and an
IVF (inverted-file) variant (north-star ops).

Brute-force is the correctness baseline: one narrow pass computing
cosine(query, v) per row, then TakeOrdered top-k — per query, O(n)
work and k-row driver traffic.

IVF is the scale path: vectors are coarse-quantized to their nearest
centroid (the same literal-center argmin as K-Means assignment) and
**materialized partitioned by `coarse_id`** (`build_ivf_index`); a
search (`ivf_topk_indexed`) reads back with a `coarse_id IN (probe
cells)` filter that Spark turns into partition pruning — the scan
touches nprobe/k of the directories, not the table. All queries run in
ONE plan: a literal query matrix fans out per-row cosines, a literal
probe-cell map filters (qid, cell) matches, one window ranks. `nprobe`
trades recall for scan cost exactly like FAISS IVF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.operators.kmeans import lloyd


def cosine_topk(vecs: DataFrame, queries: list[list[float]], k: int = 10,
                id_col: str = "id", features_col: str = "features") -> DataFrame:
    """Exact top-k by cosine for every literal query vector in ONE scan:
    the query matrix is a nested-array literal, each row computes all
    cosines via a single higher-order transform (query norms folded at
    plan time), posexplode fans out (qid, cosine), and a per-qid window
    ranks. Arithmetic structure matches the unrolled/oracle form
    (same left-to-right sums), so values are bit-identical."""
    f = F.col(features_col)
    qnorms = [sum(float(v) * float(v) for v in q) ** 0.5 for q in queries]
    vnorm = F.sqrt(
        F.aggregate(F.transform(f, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    # row norm materialized once (HOF lambdas get no CSE — inlining
    # `vnorm` here would recompute it n_queries times per row)
    cos_arr = F.transform(
        D.lit_array(queries),
        lambda q, i: D.dot(f, q) / (F.col("__vnorm") * F.element_at(D.lit_array(qnorms), i + 1)),
    )
    exploded = vecs.select(
        F.col(id_col).alias("vec_id"), f, vnorm.alias("__vnorm")
    ).select("vec_id", F.posexplode(cos_arr).alias("qid", "_c"))
    w = Window.partitionBy("qid").orderBy(F.desc("_c"), F.asc("vec_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.round("_c", 6).alias("cosine"), "rank")
    )


def cosine_range_search(vecs: DataFrame, queries: list[list[float]],
                        min_cosine: float, id_col: str = "id",
                        features_col: str = "features") -> DataFrame:
    """Range search (the dual of top-k): every vector with
    cosine ≥ `min_cosine` of each literal query — retrieval-by-
    threshold, e.g. "all documents semantically close to this probe".
    Same single-scan shape as `cosine_topk` (one higher-order transform
    per row computes all query cosines, posexplode fans out), with the
    threshold applied before the shuffle-free projection — no window,
    no sort: at 100 TB this is a pure narrow map over the embedding
    scan."""
    f = F.col(features_col)
    qnorms = [sum(float(v) * float(v) for v in q) ** 0.5 for q in queries]
    vnorm = F.sqrt(
        F.aggregate(F.transform(f, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    # materialize the row norm once per row: subexpressions inside HOF
    # lambdas are NOT common-subexpression-eliminated, so referencing
    # `vnorm` in the per-query lambda would recompute it n_queries times
    cos_arr = F.transform(
        D.lit_array(queries),
        lambda q, i: D.dot(f, q) / (F.col("__vnorm") * F.element_at(D.lit_array(qnorms), i + 1)),
    )
    return (
        vecs.select(F.col(id_col).alias("vec_id"), f, vnorm.alias("__vnorm"))
        .select("vec_id", F.posexplode(cos_arr).alias("qid", "_c"))
        .filter(F.round(F.col("_c"), 6) >= min_cosine)
        .select("qid", "vec_id", F.round("_c", 6).alias("cosine"))
    )


def quantize_int8(vecs: DataFrame, scale: int = 127,
                  id_col: str = "id", features_col: str = "features") -> DataFrame:
    """Int8 vector quantization (the storage-compression step before
    ANN serving: 4× smaller than float32, 8× smaller than float64)
    as a **scalar Arrow pandas_udf** — the vectorized-Python surface
    (SURVEY.md §2.7 UDF family; sibling of the SQL UDF / UDAF / UDTF /
    mapInPandas paths). Each batch is one numpy broadcast:
    floor(clip(x, -1, 1) · scale) — elementwise IEEE mult + floor, so
    the codes are integer-exact and the DuckDB oracle reproduces them
    bit-for-bit (no summation-order concerns). Zero shuffle: a narrow
    Arrow-batched map over the embedding scan."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: with `from __future__ import annotations` they are
    # strings pandas_udf can't resolve against function-local imports;
    # returnType + functionType carry the contract instead
    def _codes_fn(col):
        import numpy as np

        return col.map(
            lambda v: np.floor(
                np.clip(np.asarray(v, dtype=np.float64), -1.0, 1.0) * scale
            ).astype(np.int32)
        )

    _codes = pandas_udf(_codes_fn, returnType="array<int>")

    codes = _codes(F.col(features_col))
    return vecs.select(
        F.col(id_col).alias("vec_id"),
        codes.alias("codes"),
    ).select(
        "vec_id",
        "codes",
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, v: a + v).alias("code_sum"),
    )


def pq_encode(vecs: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "id", features_col: str = "features",
              carry: tuple[str, ...] = ()) -> DataFrame:
    """Product-quantization encode: each vector → `m` uint8-range codes,
    one per subspace (the nearest of `ksub` literal centroids over that
    subspace's `dsub` dims). This is the compression step of IVF-PQ —
    at 100 TB it turns a 512-byte float64 embedding into m bytes, and
    it is a pure narrow map (zero shuffle): per subspace an unrolled
    squared-L2 array over literal centroids, staged once, then a
    first-minimum argmin. Same argmin tie-break as K-Means assignment
    (array_position of array_min → lowest code wins), so the DuckDB
    CASE-chain oracle is exact."""
    f = F.col(features_col)
    m, dsub = len(codebooks), len(codebooks[0][0])
    # The codebook rides along as DATA (one nested literal), not as
    # m·ksub unrolled expression trees — the unrolled form is ~1000
    # expression nodes, which overflows whole-stage codegen and costs
    # tens of seconds per run in compile fallback. The fold seeds with
    # 0.0, exact for the non-negative squared terms, so values equal
    # the unrolled oracle's left-associated sums bit-for-bit.
    subs = F.array(*[F.slice(f, s * dsub + 1, dsub) for s in range(m)])
    staged = vecs.select(
        F.col(id_col).alias("vec_id"), subs.alias("__subs"), *[F.col(c) for c in carry]
    )
    dmat = F.zip_with(
        F.col("__subs"), D.lit_array(codebooks),
        lambda sub, cb_s: F.transform(
            cb_s,
            lambda cent: F.aggregate(
                F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, v: a + v,
            ),
        ),
    )
    codes = F.transform(
        dmat, lambda darr: (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
    )
    return staged.select("vec_id", codes.alias("codes"), *carry)


def pq_encode_lut(vecs: DataFrame, codebooks: list[list[list[float]]],
                  id_col: str = "id", features_col: str = "features",
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """`pq_encode` variant that ALSO emits the per-row subspace distance
    matrix (`lut` ARRAY<ARRAY<DOUBLE>>, m×ksub) the codes were argmin'd
    from. One computation serves two roles: `codes` make the row a PQ
    database entry, `lut` makes the same row an ADC QUERY — lut[s][c]
    IS the squared L2 between the row's subvector s and centroid c, so
    the asymmetric distance from this row to any encoded row is m
    lookups (Σ_s lut[s][other.codes[s]]). That is what lets the KNN
    graph below ADC-score every blocked pair in both directions without
    a per-query driver-side LUT (there are n queries — the plan-literal
    LUT of `pq_adc_topk` cannot ride n rows).

    Kept separate from `pq_encode` so certified single-role consumers
    keep their exact plan; the distance-matrix expression is staged as
    a column FIRST and codes derive from the column — HOF lambdas get
    no CSE, so an inline twin expression would compute the m·ksub·dsub
    matrix twice per row."""
    f = F.col(features_col)
    m, dsub = len(codebooks), len(codebooks[0][0])
    subs = F.array(*[F.slice(f, s * dsub + 1, dsub) for s in range(m)])
    staged = vecs.select(
        F.col(id_col).alias("vec_id"), subs.alias("__subs"), *[F.col(c) for c in carry]
    )
    dmat = F.zip_with(
        F.col("__subs"), D.lit_array(codebooks),
        lambda sub, cb_s: F.transform(
            cb_s,
            lambda cent: F.aggregate(
                F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, v: a + v,
            ),
        ),
    )
    with_lut = staged.select("vec_id", dmat.alias("lut"), *carry)
    codes = F.transform(
        F.col("lut"),
        lambda darr: (F.array_position(darr, F.array_min(darr)) - 1).cast("int"),
    )
    return with_lut.select("vec_id", codes.alias("codes"), "lut", *carry)


def pq_encode_lut_arrow(vecs: DataFrame, codebooks: list[list[list[float]]],
                        id_col: str = "id", features_col: str = "features",
                        carry: tuple[str, ...] = ()) -> DataFrame:
    """`pq_encode_lut` computed batch-wise in numpy via `mapInPandas`
    (guide §4.2: hand whole Arrow batches to vectorized native code) —
    BIT-IDENTICAL output by construction, for the fan-out consumers
    where the HOF form's per-element interpreted evaluation dominates
    (higher-order-function lambdas never whole-stage-codegen; the KNN
    graph encodes n·nprobe exploded rows ≈ m·ksub·dsub interpreted
    float ops each).

    Exactness argument: the HOF fold computes
    ((0.0 + t_0) + t_1) + ... left-to-right per (subspace, centroid);
    each subspace's table is `lloyd._batch_kernel`'s distance matrix,
    the same IEEE additions in the same order, and `argmin` takes the
    first minimum exactly like array_position(array_min). Asserted
    against the HOF twin in tests/test_knn_pq.py.

    Precondition (r17 ADVICE): inputs must be FINITE. On a NaN
    element np.argmin returns the first NaN index (NaN propagates as
    the min) while Spark's array_min/array_position order NaN
    greatest, so codes would diverge from the HOF twin. Every current
    caller feeds L2-normalized or residual vectors derived from
    finite parquet doubles, which cannot produce non-finite terms."""
    import pandas as pd  # noqa: F401 — mapInPandas ships pandas frames

    m, dsub = len(codebooks), len(codebooks[0][0])
    # the id column keeps ITS OWN type (r17 ADVICE: a hardcoded
    # `vec_id long` silently retyped int/string ids that the HOF twin
    # preserves) — derived exactly like the carry columns
    dtypes = dict(vecs.dtypes)
    out_schema = (
        f"vec_id {dtypes[id_col]}, codes array<int>, "
        "lut array<array<double>>"
        + "".join(f", {c} {dtypes[c]}" for c in carry)
    )
    tables = [lloyd._batch_kernel(book, 2.0)[1] for book in codebooks]
    fcol, icol, carry_l = features_col, id_col, list(carry)

    def _encode(batches):
        # closure (pickled by value — executors never import the repo);
        # numpy loaded once per task, amortized over every batch
        import numpy as np

        for pdf in batches:
            X = np.asarray(pdf[fcol].to_list(), dtype=np.float64)
            if X.shape[0] == 0:
                continue
            luts = np.stack(
                [tables[s](X[:, s * dsub:(s + 1) * dsub]) for s in range(m)], axis=1
            )
            codes = luts.argmin(axis=2).astype("int32")   # first-min ties
            out = {
                "vec_id": pdf[icol].to_numpy(),
                "codes": list(codes),
                "lut": [list(row) for row in luts],
            }
            for c in carry_l:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    cols = [F.col(icol), F.col(fcol), *[F.col(c) for c in carry_l]]
    return vecs.select(*cols).mapInPandas(_encode, out_schema)



def _adc_expr(lut, codes, m: int):
    """Σ_s lut[s][codes[s]] — the asymmetric-distance sum shared by
    every ADC consumer (literal-LUT transforms pass a lambda-bound
    array, column-LUT callers pass the column). One definition so the
    lookup/tie arithmetic can never drift between the certified
    paths (r11 review)."""
    t = None
    for s in range(m):
        term = F.element_at(
            F.element_at(lut, s + 1), F.element_at(codes, s + 1) + 1
        )
        t = term if t is None else t + term
    return t


def knn_graph_pq(normed: DataFrame, centers: list[list[float]],
                 codebooks: list[list[list[float]]], knn_k: int = 3,
                 nprobe: int = 4, refine: int | None = None,
                 dim: int | None = None,
                 id_col: str = "id",
                 features_col: str = "features",
                 salt_target: int | None = None) -> DataFrame:
    """KNN-graph build riding the IVF-PQ serving stack — the documented
    escalation path past the flat build's Θ(n^1.5) exact-scoring wall
    (SCALE.md §9): identical multi-probe coarse-cell blocking to
    `queries_similarity.q_sim_knn_graph` (so the candidate universe and
    its recall ceiling are the same), but blocked pairs are scored by
    PQ asymmetric distance (m table lookups) instead of the exact
    64-term dot, and only the top-`refine` shortlist per vector is
    re-ranked exactly. At 100 TB with real 768-dim embeddings the
    economics are m lookups vs 768 multiplies per scored pair and an
    exact pass over refine rows instead of every candidate.

    RESIDUAL, PER-MET-CELL encoding (the FAISS IndexIVFPQ default,
    adapted to the self-join): each (vector, probed cell) row encodes
    x − center(cell), so when a pair meets in its lowest shared cell
    both sides are shifted by the SAME center and the shift cancels —
    ADC approximates l2(a, b) directly. Residual codes spend their bits
    on within-cell variation, exactly what separates near-neighbors;
    measured on the synthetic corpus (numpy sweep, r10): raw m=8
    codes rank near-randomly at x10 (recall@3 0.21) while residual
    m=16/ksub=16 with refine=100 holds 0.85–0.93 across sf0.01/x1/x10.

    Shape audit mirrors the flat build: probes by `lloyd.assign_probes`,
    encode checkpointed once per exploded row (`pq_encode_lut_arrow` —
    the row's dmat is both its codes' source and its query-side LUT),
    self-join via `salted_self_pairs` (hot cells grid-split), structural dedup by lowest shared probed cell, BOTH
    directed ADC distances computed per unordered pair (ADC is
    asymmetric), per-vector shortlist bounded map-side by the
    row_number window, exact re-rank joins the raw vectors back for
    only refine rows per vector — the wide embedding never rides the
    pair fan-out, and no join side is hint-forced (the vector table is
    corpus-sized; AQE picks the strategy)."""
    from apachebeamkmeans_spark.operators.dedup import salted_self_pairs

    m = len(codebooks)
    pts = normed.select(
        F.col(id_col).alias("vec_id"), F.col(features_col).alias("f")
    )
    if refine is None:
        # derive the shortlist with the blocking (r17, the SCALE.md
        # x30 finding): a fixed refine silently caps recall as
        # per-cell candidate volume n·nprobe/cells outgrows it
        from apachebeamkmeans_spark.operators.ann_train import knn_refine

        refine = knn_refine(pts.count(), nprobe, len(centers))
    lit_centers = D.lit_array(centers)
    ex = lloyd.assign_probes(pts, centers, nprobe, "f").select(
        "vec_id", "probes", F.explode("probes").alias("coarse_id"),
        F.col("f"),
    ).select(
        "vec_id", "probes", "coarse_id",
        F.zip_with(
            F.col("f"),
            F.element_at(lit_centers, F.col("coarse_id") + 1),
            lambda x, c: x - c,
        ).alias("r"),
    )
    # (vec_id, codes, lut, coarse_id, probes): ~m·ksub doubles per row
    # instead of the raw vector — checkpointed so the self-join fans
    # out a materialized table, not the encode tree, to both sides.
    # Arrow/numpy encode (r17, guide §4.2): this is the one consumer
    # that encodes the n·nprobe EXPLODED fan-out, where the HOF form's
    # interpreted m·ksub·dsub ops/row dominate; bit-identical to it
    # (see pq_encode_lut_arrow).
    enc = pq_encode_lut_arrow(
        ex, codebooks, id_col="vec_id", features_col="r",
        carry=("coarse_id", "probes"),
    ).localCheckpoint(eager=True)

    from apachebeamkmeans_spark.operators.dedup import SALT_TARGET

    half = (
        # `salt_target`: callers that know n pass the derived grid
        # split (dedup.adaptive_salt_target) so ~cell-sized buckets
        # still spread over the cluster (r17, guide §2.5)
        salted_self_pairs(enc, ["coarse_id"], "vec_id",
                          target=salt_target or SALT_TARGET)
        # min-shared-cell dedup via filter(array_contains): in-place
        # scans of the two ≤nprobe arrays instead of a per-pair hash
        # set (r17; same form and rationale as the flat graph)
        .filter(
            F.col("a.coarse_id")
            == F.array_min(
                F.filter(
                    F.col("a.probes"),
                    lambda x: F.array_contains(F.col("b.probes"), x),
                )
            )
        )
        .select(
            F.col("a.vec_id").alias("aid"),
            F.col("b.vec_id").alias("bid"),
            _adc_expr(F.col("a.lut"), F.col("b.codes"), m).alias("d_ab"),
            _adc_expr(F.col("b.lut"), F.col("a.codes"), m).alias("d_ba"),
        )
    )
    # Deliberately a two-branch union (the join subtree executes once
    # per branch): measured r17 (guide §1), merging into one pass —
    # explode(array(struct..)) or checkpoint+union — computes BOTH
    # 16-term ADC chains in one codegen span and regresses 11.5→15-20 s
    # at sf0.1 (the per-branch form keeps one chain per span and the
    # two branch stages overlap); unlike the flat graph (which dedups
    # a repeated identical dot), the branches here share no arithmetic,
    # so the union duplicates only join machinery.
    directed = half.select(
        F.col("aid").alias("vec_id"), F.col("bid").alias("nbr_id"),
        F.col("d_ab").alias("_d"),
    ).unionByName(
        half.select(
            F.col("bid").alias("vec_id"), F.col("aid").alias("nbr_id"),
            F.col("d_ba").alias("_d"),
        )
    )
    wa = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("nbr_id"))
    shortlist = (
        directed.withColumn("adc_rank", F.row_number().over(wa))
        .filter(F.col("adc_rank") <= refine)
        .select("vec_id", "nbr_id")
    )
    pair_dot = (
        D.dot_cols_unrolled(F.col("qf"), F.col("nf"), dim)
        if dim is not None
        else D.dot(F.col("qf"), F.col("nf"))
    )
    scored = (
        shortlist
        .join(pts.select("vec_id", F.col("f").alias("qf")), "vec_id")
        .join(
            pts.select(F.col("vec_id").alias("nbr_id"), F.col("f").alias("nf")),
            "nbr_id",
        )
        .select("vec_id", "nbr_id", F.round(pair_dot, 6).alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= knn_k)
        .select("vec_id", "nbr_id", "cosine", "rank")
    )


def pq_adc_lut(q: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Driver-side ADC lookup table for one query: lut[s][c] = squared
    L2 between the query's subvector `s` and codebook centroid `c`,
    summed left-to-right. Computed once in Python and embedded as the
    SAME double literals in the Spark plan and the oracle SQL — the
    engines only ever look values up, never recompute them."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    lut = []
    for s in range(m):
        row = []
        for cent in codebooks[s]:
            t = 0.0
            for j, v in enumerate(cent):
                d = float(q[s * dsub + j]) - float(v)
                t += d * d
            row.append(t)
        lut.append(row)
    return lut


def pq_adc_topk(encoded: DataFrame, queries: list[list[float]],
                codebooks: list[list[list[float]]], k: int = 5) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes, ALL queries in one
    plan: the per-query lookup tables ride along as one nested literal,
    each row's approximate distance is m table lookups + an (m-1)-add
    sum — no floats from the original vectors are touched, which is
    what makes PQ serving cheap at 100 TB (scan m bytes/row, not the
    embedding). posexplode fans out (qid, dist); one per-qid window
    ranks ascending (ties → lowest vec_id)."""
    m = len(codebooks)
    luts = [pq_adc_lut(q, codebooks) for q in queries]
    adc_arr = F.transform(
        D.lit_array(luts), lambda lut_q: _adc_expr(lut_q, F.col("codes"), m)
    )
    exploded = encoded.select("vec_id", F.posexplode(adc_arr).alias("qid", "_d"))
    w = Window.partitionBy("qid").orderBy(F.asc("_d"), F.asc("vec_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.round("_d", 6).alias("adc_dist"), "rank")
    )


def ivfpq_topk(vecs: DataFrame, queries: list[list[float]],
               coarse_centers: list[list[float]],
               codebooks: list[list[list[float]]], k: int = 5,
               nprobe: int = 2, refine: int = 50, id_col: str = "id",
               features_col: str = "features") -> DataFrame:
    """IVF-PQ serving with exact re-rank, ONE plan — the FAISS
    IVF-PQ+refine search shape without a materialized layout:
    `ivfpq_probe_topk` over the `_ivfpq_layout` frame of the inline
    coarse assignment (as `ivf_topk` is `ivf_probe_topk` over
    `coarse_assign`). Each (already normalized) vector is
    coarse-quantized to its nearest trained center; only the union of
    all queries' probe cells is PQ-encoded (m codes/row), ADC-ranked
    per query, cut to the top-`refine` shortlist and re-ranked by
    EXACT cosine for the final top-k. No residual encoding (codes are
    over raw normalized vectors, not center residuals) — one codebook
    serves all cells, the common memory/simplicity trade.

    The coarse assignment is checkpointed before the encode: the probe
    filter `coarse_id IN (...)` reads the stored column and lands below
    the encode projection, so unprobed cells are never encoded, and the
    ADC pass and the refine fetch both read this frame — without the
    checkpoint the assign map would run again for the refine branch.
    localCheckpoint rather than cache: blocks release when the frame is
    GC'd."""
    assigned = coarse_assign(vecs, coarse_centers, id_col, features_col)
    return ivfpq_probe_topk(
        _ivfpq_layout(assigned.localCheckpoint(eager=False), codebooks),
        queries, coarse_centers, codebooks, k, nprobe, refine,
    )


def ivfpq_batch_topk(vecs: DataFrame, queries: DataFrame,
                     coarse_centers: list[list[float]],
                     codebooks: list[list[list[float]]], k: int = 5,
                     nprobe: int = 2, refine: int = 50,
                     id_col: str = "id", features_col: str = "features",
                     qid_col: str = "qid", qvec_col: str = "qvec",
                     prune_scan: bool = True) -> DataFrame:
    """IVF-PQ serving driven by a query TABLE — `ivfpq_topk`'s batch
    twin, completing the serving matrix ({literal, table} ×
    {flat IVF, IVF-PQ}): `ivfpq_batch_probe_topk` over the same inline
    layout frame (coarse assignment checkpointed once, read by both the
    ADC pass and the refine fetch). With `prune_scan` the collected
    probe cells filter `coarse_id` below the encode projection, so
    cells no query probes are never encoded — at scale the encode is
    the dominant inline cost. Like `ivfpq_topk`, codes are non-residual
    (one codebook for all cells); `vecs` must be L2-normalized."""
    assigned = coarse_assign(vecs, coarse_centers, id_col, features_col)
    return ivfpq_batch_probe_topk(
        _ivfpq_layout(assigned.localCheckpoint(eager=False), codebooks),
        queries, coarse_centers, codebooks, k, nprobe, refine,
        qid_col, qvec_col, prune_scan,
    )


def ivfpq_batch_topk_indexed(spark, index_path: str, queries: DataFrame,
                             centers: list[list[float]],
                             codebooks: list[list[list[float]]],
                             k: int = 5, nprobe: int = 2, refine: int = 50,
                             qid_col: str = "qid",
                             qvec_col: str = "qvec",
                             prune_scan: bool = True) -> DataFrame:
    """`ivfpq_batch_topk` over a materialized `build_ivfpq_index`
    layout: assign/encode already paid at build time, candidates come
    from the codes scan joined to the in-plan per-query LUTs, the
    refine re-reads raw vectors from the layout. With `prune_scan`
    (default) the distinct probed-cell set is collected (≤ k cells)
    and pushed as a static `coarse_id IN (...)` filter, so BOTH layout
    reads — the codes scan and the refine raw-vector fetch — partition
    prune to the probed directories (see `ivf_batch_topk`; r11 verdict
    item 2)."""
    return ivfpq_batch_probe_topk(
        spark.read.schema(PQ_INDEX_SCHEMA).parquet(index_path),
        queries, centers, codebooks, k, nprobe, refine,
        qid_col, qvec_col, prune_scan,
    )


def ivfpq_batch_probe_topk(index: DataFrame, queries: DataFrame,
                           centers: list[list[float]],
                           codebooks: list[list[list[float]]],
                           k: int = 5, nprobe: int = 2, refine: int = 50,
                           qid_col: str = "qid",
                           qvec_col: str = "qvec",
                           prune_scan: bool = True) -> DataFrame:
    """`ivfpq_batch_topk_indexed` over an already-constructed layout
    FRAME — the filtered-search seam (see `ivfpq_probe_topk`): a
    caller-applied metadata predicate on `index` reaches BOTH layout
    reads (codes scan and refine fetch) as a parquet data filter.

    The queries are data, so their ADC lookup tables cannot be plan
    literals: each query row computes its OWN m×ksub LUT in-plan
    (`pq_encode_lut`'s dmat trick — the distance matrix that encodes a
    database row IS the ADC table of a query row). Shape: query side =
    `_probed_queries` → LUT → explode; ONE join on the cell id; ADC = m
    lookups per candidate; per-qid row_number shortlist ≤ `refine`;
    `_refine_exact_batch` joins the raw vectors back for shortlist rows
    only. The raw embedding never rides the candidate fan-out —
    candidates carry m codes one way and m·ksub LUT doubles the other,
    the PQ serving economics at 100 TB."""
    m = len(codebooks)
    probed_q = _probed_queries(queries, centers, nprobe, qid_col, qvec_col)
    # pq_encode_lut renames the id column to vec_id; restore qid after
    qside = (
        pq_encode_lut(
            probed_q, codebooks, id_col="qid", features_col="__q",
            carry=("probes",),
        )
        .withColumnRenamed("vec_id", "qid")
        .select("qid", "lut", "probes")
    )
    probes = qside.select("qid", "lut", F.explode("probes").alias("q_cell"))
    if prune_scan:
        cells = _collected_probe_cells(probes, "q_cell")
        if cells and len(cells) < len(centers):
            index = index.filter(F.col("coarse_id").isin(cells))
    cand = index.select("vec_id", "codes", "coarse_id").join(
        probes, F.col("coarse_id") == F.col("q_cell")
    )
    adc = cand.select(
        "qid", F.col("coarse_id").cast("int").alias("probe_cell"), "vec_id",
        _adc_expr(F.col("lut"), F.col("codes"), m).alias("_d"),
    )
    wa = Window.partitionBy("qid").orderBy(F.asc("_d"), F.asc("vec_id"))
    shortlist = (
        adc.withColumn("adc_rank", F.row_number().over(wa))
        .filter(F.col("adc_rank") <= refine)
        .select("qid", "probe_cell", "vec_id")
    )
    # refine join includes the partition column: probe_cell IS the
    # shortlist row's coarse_id, so joining on (vec_id, probe_cell)
    # lets partition pruning / DPP cut the raw-vector re-read to the
    # probed directories instead of scanning f corpus-wide (r11
    # review) — the batch twin of ivfpq_topk_indexed's pruned refine
    return _refine_exact_batch(
        shortlist
        .join(
            index.select(
                "vec_id", "f",
                F.col("coarse_id").cast("int").alias("probe_cell"),
            ),
            ["vec_id", "probe_cell"],
        )
        .join(probed_q.select("qid", "__q"), "qid"),
        k,
    )


def ivfpq_residual_topk(vecs: DataFrame, queries: list[list[float]],
                        coarse_centers: list[list[float]],
                        codebooks: list[list[list[float]]], k: int = 5,
                        nprobe: int = 2, refine: int = 50,
                        id_col: str = "id",
                        features_col: str = "features") -> DataFrame:
    """IVF-PQ serving with RESIDUAL encoding — the FAISS IndexIVFPQ
    default that `ivfpq_topk` above deliberately skips: codes quantize
    x − coarse_center(x) (codebooks trained on those residuals, see
    ann_train.coarse_residuals), and the ADC lookup tables shift
    per probed cell — for cell c the query-side residual is q − c, so
    the LUT literal is per-(query, cell), m·ksub·|cells| doubles,
    still a plan-time literal. Everything else keeps `ivfpq_topk`'s
    audited shape: coarse assignment checkpointed once, narrow ADC
    rows through the fan-out (never the raw vector), row_number
    shortlist, broadcast exact-cosine refine.

    Measured on the synthetic corpus (numpy sweep, r6, same m/ksub/
    nprobe): residual and raw encoding tie at recall@5 = 0.88 with
    refine=100, and raw is BETTER at small refine (pure-ADC 0.28 vs
    0.16) — residual quantization only pays when the coarse cells
    capture real cluster structure, which this near-uniform corpus
    lacks. On clustered real corpora the residual variance shrinks
    per cell and this path wins; both are certified so the choice is
    a config, not a rewrite."""
    m = len(codebooks)
    qcells = [nearest_centers(q, coarse_centers, nprobe) for q in queries]
    all_cells = sorted({c for cells in qcells for c in cells})
    assigned = coarse_assign(vecs, coarse_centers, id_col, features_col).localCheckpoint(
        eager=False
    )
    pruned = (
        assigned
        if len(all_cells) == len(coarse_centers)
        else assigned.filter(F.col("coarse_id").isin(all_cells))
    )
    lit_centers = D.lit_array(coarse_centers)
    res = pruned.select(
        "vec_id",
        F.col("coarse_id").cast("int").alias("probe_cell"),
        F.zip_with(
            F.col("f"),
            F.element_at(lit_centers, F.col("coarse_id") + 1),
            lambda x, c: x - c,
        ).alias("r"),
    )
    encoded = pq_encode(
        res, codebooks, id_col="vec_id", features_col="r", carry=("probe_cell",)
    )
    # per-(query, probed-cell) LUTs ride as a BROADCAST TABLE, not a
    # plan literal: nq·nprobe rows of (qid, cell, m×ksub doubles). The
    # literal form (tried first) put 5120 doubles in the expression
    # tree — plan/codegen cost grows with cells·queries, and at scale
    # the LUT count grows with the cell count, which is exactly what
    # belongs in data. The broadcast inner join on probe_cell is ALSO
    # the probe-membership filter and the per-query fan-out in one
    # step (a row joins only the qids that probed its cell).
    lut_rows = [
        (
            qid,
            int(c),
            pq_adc_lut(
                [float(qj) - float(cj) for qj, cj in zip(q, coarse_centers[c])],
                codebooks,
            ),
        )
        for qid, q in enumerate(queries)
        for c in qcells[qid]
    ]
    lut_df = vecs.sparkSession.createDataFrame(
        lut_rows, "qid INT, probe_cell INT, lut ARRAY<ARRAY<DOUBLE>>"
    )
    hits = encoded.join(F.broadcast(lut_df), "probe_cell").select(
        "vec_id", "probe_cell", "qid",
        _adc_expr(F.col("lut"), F.col("codes"), m).alias("_d"),
    )
    wa = Window.partitionBy("qid").orderBy(F.asc("_d"), F.asc("vec_id"))
    shortlist = (
        hits.withColumn("adc_rank", F.row_number().over(wa))
        .filter(F.col("adc_rank") <= refine)
    )
    # cosine = dot / |f| — the serving-matrix-wide convention, via the
    # shared literal-refine implementation (ADVICE r11 / r12 review)
    return _refine_exact_literal(pruned, shortlist, queries, k)


def _collected_probe_cells(probes: DataFrame, cell_col: str) -> list[int]:
    """Distinct probed cells of a query batch, collected to the driver
    — at most n_centers values (cells, not queries): the k-row-class
    collect that turns a data-dependent probe set into a static
    `coarse_id IN (...)` partition/encode prune (r12; DPP does not
    fire on the probe-join shape, so the plan needs the constant)."""
    return sorted(
        r[cell_col] for r in probes.select(cell_col).distinct().collect()
    )


def _probed_queries(queries: DataFrame, centers: list[list[float]],
                    nprobe: int, qid_col: str, qvec_col: str) -> DataFrame:
    """(qid, __q, probes) of a query TABLE — the prelude of every batch
    search: cast the vectors to doubles, fold-normalize (zero-norm rows
    drop: no direction, no probe), add the `lloyd.assign_probes` column,
    then checkpoint, so the probe-cell collect and the search read the
    probes from one pass."""
    qv = F.col(qvec_col).cast("array<double>")
    nsq = F.aggregate(
        F.transform(qv, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
    )
    normed = (
        queries.select(
            F.col(qid_col).cast("long").alias("qid"), qv.alias("__q"),
            nsq.alias("__nsq"),
        )
        .filter(F.col("__nsq") > 0)
        .select(
            "qid",
            F.transform(
                F.col("__q"), lambda x: x / F.sqrt(F.col("__nsq"))
            ).alias("__q"),
        )
    )
    return lloyd.assign_probes(normed, centers, nprobe, "__q").localCheckpoint(eager=False)


def _refine_exact_batch(cand: DataFrame, k: int) -> DataFrame:
    """Exact rank of query-TABLE candidates — the batch twin of
    `_refine_exact_literal`: `cand` rows carry (qid, probe_cell,
    vec_id, f, __q) with __q unit-norm, so cosine = dot / |f|; |f| is
    staged as a column (no CSE inside HOF lambdas), one per-qid window
    keeps rank ≤ k. The window shuffles by qid — k rows per query
    survive the map-side WindowGroupLimit."""
    f = F.col("f")
    scored = cand.select(
        "qid", "probe_cell", "vec_id",
        D.dot(f, F.col("__q")).alias("__dot"), D.norm(f, 2).alias("__vn"),
    ).select(
        "qid", "probe_cell", "vec_id",
        (F.col("__dot") / F.col("__vn")).alias("_c"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_c"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "probe_cell", "vec_id",
                F.round("_c", 6).alias("cosine"), "rank")
    )


def _refine_exact_literal(pruned: DataFrame, shortlist: DataFrame,
                          queries: list[list[float]], k: int) -> DataFrame:
    """Exact re-rank of an ADC shortlist for LITERAL queries — the one
    refine implementation every literal PQ serving path shares
    (deduplicated r12 review): fetch raw vectors for the <=
    refine·n_queries shortlisted rows via a broadcast join against the
    pruned cells, score cosine = dot / |f| (the serving-matrix-wide
    convention, ADVICE r11; |f| staged as a column — no CSE inside HOF
    lambdas), one per-qid window for the final top-k."""
    dots = F.transform(D.lit_array(queries), lambda q: D.dot(F.col("f"), q))
    vn = F.sqrt(
        F.aggregate(
            F.transform(F.col("f"), lambda x: x * x),
            F.lit(0.0), lambda a, v: a + v,
        )
    )
    scored = pruned.select("vec_id", "f", vn.alias("__vn")).join(
        F.broadcast(shortlist), "vec_id"
    ).withColumn("_c", F.element_at(dots, F.col("qid") + 1) / F.col("__vn"))
    wc = Window.partitionBy("qid").orderBy(F.desc("_c"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select("qid", "probe_cell", "vec_id",
                F.round("_c", 6).alias("cosine"), "rank")
    )


def hybrid_rrf_topk(docs: DataFrame, vecs: DataFrame,
                    queries: list[tuple[list[str], list[float]]],
                    k: int = 10, rrf_k: int = 60, per_side: int = 50,
                    doc_id_col: str = "doc_id", text_col: str = "text",
                    id_col: str = "id",
                    features_col: str = "features") -> DataFrame:
    """Hybrid retrieval: keyword rank ⊕ vector rank fused by
    Reciprocal Rank Fusion (Cormack & Clarke & Buettcher 2009 — the
    standard engine-agnostic fusion, used by every production hybrid
    search). Each query is a (terms, query_vector) pair over
    id-aligned document and embedding tables:

    - text side: per-doc keyword score = Σ_t occurrences of term t in
      the lower-cased whitespace tokens (the engine's certified
      tokenizer, `functions.text.tokens`); zero-score docs don't rank;
      per-query row_number (score DESC, id ASC) keeps the top
      `per_side`.
    - vector side: exact cosine rank (the `cosine_topk` arithmetic —
      one scan, all queries), top `per_side` per query.
    - fusion: FULL OUTER join of the two rankings per (qid, id);
      rrf = Σ_sides 1/(rrf_k + rank), a missing side contributes 0;
      final top-`k` by (rrf DESC, id ASC).

    All queries ride one plan: both sides fan out via posexplode over
    plan-literal query arrays, ONE join, two per-qid windows. At
    100 TB the text side is a token scan (at real scale the keyword
    ranking comes from the materialized `inverted_index` instead —
    same rank rule), the vector side the certified brute/IVF path,
    and the fusion joins two k·n_q-row sides — tiny. Output: (qid,
    doc_id, rrf_score, text_rank, vec_rank, rank)."""
    from apachebeamkmeans_spark.functions import text as T

    toks = T.tokens(F.col(text_col))
    staged = docs.select(
        F.col(doc_id_col).alias("id"), toks.alias("__toks")
    )
    # per-query keyword score: left-associated sum of per-term
    # occurrence counts (matches the oracle's `a + b + c` structure).
    # The term must bind via a one-arg closure factory: a two-arg
    # lambda (even `t=t` defaulted) makes F.filter pass (element,
    # INDEX) and the term silently becomes the array index.
    def _is_term(term: str):
        return lambda x: x == F.lit(term)

    score_exprs = []
    for terms, _qv in queries:
        s = None
        for t in terms:
            cnt = F.size(F.filter(F.col("__toks"), _is_term(t)))
            s = cnt if s is None else s + cnt
        score_exprs.append(s)
    texp = staged.select(
        "id", F.posexplode(F.array(*score_exprs)).alias("qid", "__ts")
    ).filter(F.col("__ts") > 0)
    wt = Window.partitionBy("qid").orderBy(F.desc("__ts"), F.asc("id"))
    tranked = (
        texp.withColumn("text_rank", F.row_number().over(wt))
        .filter(F.col("text_rank") <= per_side)
        .select("qid", "id", "text_rank")
    )
    vranked = cosine_topk(
        vecs, [qv for _t, qv in queries], per_side, id_col, features_col
    ).select(
        "qid", F.col("vec_id").alias("id"), F.col("rank").alias("vec_rank")
    )
    return rrf_fuse(tranked, vranked, k, rrf_k)


def rrf_fuse(tranked: DataFrame, vranked: DataFrame, k: int = 10,
             rrf_k: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion of two per-query rankings: full-outer on
    (qid, id), rrf = Σ 1/(rrf_k + rank) with a missing side
    contributing 0, one per-qid window for the fused top-k. Inputs are
    k-row-class rank frames (qid, id, text_rank) / (qid, id, vec_rank)
    — the fusion itself never touches corpus-sized data."""
    fused = tranked.join(vranked, ["qid", "id"], "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("text_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0))
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("__rrf"), F.asc("id"))
    return (
        fused.withColumn("__rrf", rrf)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            "qid", F.col("id").alias("doc_id"),
            F.round("__rrf", 6).alias("rrf_score"),
            "text_rank", "vec_rank", "rank",
        )
    )


def maxsim_topk(vecs: DataFrame, queries: list[list[list[float]]],
                k: int = 10, dim: int = 64,
                id_col: str = "id",
                features_col: str = "features",
                candidates: DataFrame | None = None) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) multi-vector retrieval:
    each document is T token vectors — the T contiguous `dsub`-wide
    slices of its flat embedding — and each query is a list of `dsub`-
    dim token vectors; score(q, d) = Σ_i max_t cos(q_i, d_t).

    ONE narrow scan: per row, the T slice norms are staged once as an
    array column (HOF/expression trees get no CSE — inlining them would
    recompute T·Σ|q_i| times); each query token contributes
    array_max over the T slice cosines (compact HOF expressions — see
    the janino note below) divided by its plan-folded norm, summed
    left-associated over tokens — exactly the oracle's
    `(greatest(...)/qn) + (greatest(...)/qn)` structure. posexplode
    fans out (qid, score), one per-qid window ranks. No join, no UDF:
    at 100 TB this is the same single-pass shape as `cosine_topk`,
    ~T·Tq·dsub multiply-adds per row.

    `candidates` (qid, vec_id — the ANN-shortlist serving shape, r14)
    restricts scoring to the given pairs: the scan semi-joins the
    broadcast distinct candidate ids BEFORE any slice arithmetic, and
    the per-(qid, vec_id) inner join after the fan-out keeps each doc
    ranked only for the queries that shortlisted it. Scores for
    surviving pairs are bit-identical to the full-scan form (the same
    expressions evaluate on a subset of rows)."""
    dsub = len(queries[0][0])
    f = F.col(features_col)
    dim_terms = {len(tok) for q in queries for tok in q}
    assert dim_terms == {dsub}, "ragged query token dims"
    assert dim % dsub == 0, "dim must be a multiple of the token width"
    n_tokens_doc = dim // dsub
    # Compact HOF expressions, NOT the unrolled family: a fully
    # unrolled T·Tq·dsub score tree (~1700 leaf terms for 3 queries)
    # blows janino's 64 KB method limit — whole-stage codegen fails
    # and the whole stage falls back to interpreted evaluation
    # (measured 4-6 s vs 0.9 s at sf0.1). HOF aggregate sums are
    # bit-identical to the unrolled left-associated oracle chains
    # because IEEE 0.0 + x == x exactly (the house cosine_topk /
    # sql_dot pairing relies on the same identity).
    snorms = F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens_doc - 1)),
        lambda t: F.sqrt(F.aggregate(
            F.slice(f, t * dsub + 1, dsub), F.lit(0.0),
            lambda a, x: a + x * x,
        )),
    )
    base = vecs.select(
        F.col(id_col).alias("vec_id"), f.alias("__f"),
        snorms.alias("__snorm"),
    )
    if candidates is not None:
        base = base.join(
            F.broadcast(candidates.select("vec_id").distinct()), "vec_id"
        )
    scores = []
    for q in queries:
        s = None
        for tok in q:
            qn = sum(float(v) * float(v) for v in tok) ** 0.5
            tok_lit = D.lit_array(tok)

            # one-arg closure factory: a defaulted second parameter
            # would make F.transform pass (element, INDEX) and the
            # token literal silently becomes the slice index (same
            # trap documented in hybrid_rrf_topk's term filter)
            def _slice_cos_fn(tok_lit):
                def _slice_cos(t):
                    dot = F.aggregate(
                        F.zip_with(
                            F.slice(F.col("__f"), t * dsub + 1, dsub),
                            tok_lit, lambda x, y: x * y,
                        ),
                        F.lit(0.0), lambda a, v: a + v,
                    )
                    return dot / F.element_at(F.col("__snorm"), t + 1)
                return _slice_cos

            _slice_cos = _slice_cos_fn(tok_lit)

            # query norm is constant across slices, so it divides the
            # MAX, not each candidate — the oracle mirrors this shape
            g = F.array_max(F.transform(
                F.sequence(F.lit(0), F.lit(n_tokens_doc - 1)), _slice_cos
            )) / F.lit(qn)
            s = g if s is None else s + g
        scores.append(s)
    exploded = base.select(
        "vec_id", F.posexplode(F.array(*scores)).alias("qid", "_s")
    )
    if candidates is not None:
        exploded = exploded.join(
            F.broadcast(candidates.select("qid", "vec_id")),
            ["qid", "vec_id"],
        )
    w = Window.partitionBy("qid").orderBy(F.desc("_s"), F.asc("vec_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", F.round("_s", 6).alias("maxsim"), "rank")
    )


def sign_codes(vecs: DataFrame, dim: int, id_col: str = "id",
               features_col: str = "features") -> DataFrame:
    """Binary (sign) quantization: bit (width-1-j) of word w is 1 iff
    features[w·32+j] > 0 (MSB-first fold), packed as ⌈dim/32⌉
    non-negative 32-bit words in BIGINT columns `code_0..code_{w-1}` —
    two words for dim=64. Words stay < 2³² (no sign-bit overflow);
    integer arithmetic is exact, so the compact `acc·2 + bit` HOF fold
    here and the oracle's unrolled power-of-two CASE sum are equal by
    value regardless of summation structure. 32× smaller than float32:
    at 100 TB of embeddings the code table is ~3 TB, and Hamming
    screening is two XOR+popcount ops per word."""
    f = F.col(features_col)

    def word(lo: int, width: int):
        return F.aggregate(
            F.slice(f, lo + 1, width), F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )

    cols = [F.col(id_col).alias("vec_id")]
    for w in range((dim + 31) // 32):
        lo = w * 32
        cols.append(word(lo, min(32, dim - lo)).alias(f"code_{w}"))
    return vecs.select(*cols)


def pack_sign_bits(vec: list[float]) -> list[int]:
    """Driver-side twin of `sign_codes` for literal query vectors
    (same MSB-first fold)."""
    words = []
    for lo in range(0, len(vec), 32):
        w = 0
        for v in vec[lo:lo + 32]:
            w = w * 2 + (1 if float(v) > 0 else 0)
        words.append(w)
    return words


def binary_hamming_topk(vecs: DataFrame, queries: list[list[float]],
                        k: int = 10, shortlist: int = 50,
                        id_col: str = "id",
                        features_col: str = "features",
                        codes: DataFrame | None = None) -> DataFrame:
    """Binary-quantized ANN: sign-code Hamming screening + exact cosine
    rerank — the 32×-compression tier between int8 (4×) and PQ (the
    FAISS `IndexBinaryFlat`-then-refine shape).

    Stage 1 ranks ΣW bit_count(code_w XOR qcode_w) per query — query
    codes fold at plan time. Here the doc codes derive in-plan from
    the embedding scan (self-contained query); a production deployment
    persists `sign_codes` once and screens THAT table (2 BIGINTs/row
    for dim=64 — 16 B vs 256 B of float32), which is where the 32×
    scan saving is actually banked.
    Stage 2 re-reads features for the ≤ shortlist·n_queries survivors
    via a broadcast semi-join and ranks exact cosine. Ties on integer
    Hamming break by vec_id, making the shortlist (hence the final
    ranking) deterministic.

    `codes` (r14) is the production deployment: pass the PERSISTED
    `sign_codes` table (vec_id, code_0..code_w) and the screen scans
    THAT 16 B/row layout instead of deriving codes from the embedding
    scan — the 32× scan saving banked. Same screen, same rerank, same
    results (the persisted codes are the same fold)."""
    dim = len(queries[0])
    n_words = (dim + 31) // 32
    if codes is None:
        codes = sign_codes(vecs, dim, id_col, features_col)
    ham_exprs = []
    for q in queries:
        qwords = pack_sign_bits(q)
        h = None
        for w in range(n_words):
            t = F.bit_count(
                F.col(f"code_{w}").bitwiseXOR(F.lit(qwords[w]).cast("long"))
            )
            h = t if h is None else h + t
        ham_exprs.append(h)
    screened = codes.select(
        "vec_id", F.posexplode(F.array(*ham_exprs)).alias("qid", "_h")
    )
    ws = Window.partitionBy("qid").orderBy(F.asc("_h"), F.asc("vec_id"))
    short = (
        screened.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("qid", "vec_id", F.col("_h").alias("hamming"))
    )
    # cosines are computed AFTER the broadcast semi-join so the n_q·dim
    # multiply-adds run only on the ≤ shortlist·n_queries survivors,
    # never on the full scan (the screen already paid its pass). HOF
    # form, not the unrolled family: an unrolled n_q·2·dim expression
    # array costs ~3 s of janino compile alone at 5 queries (measured),
    # while the HOF dot is bit-identical to the oracle's unrolled chain
    # (0.0 + x == x) — the same pairing cosine_topk certifies.
    qnorms = [sum(float(v) * float(v) for v in q) ** 0.5 for q in queries]
    dots = F.transform(D.lit_array(queries), lambda q: D.dot(F.col("__f"), q))
    vn = F.sqrt(F.aggregate(
        F.transform(F.col("__f"), lambda x: x * x),
        F.lit(0.0), lambda a, v: a + v,
    ))
    reranked = vecs.select(
        F.col(id_col).alias("vec_id"), F.col(features_col).alias("__f")
    ).join(F.broadcast(short), "vec_id").withColumn(
        "__vn", vn
    ).withColumn(
        "_c",
        F.element_at(dots, F.col("qid") + 1)
        / (F.col("__vn") * F.element_at(D.lit_array(qnorms), F.col("qid") + 1)),
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("_c"), F.asc("vec_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "hamming",
                F.round("_c", 6).alias("cosine"), "rank")
    )


def nearest_centers(q: list[float], centers: list[list[float]],
                    nprobe: int = 1) -> list[int]:
    """Plan-time coarse-quantizer probe: the `nprobe` nearest cells of a
    literal query vector, nearest first (ties → lowest cell id) — the
    driver-side twin of `lloyd.assign_probes`, on the same kernel."""
    import numpy as np

    d = lloyd._batch_kernel(centers, 2.0)[1](np.asarray([q], dtype=np.float64))[0]
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def coarse_assign(vecs: DataFrame, centers: list[list[float]],
                  id_col: str = "id", features_col: str = "features",
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, f, *carry, coarse_id): each vector quantized to its
    nearest coarse centroid — the same shuffle-free literal-center
    argmin map as K-Means assignment. `carry` names extra columns to
    keep alongside (metadata riding into a filtered-search layout)."""
    return lloyd.assign(
        vecs.select(F.col(id_col).alias("vec_id"), F.col(features_col).alias("f"),
                    *[F.col(c) for c in carry]),
        centers, 2.0, features_col="f",
    ).withColumnRenamed("center_id", "coarse_id")


def build_ivf_index(vecs: DataFrame, centers: list[list[float]], path: str,
                    id_col: str = "id", features_col: str = "features",
                    carry: tuple[str, ...] = ()) -> None:
    """Materialize the IVF layout: the coarse-assigned vectors written
    hive-partitioned by `coarse_id`, one directory per cell. A probe is
    then a partition-pruned scan — at 100 TB the search reads
    nprobe/k of the directories, never the table. `carry` columns land
    in the row as filterable metadata (a predicate on them is a
    parquet data filter INSIDE the probed partitions — the filtered-
    search shape)."""
    from apachebeamkmeans_spark.sources import io

    io.write_parquet(coarse_assign(vecs, centers, id_col, features_col, carry),
                     path, partition_by=["coarse_id"])


def append_to_ivf_index(vecs: DataFrame, centers: list[list[float]], path: str,
                        id_col: str = "id", features_col: str = "features",
                        carry: tuple[str, ...] = ()) -> None:
    """Incremental index maintenance: coarse-assign a NEW batch of
    vectors and append it to an existing `build_ivf_index` layout —
    dynamic-partition append, so only the touched `coarse_id=`
    directories gain files; existing data is never rewritten. This is
    how a production corpus ingests continuously at 100 TB (assign +
    append per arriving batch; the quantizer is retrained offline and
    the layout rebuilt only when cell balance drifts). Search results
    after an append equal a from-scratch rebuild over the union —
    asserted in tests/test_similarity_mm.py. `carry` must name the
    same metadata columns the layout was built with."""
    from apachebeamkmeans_spark.sources import io

    io.write_parquet(coarse_assign(vecs, centers, id_col, features_col, carry),
                     path, mode="append", partition_by=["coarse_id"])


def ivf_probe_topk(index: DataFrame, queries: list[list[float]],
                   centers: list[list[float]], k: int = 5,
                   nprobe: int = 1) -> DataFrame:
    """Top-k cosine within each query's probe cells, ALL queries in one
    plan: the query matrix and the per-query probe-cell map are plan
    literals; each scanned row fans out (qid, cosine) via posexplode,
    a literal-map membership filter keeps only (qid, cell) matches, and
    one per-qid window ranks. `probe_cell` is the cell the hit came
    from. `index` must carry (vec_id, f ARRAY<DOUBLE>, coarse_id)."""
    qcells = [nearest_centers(q, centers, nprobe) for q in queries]
    all_cells = sorted({c for cells in qcells for c in cells})
    pruned = index.filter(F.col("coarse_id").isin(all_cells))
    f = F.col("f")
    qnorms = [sum(float(v) * float(v) for v in q) ** 0.5 for q in queries]
    vnorm = F.sqrt(
        F.aggregate(F.transform(f, lambda x: x * x), F.lit(0.0), lambda a, v: a + v)
    )
    # row norm materialized once (no CSE inside HOF lambdas)
    cos_arr = F.transform(
        D.lit_array(queries),
        lambda q, i: D.dot(f, q) / (F.col("__vnorm") * F.element_at(D.lit_array(qnorms), i + 1)),
    )
    exploded = pruned.select(
        F.col("vec_id"),
        F.col("coarse_id").cast("int").alias("probe_cell"),
        f,
        vnorm.alias("__vnorm"),
    ).select("vec_id", "probe_cell", F.posexplode(cos_arr).alias("qid", "_c"))
    hits = exploded.filter(
        F.array_contains(
            F.element_at(F.lit(qcells), F.col("qid") + 1), F.col("probe_cell")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_c"), F.asc("vec_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "probe_cell", "vec_id", F.round("_c", 6).alias("cosine"), "rank")
    )


def ivf_topk(vecs: DataFrame, queries: list[list[float]],
             centers: list[list[float]], k: int = 5, nprobe: int = 1,
             id_col: str = "id", features_col: str = "features") -> DataFrame:
    """IVF search without a materialized layout (the coarse assignment
    is computed inline) — correctness twin of the indexed path for
    inputs that were never written out."""
    return ivf_probe_topk(coarse_assign(vecs, centers, id_col, features_col),
                          queries, centers, k, nprobe)


def ivf_batch_topk(index: DataFrame, queries: DataFrame,
                   centers: list[list[float]], k: int = 5, nprobe: int = 1,
                   qid_col: str = "qid", qvec_col: str = "qvec",
                   prune_scan: bool = True) -> DataFrame:
    """IVF search driven by a query TABLE — the batch serving shape.
    Every literal-query variant above embeds the query matrix in the
    plan; at production scale the queries ARE a table (millions of
    rows: an embedding batch to retrieve context for, a dedup probe
    set), so the search must be a JOIN, not a plan constant.

    Plan: normalize each query row and pick its `nprobe` nearest
    coarse cells (`_probed_queries`: zero-norm queries drop — no
    direction, no probe; cells by `lloyd.assign_probes`, ties → lowest cell
    id), explode to (qid, probe_cell), join the index on
    `coarse_id == probe_cell`, then `_refine_exact_batch`: cosine per
    candidate, one per-qid window for rank ≤ k. Output matches
    `ivf_probe_topk`'s shape: (qid, probe_cell, vec_id, cosine, rank).

    Scale posture: candidate volume is inherently Σ_cells
    n_cell·q_cell — the real IVF work — and the join key has only
    `len(centers)` distinct values, so at real scale the QUERY side
    should be the broadcast/replicated side (per-batch serving chunks
    it; AQE decides here). With `prune_scan` (default) the distinct
    probed-cell set — at most `len(centers)` values, a legitimate
    k-row collect — is computed up front and pushed as a STATIC
    `coarse_id IN (...)` filter on the index side, so a
    hive-partitioned layout reads only the probed directories
    (plan-locked in tests/test_plans.py; r11 verdict item 2 — DPP
    does not fire on this join shape, the data-dependent probe set
    must be made a plan constant to prune). The one extra pass over
    the query table is a normalize + k-distance argsort — paid once,
    vs scanning (k − probed)/k of the layout for nothing."""
    probes = _probed_queries(queries, centers, nprobe, qid_col, qvec_col).select(
        "qid", "__q", F.explode("probes").alias("probe_cell")
    )
    if prune_scan:
        cells = _collected_probe_cells(probes, "probe_cell")
        if cells and len(cells) < len(centers):
            index = index.filter(F.col("coarse_id").isin(cells))
    return _refine_exact_batch(
        index.join(probes, F.col("coarse_id") == F.col("probe_cell")), k
    )


INDEX_SCHEMA = "vec_id bigint, f array<double>, coarse_id int"
PQ_INDEX_SCHEMA = (
    "vec_id bigint, f array<double>, codes array<int>, coarse_id int"
)


def _ivfpq_layout(assigned: DataFrame, codebooks: list[list[list[float]]],
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """The IVF-PQ layout frame (vec_id, f, codes, *carry, coarse_id) of
    a `coarse_assign` frame: the rows `build_ivfpq_index` writes and
    the inline searches probe. The encode is a projection over the
    assignment, so a `coarse_id` filter on this frame lands below it
    and only the surviving cells are encoded."""
    return pq_encode(
        assigned.withColumnRenamed("coarse_id", "__cell"),
        codebooks, id_col="vec_id", features_col="f",
        carry=("f", "__cell", *carry),
    ).select("vec_id", "f", "codes", *carry,
             F.col("__cell").alias("coarse_id"))


def build_ivfpq_index(vecs: DataFrame, centers: list[list[float]],
                      codebooks: list[list[list[float]]], path: str,
                      id_col: str = "id",
                      features_col: str = "features",
                      carry: tuple[str, ...] = ()) -> None:
    """Materialize the IVF-PQ layout: coarse-assigned vectors PLUS
    their m PQ codes, hive-partitioned by `coarse_id`. The codes make
    the ADC stage a scan of m ints per row; the raw vector stays in
    the row for the exact refine (the FAISS refine-index trade — at
    pure-ADC scale a caller can drop `f` and skip refine, but the
    engine keeps honesty: refine is what holds recall on real data)."""
    from apachebeamkmeans_spark.sources import io

    assigned = coarse_assign(vecs, centers, id_col, features_col, carry)
    io.write_parquet(_ivfpq_layout(assigned, codebooks, carry), path,
                     partition_by=["coarse_id"])


def append_to_ivfpq_index(vecs: DataFrame, centers: list[list[float]],
                          codebooks: list[list[list[float]]], path: str,
                          id_col: str = "id",
                          features_col: str = "features",
                          carry: tuple[str, ...] = ()) -> None:
    """Incremental IVF-PQ maintenance: assign + encode a new batch,
    dynamic-partition append — same contract as `append_to_ivf_index`
    (post-append searches equal a from-scratch rebuild)."""
    from apachebeamkmeans_spark.sources import io

    assigned = coarse_assign(vecs, centers, id_col, features_col, carry)
    io.write_parquet(_ivfpq_layout(assigned, codebooks, carry), path,
                     mode="append", partition_by=["coarse_id"])


def ivfpq_topk_indexed(spark, index_path: str, queries: list[list[float]],
                       centers: list[list[float]],
                       codebooks: list[list[list[float]]], k: int = 5,
                       nprobe: int = 2, refine: int = 50) -> DataFrame:
    """IVF-PQ search over a materialized `build_ivfpq_index` layout —
    `ivfpq_topk` with the coarse assignment and PQ encode ALREADY paid:
    the probe-cell filter is partition pruning on the scan (literal
    queries → plan-time cells), the ADC stage reads m ints per row,
    and the exact refine re-reads raw vectors from the same pruned
    partitions. The production IVF-PQ serving shape at 100 TB: a
    search touches nprobe/k of the directories and computes exact
    distances for refine rows per query only."""
    return ivfpq_probe_topk(
        spark.read.schema(PQ_INDEX_SCHEMA).parquet(index_path),
        queries, centers, codebooks, k, nprobe, refine,
    )


def ivfpq_probe_topk(index: DataFrame, queries: list[list[float]],
                     centers: list[list[float]],
                     codebooks: list[list[list[float]]], k: int = 5,
                     nprobe: int = 2, refine: int = 50) -> DataFrame:
    """`ivfpq_topk_indexed` over an already-constructed layout FRAME —
    the seam the AnnIndex facade's filtered search needs: the caller
    can apply a metadata predicate to `index` first (it lands in the
    parquet scan alongside the partition prune; filter-then-rank
    semantics), and both the ADC pass and the refine fetch read the
    same filtered frame. `index` must carry (vec_id, f, codes,
    coarse_id) at least."""
    m = len(codebooks)
    qcells = [nearest_centers(q, centers, nprobe) for q in queries]
    all_cells = sorted({c for cells in qcells for c in cells})
    # no checkpoint here: over a layout this is a partition-pruned SCAN
    # — the ADC pass and the refine fetch each re-read nprobe/k of the
    # directories, which is the cheap, scale-honest choice (and keeps
    # PartitionFilters visible/plan-lockable); the inline `ivfpq_topk`
    # checkpoints its coarse assignment before calling here
    pruned = index.filter(F.col("coarse_id").isin(all_cells))
    # ADC stage ships NARROW rows only — (vec_id, probe_cell, qid, d):
    # the raw vector must NOT ride through the posexplode fan-out and
    # the ranking shuffle (n_queries copies of the full embedding per
    # row would defeat PQ's m-bytes-per-row serving economics at
    # 100 TB); the refine re-fetches vectors for the shortlist only
    luts = [pq_adc_lut(q, codebooks) for q in queries]
    adc_arr = F.transform(
        D.lit_array(luts), lambda lut_q: _adc_expr(lut_q, F.col("codes"), m)
    )
    exploded = pruned.select(
        "vec_id", F.col("coarse_id").cast("int").alias("probe_cell"),
        F.posexplode(adc_arr).alias("qid", "_d"),
    )
    hits = exploded.filter(
        F.array_contains(
            F.element_at(F.lit(qcells), F.col("qid") + 1),
            F.col("probe_cell"),
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.asc("_d"), F.asc("vec_id"))
    shortlist = (
        hits.withColumn("adc_rank", F.row_number().over(wa))
        .filter(F.col("adc_rank") <= refine)
    )
    # cosine = dot / |f| — the serving-matrix-wide convention, via the
    # shared literal-refine implementation (ADVICE r11 / r12 review)
    return _refine_exact_literal(pruned, shortlist, queries, k)


def ivf_topk_indexed(spark, index_path: str, queries: list[list[float]],
                     centers: list[list[float]], k: int = 5,
                     nprobe: int = 1) -> DataFrame:
    """IVF search over a materialized `build_ivf_index` layout: the
    `coarse_id IN (probe cells)` filter becomes partition pruning on
    the read (locked by tests/test_plans.py). The schema is explicit —
    no inference job, and a zero-vector index (no partition dirs)
    still reads as a valid empty frame."""
    return ivf_probe_topk(spark.read.schema(INDEX_SCHEMA).parquet(index_path),
                          queries, centers, k, nprobe)


def semantic_prune(normed: DataFrame, centers: list[list[float]], tau: float,
                   dim: int | None = None, id_col: str = "id",
                   features_col: str = "features") -> DataFrame:
    """SemDeDup (Abbas et al. 2023) per-vector prune verdicts over an
    L2-normalized embedding frame: assign every vector its nearest
    coarse center (plan-time literal argmin — zero shuffle), then
    inside each cell flag a vector when some LOWER-id cell-mate sits
    at cosine ≥ `tau` (the deterministic greedy-by-id variant of the
    paper's keep-one-per-ε-ball rule). Output: (vec_id, cell,
    max_cos_lower, pruned).

    Extracted (pure code motion) from `queries_similarity.
    q_semantic_dedup` so the CurationPipeline facade can run the stage
    over any embedding frame; the certified query delegates here with
    its memoized trained quantizer. Pairwise work never leaves a cell
    (Σ m_c² ≈ n^1.5 at k=√n) and hot cells grid-split through
    `salted_self_pairs`. `dim` unrolls the pair dot product for
    oracle-exact left-associated summation; None uses the HOF fold
    (dimension-agnostic — library callers without a static dim).
    """
    from apachebeamkmeans_spark.operators.dedup import salted_self_pairs

    pts = normed.select(
        F.col(id_col).alias("vec_id"), F.col(features_col).alias("f")
    )
    # the nearest center (first minimum: the oracle's (d, c)
    # tie-break), checkpointed: the self-join reads it on both sides
    assigned = lloyd.assign(pts, centers, 2.0, "f").withColumnRenamed(
        "center_id", "cell"
    ).localCheckpoint(eager=True)
    pair_dot = (
        D.dot_cols_unrolled(F.col("a.f"), F.col("b.f"), dim)
        if dim is not None
        else D.dot(F.col("a.f"), F.col("b.f"))
    )
    half = salted_self_pairs(assigned, ["cell"], "vec_id").select(
        # the pruning CANDIDATE is the GREATER id of the pair — the
        # salted join does NOT orient cross-salt-group pairs by id
        F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id"),
        F.round(pair_dot, 6).alias("cosine"),
    )
    shadow = half.groupBy("vec_id").agg(F.max("cosine").alias("max_cos_lower"))
    return (
        assigned.select("vec_id", "cell")
        .join(shadow, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "max_cos_lower",
            F.coalesce(F.col("max_cos_lower") >= tau, F.lit(False)).alias("pruned"),
        )
    )


def coverage_sample(normed: DataFrame, centers: list[list[float]],
                    per_cell: int, id_col: str = "id",
                    features_col: str = "features") -> DataFrame:
    """Cluster-coverage (coreset) selection over an L2-normalized
    embedding frame: assign each vector its nearest coarse center
    (plan-time literal argmin) and keep the `per_cell` vectors
    FARTHEST from their centroid per cell — the boundary/edge
    examples a diversity-seeking subset wants (SemDeDup's keep-far
    rule, the greedy k-center intuition), deterministically (distance
    desc, id asc). Output: (vec_id, cell, dist_sq, rank).

    Extracted (pure code motion) from `queries_similarity.
    q_sim_coverage_sample` for the CurationPipeline facade; the
    certified query delegates here with its memoized quantizer.
    Per-cell selection is a row_number window WindowGroupLimit bounds
    map-side to `per_cell` rows per cell per task — no cell's full
    membership ever buffers."""
    pts = normed.select(
        F.col(id_col).alias("vec_id"), F.col(features_col).alias("f")
    )
    # the nearest center (first minimum: the oracle's (d, c) tie-break)
    assigned = lloyd.assign(pts, centers, 2.0, "f", keep_dist=True).select(
        "vec_id", F.col("center_id").alias("cell"), F.col("dist").alias("d2")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("d2"), F.asc("vec_id"))
    return (
        assigned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= per_cell)
        .select("vec_id", "cell", F.round("d2", 6).alias("dist_sq"), "rank")
    )


# impl="auto" width threshold: at 64×16 = 1024 FMAs/row the GEMM
# already wins 3.4× on a large materialized input, but below ~4096 the
# fixed Arrow/Python-worker crossing can eat that on small row counts —
# and the fold keeps whole-stage codegen fusion with neighboring
# JVM-side expressions. Real text-embedding widths (768×64 and up)
# clear this by 10-100×.
PCA_ARROW_MIN_FMAS = 4096


def pca_project(vecs: DataFrame, mean: list[float],
                components: list[list[float]],
                id_col: str = "id", features_col: str = "features",
                out_col: str = "pc", impl: str = "fold") -> DataFrame:
    """Project an embedding column onto a trained PCA basis
    (`ann_train.pca_train`): y_j = Σ_i (x_i − mean_i)·W_j,i with the
    mean and rotation as plan-time literals — dim·out_dim multiply-adds
    per row, zero shuffle, zero Python. Expressed as out_dim compact
    HOF folds over a staged centered array rather than the unrolled
    `l2_sq_unrolled` form: unrolling dim·out_dim terms builds a
    ~5k-node expression tree that costs ~10 s of Catalyst
    analysis/codegen PER RUN (measured at this shape — the per-row
    arithmetic was never the cost), while the fold is a constant-size
    tree with identical left-associated summation, so the oracle
    contract (`oraclegen.sql_dot_centered`) is unchanged. At 100 TB
    this is the width reducer in front of the ANN stack: a narrow map
    that cuts every downstream shuffle/score by dim/out_dim (768→64
    on real embeddings); fitness on isotropic vs anisotropic corpora
    is measured in tests/test_pca.py.

    `impl="arrow"` swaps the per-element HOF fold for ONE numpy
    matmul per Arrow batch (`mapInPandas`): isolated on a
    materialized input at x10 (200k rows × 1024 FMAs) the fold's
    interpreted lambda dispatch takes 1.5 s where the BLAS GEMM takes
    0.45 s — a 3.4× gap that widens with dim·out_dim (768×128 on real
    embeddings is 100× this arithmetic), so at corpus scale arrow is
    the physical plan you want. Registered BOTH ways since r11: the
    fold form stays the structure-exact certified default, and the
    arrow form is certified by `sim_pca_project_arrow` against the
    SAME oracle (measured bit-identical to the fold at this width —
    BLAS summation of a 64-term dot lands on the same double here;
    the 6-dp rounding both sides share absorbs the ~1e-15 divergence
    a different BLAS build could introduce).

    `impl="auto"` picks the physical plan by width: arrow once the
    per-row arithmetic (dim·out_dim FMAs) clears
    `PCA_ARROW_MIN_FMAS`, where the GEMM win dominates the fixed
    Python-worker/Arrow crossing; the fold below it (and wherever a
    caller wants the certified expression structure). The dispatch is
    plan-locked in tests/test_pca.py."""
    if impl == "auto":
        impl = (
            "arrow"
            if len(mean) * len(components) >= PCA_ARROW_MIN_FMAS
            else "fold"
        )
    if impl == "arrow":
        import pandas as pd  # noqa: F401 — worker-side import below

        m_list = [float(v) for v in mean]
        w_list = [[float(v) for v in row] for row in components]
        schema = f"vec_id long, {out_col} array<double>"
        src = vecs.select(F.col(id_col).alias("vec_id"),
                          F.col(features_col).alias("__f"))

        def project_batches(batches):
            import numpy as np
            import pandas as pd

            m_np = np.asarray(m_list)
            w_np = np.asarray(w_list)
            for pdf in batches:
                x = np.stack(pdf["__f"].to_numpy())
                y = (x - m_np) @ w_np.T
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], out_col: list(y)}
                )

        return src.mapInPandas(project_batches, schema)
    if impl != "fold":
        raise ValueError(f"pca_project: unknown impl {impl!r}")
    centered = F.zip_with(
        F.col(features_col), D.lit_array(mean),
        lambda x, m: x - m,
    )
    staged = vecs.select(
        F.col(id_col).alias("vec_id"), centered.alias("__c")
    )
    dims = [
        F.aggregate(
            F.zip_with(
                F.col("__c"), D.lit_array(wrow),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for wrow in components
    ]
    return staged.select("vec_id", F.array(*dims).alias(out_col))
