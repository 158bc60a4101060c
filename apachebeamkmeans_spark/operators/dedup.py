"""Deduplication operators — the core of a training-data pipeline at
100 TB (north-star ops; no counterpart in the reference).

Five families, all expressed as declarative DataFrame plans:

- **exact**: md5(text) hash-groupBy — shuffle on a 32-char hash, never
  on the raw document text; keeper = min doc_id per group.
- **MinHash + LSH**: token shingles → per-band md5-min signatures
  (narrow, no shuffle) → explode bands → self-join on (band, value)
  → distinct candidate pairs. Banding bounds the join fan-out; the
  full n² similarity matrix is never materialized.
- **n-gram Jaccard**: exact verification of LSH candidates only.
- **SimHash**: 16-bit per-token-hash majority sketch; near-dup pairs
  by Hamming distance (xor + bit_count) over self-joined sketches.
- **embedding cosine**: random-hyperplane (sign-LSH) bucketing of the
  embedding space; cosine verified within buckets only.

Every hash is md5-derived → deterministic and DuckDB-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import release_blocks, staged
from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.functions import text as T
from apachebeamkmeans_spark.session import driver_loop_conf


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize a reused intermediate (sketch/signature frame) on
    first action and reuse it for every later action in the same plan
    or query.

    `localCheckpoint(eager=False)` rather than `.cache()`: the storage
    blocks are registered with the ContextCleaner and released when the
    frame is garbage-collected on the driver, so a long-lived session
    does not leak executor memory one sketch frame per query.
    (`.cache()` entries live in the CacheManager until an explicit
    `unpersist`, which a function returning a lazy DataFrame has no
    safe point to call.) At cluster scale this is where a persisted
    signature TABLE would be substituted — see module docstring.
    """
    return df.localCheckpoint(eager=False)


# ------------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc verdict: content hash, keeper (min doc_id with the same
    hash), is_dup. Window partitions by the 128-bit hash — bounded-size
    keys regardless of document length."""
    hashed = docs.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", "text_hash", "keeper_id", "is_dup")
    )


# ------------------------------------------------- skew-safe bucket self-join

# Rows per (bucket × sub-cell) side before a bucket is grid-split. A cell
# evaluates ≤ TARGET² candidate comparisons (~65k at 256) — small enough
# that hundreds of cells spread evenly over any executor count.
SALT_TARGET = 256


def adaptive_salt_target(n_rows: int, parallelism: int,
                         cells_per_core: int = 8) -> int:
    """Split target derived from the CALLER-KNOWN row count instead of
    the fixed `SALT_TARGET` (r17, guide §2.5/§2.6): the 256 cap keeps
    per-cell work ≤ ~65k comparisons at any scale, but on a corpus
    whose buckets sit just UNDER 256 rows nothing splits at all and a
    handful of coarse buckets serialize onto a handful of tasks
    (measured: the sf0.1 KNN pair join runs 45 cells of ~222 rows on
    32 cores — 7.1 s; target 64 → 4.6 s). The floor keeps sub-cells
    from degenerating to per-row tasks. Callers that already know
    their row count (the KNN graph builds count n for the derived
    dials) pass the result as `target`; the global default stays 256,
    so every other certified plan is untouched and cluster-scale
    behavior (buckets ≫ 256 always split) is identical."""
    import math as _math

    return max(32, min(SALT_TARGET,
                       _math.ceil(n_rows / (cells_per_core * parallelism))))


def _hot_buckets(rows: DataFrame, key_cols: list[str], target: int) -> DataFrame:
    """(key..., __s): split factor for buckets larger than `target`.
    Map-side partial aggregation keeps this cheap; the *filtered* map is
    skewed-keys-only — tiny by definition — so it broadcasts."""
    return (
        rows.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > target)
        .select(*key_cols, F.ceil(F.col("__cnt") / target).cast("int").alias("__s"))
    )


def salted_self_pairs(rows: DataFrame, key_cols: list[str], id_col: str,
                      target: int = SALT_TARGET) -> DataFrame:
    """All (a, b) row pairs sharing a bucket key, with a.id < b.id —
    the core of every LSH/blocking dedup join — made *skew-safe*.

    A bucket holding m rows implies m²/2 genuinely-required candidate
    comparisons; no optimizer can shrink that output. What CAN be fixed
    is its parallelism: the naive self-join lands every hot bucket's m²
    work on one task (and AQE's skew-split never triggers, because the
    *input* bytes of a quadratic-output key are tiny — and a broadcast
    self-join has no shuffle to split at all). Measured on the skew
    fixture (2k-doc hot family): 35.7 s / 2 tasks for the MinHash join.

    Grid salting: each row gets a stable sub-group g = hash(id) mod s,
    where s = ceil(bucket_count / target) comes from a broadcast map of
    over-threshold buckets only (s = 1, i.e. zero duplication, for the
    other ~all buckets). Side A fans to cells (g, q ≥ g), side B to
    cells (p ≤ g, g); every unordered pair lands in exactly one
    (key, p, q) cell — cross-group pairs where A's group is the lower
    one, same-group pairs deduped by id order. The join is hinted to
    shuffle (merge) so cells spread across the cluster instead of
    following the probe side's file splits.

    Returns a-side row (id + payload) as `a.*`, b-side as `b.*`;
    callers select/rename. Pair canonical order: (least, greatest) id.
    """
    hot = _hot_buckets(rows, key_cols, target)
    tagged = rows.join(F.broadcast(hot), key_cols, "left").withColumn(
        "__s", F.coalesce(F.col("__s"), F.lit(1))
    )
    g = F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
    a = (
        tagged.withColumn("__g", g)
        .withColumn("__q", F.explode(F.sequence(F.col("__g"), F.col("__s") - 1)))
        .withColumnRenamed("__g", "__p")
        .drop("__s")
        .alias("a")
    )
    b = (
        tagged.withColumn("__g", g)
        .withColumn("__p", F.explode(F.sequence(F.lit(0), F.col("__g"))))
        .withColumnRenamed("__g", "__q")
        .drop("__s")
        .alias("b")
    )
    cond = (
        (F.col("a.__p") == F.col("b.__p"))
        & (F.col("a.__q") == F.col("b.__q"))
        & (
            (F.col("a.__p") < F.col("a.__q"))
            | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        )
    )
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return a.hint("merge").join(b, cond)


# ----------------------------------------------------------- MinHash + LSH


def minhash_signatures(docs: DataFrame, bands: int = 8, shingle: int = 3,
                       text_col: str = "text") -> DataFrame:
    """(doc_id, mh ARRAY<BIGINT>[bands]) over token shingles.

    Two-stage: (1) tokenize → shingle → ONE md5 base hash per shingle,
    cached; (2) `bands` affine band-mins over the cached hash arrays.
    The cache is load-bearing twice over: whole-stage codegen would
    otherwise inline the tokenize→shingle→md5 tree into every band
    expression (bands× redundant hashing), and the LSH self-join
    downstream reads the signatures from both sides. At cluster scale
    stage (1) is a persisted signature table.
    """
    toks = T.tokens(F.col(text_col))
    hashed = docs.select(
        "doc_id", T.shingle_hashes(T.token_shingles(toks, shingle)).alias("__h")
    )
    hashed = _materialize(hashed)
    return hashed.select("doc_id", T.minhash_signature(F.col("__h"), bands).alias("mh"))


def lsh_candidate_pairs(docs: DataFrame, bands: int = 8, shingle: int = 3,
                        sigs: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs agreeing on ≥1 band. The join key
    is (band_idx, band_value) — each band's buckets joined
    independently, so skew is limited to genuinely-identical shingle
    sets. Pass `sigs` (e.g. from `corpus_gate_state`) to reuse an
    already-materialized signature frame — verification queries that
    also need the shingle SETS then tokenize the corpus once, not
    twice."""
    # cache the signatures BEFORE the explode: (a) both self-join sides
    # reuse one materialization instead of recomputing the tokenize→
    # shingle→md5 lineage, and (b) whole-stage codegen would otherwise
    # inline the signature expression into every exploded output row
    # (measured 4× slower). At cluster scale this cache is a persisted
    # signature table.
    if sigs is None:
        sigs = _materialize(minhash_signatures(docs, bands, shingle))
    banded = sigs.select("doc_id", F.posexplode("mh").alias("band", "mh_val")).filter(
        F.col("mh_val").isNotNull()
    )
    return (
        salted_self_pairs(banded, ["band", "mh_val"], "doc_id")
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def lsh_pairs_against(corpus: DataFrame, new: DataFrame, bands: int = 8,
                      shingle: int = 3,
                      corpus_sigs: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup check: (new_id, corpus_id) candidate pairs
    between a NEW document batch and the EXISTING corpus — the shape
    continuous ingestion actually needs (is this incoming doc a
    near-dup of anything we already hold?), with no corpus×corpus
    work. The new batch's banded signatures BROADCAST (a batch is tiny
    next to the corpus); the corpus side streams through a broadcast
    hash join, so there is no shuffle at all and therefore no hot-
    bucket skew — each corpus partition probes the in-memory batch
    table independently. At cluster scale the corpus signatures are a
    persisted table (`minhash_signatures` stage 1) and only the new
    batch is sketched per arrival (pass it as `corpus_sigs`)."""
    cs = (
        corpus_sigs
        if corpus_sigs is not None
        else _materialize(minhash_signatures(corpus, bands, shingle))
    )
    ns = _materialize(minhash_signatures(new, bands, shingle))
    cb = cs.select(
        F.col("doc_id").alias("corpus_id"), F.posexplode("mh").alias("band", "mh_val")
    ).filter(F.col("mh_val").isNotNull())
    nb = ns.select(
        F.col("doc_id").alias("new_id"), F.posexplode("mh").alias("band", "mh_val")
    ).filter(F.col("mh_val").isNotNull())
    return (
        cb.join(F.broadcast(nb), ["band", "mh_val"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def corpus_gate_state(corpus: DataFrame, bands: int = 8,
                      shingle: int = 3,
                      eager: bool = True) -> tuple[DataFrame, DataFrame]:
    """The standing corpus's precomputed gate artifacts — banded
    MinHash signatures and exact shingle sets — materialized EAGERLY so
    a continuous ingest stream sketches the corpus once, not once per
    micro-batch (at cluster scale these are the persisted
    `minhash_signatures` / shingle tables the module docstring
    promises; here they are checkpointed frames shared across
    `ingest_gate_verdicts` calls). The signatures derive FROM the
    distinct-shingle sets — MinHash is invariant to duplicate shingles
    (min of an affine hash family), so the corpus is tokenized once,
    not once per artifact, and md5 runs only over distinct shingles.
    `eager=False` keeps the same one-tokenize sharing but defers
    materialization to the first action — for single-plan consumers
    that promise laziness (the CurationPipeline facade) rather than
    many-batch amortization."""
    sets = corpus.select(
        "doc_id",
        F.array_distinct(
            T.token_shingles(T.tokens(F.col("text")), shingle)
        ).alias("sh"),
    ).localCheckpoint(eager=eager)
    sigs = sigs_from_sets(sets, bands).localCheckpoint(eager=eager)
    return sigs, sets


def sigs_from_sets(sets: DataFrame, bands: int = 8) -> DataFrame:
    """Banded MinHash signatures derived from an existing
    distinct-shingle-set frame (doc_id, sh) — the shared derivation
    inside `corpus_gate_state` AND the persisted-artifact build path
    (r9 verdict item 1): when the sets table is staged as parquet, the
    signatures derive from the staged read-back without re-tokenizing
    the corpus."""
    hashed = sets.select(
        "doc_id", T.shingle_hashes(F.col("sh")).alias("__h")
    ).localCheckpoint(eager=False)
    return hashed.select(
        "doc_id", T.minhash_signature(F.col("__h"), bands).alias("mh")
    )


def persist_gate_state(docs: DataFrame, out_dir: str, bands: int = 8,
                       shingle: int = 3) -> tuple[DataFrame, DataFrame]:
    """Write the (sets, sigs) gate-state tables for `docs` under
    `out_dir` with ONE tokenize pass and the commit-marker ORDER every
    reader keys on: the sets table first, then signatures DERIVED from
    the staged read-back (`sigs_from_sets`) — so `sigs/_SUCCESS` is
    the directory's commit marker (what `_read_fold_state`, the
    replayed-batch skip in `streaming/ingest.py`, and
    `_gate_state_artifact` all test). The single staging protocol
    shared by the fingerprint-keyed corpus artifact and the per-batch
    fold increments; changing the order or the marker here changes it
    for every producer and consumer at once. Returns the read-back
    (sigs, sets) frames rooted at `out_dir`."""
    ss = docs.sparkSession
    _sigs_unused, sets = corpus_gate_state(docs, bands, shingle, eager=False)
    sets.write.mode("overwrite").parquet(f"{out_dir}/sets")
    sets_rb = ss.read.parquet(f"{out_dir}/sets")
    sigs_from_sets(sets_rb, bands).write.mode("overwrite").parquet(
        f"{out_dir}/sigs"
    )
    return ss.read.parquet(f"{out_dir}/sigs"), sets_rb


def gate_state_append(state: tuple[DataFrame, DataFrame], accepted: DataFrame,
                      bands: int = 8, shingle: int = 3
                      ) -> tuple[DataFrame, DataFrame]:
    """Fold an ACCEPTED batch into the standing gate state — the
    dedup-signature analog of the ANN index's append path (r7 verdict
    item 4: a continuous-crawl gate must check batch N+1 against what
    batch N admitted, not only the day-one corpus). Only the INCREMENT
    is sketched and checkpointed (batch-sized, via
    `corpus_gate_state`); the standing frames are reused as-is, so the
    fold is an O(batch) plan-union, never an O(corpus) rewrite — at
    cluster scale this is an append to the persisted
    signature/shingle tables. The union plan deepens by one node per
    fold, bounded by the trigger count between restarts."""
    sigs, sets = state
    add_sigs, add_sets = corpus_gate_state(accepted, bands, shingle)
    return sigs.unionByName(add_sigs), sets.unionByName(add_sets)


def ingest_gate_verdicts(corpus: DataFrame, new: DataFrame, bands: int = 8,
                         shingle: int = 3,
                         max_jaccard: float = 0.5,
                         corpus_state: tuple[DataFrame, DataFrame] | None = None,
                         ) -> DataFrame:
    """Per-arriving-doc accept/reject verdict against a standing
    corpus: LSH candidates (`lsh_pairs_against` — batch side broadcast,
    no corpus×corpus work) → exact Jaccard verification on candidates
    only → per-new-doc aggregate → left join back so docs with zero
    candidates auto-accept. Output: (doc_id, n_candidates, max_jaccard,
    accept). The single gate body shared by the batch query
    (`queries_dedup.q_ingest_gate`) and the streaming ingest gate
    (`streaming/ingest.py`), so the two surfaces can never diverge.
    Pass `corpus_state` (from `corpus_gate_state`) to amortize the
    corpus sketching across many batches."""
    sigs, sets = (
        corpus_state
        if corpus_state is not None
        else (None, None)
    )
    cand = lsh_pairs_against(corpus, new, bands, shingle, corpus_sigs=sigs)
    pairs = cand.select(
        F.col("new_id").alias("doc_a"), F.col("corpus_id").alias("doc_b")
    )
    # two-sided verification: a re-ingested doc_id may exist on BOTH
    # sides, so the sides must resolve against their own frames
    verified = jaccard_verify(
        new.select("doc_id", "text"), pairs, shingle, threshold=0.0,
        docs_b=corpus.select("doc_id", "text"), sets_b=sets,
    )
    per_new = verified.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("__n"), F.max("jaccard").alias("__mj")
    )
    new_ids = new.select("doc_id")
    return new_ids.join(per_new, new_ids.doc_id == per_new.doc_a, "left").select(
        "doc_id",
        F.coalesce("__n", F.lit(0)).alias("n_candidates"),
        F.coalesce("__mj", F.lit(0.0)).alias("max_jaccard"),
        (F.coalesce("__mj", F.lit(0.0)) < max_jaccard).alias("accept"),
    )


def jaccard_verify(docs: DataFrame, pairs: DataFrame, shingle: int = 3,
                   threshold: float = 0.0,
                   docs_b: DataFrame | None = None,
                   sets_b: DataFrame | None = None,
                   sets_a: DataFrame | None = None,
                   with_containment: bool = False) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only. With
    `docs_b`, the `doc_a` side resolves against `docs` and the `doc_b`
    side against `docs_b` — required when the two sides can share
    doc_ids (a re-ingested doc vs the standing corpus): a single
    union'd sets table would join the duplicate id TWICE and inflate
    downstream candidate counts (caught by the streaming-ingest twin
    test). `sets_b` supplies the b-side as an already-materialized
    (doc_id, sh) frame (`corpus_gate_state`) instead.

    `with_containment` appends the DIRECTIONAL overlap columns
    |A∩B|/|A| and |A∩B|/|B| — the asymmetry Jaccard hides: a short doc
    quoted verbatim inside a long one has low Jaccard (the union is
    big) but containment ≈ 1 on the short side, the quote/subset
    verdict curation pipelines use to keep the superset document. Same
    intersect pass, two extra ratios — free where the Jaccard is
    already being computed (r16: the standalone containment query was
    folded in here)."""
    def _sets(d: DataFrame) -> DataFrame:
        toks = T.tokens(F.col("text"))
        return _materialize(d.select(
            "doc_id", F.array_distinct(T.token_shingles(toks, shingle)).alias("sh")
        ))

    if sets_a is None:
        sets_a = _sets(docs)  # materialized: read twice when docs_b is None
    if sets_b is None:
        sets_b = sets_a if docs_b is None else _sets(docs_b)
    # |A∪B| = |A| + |B| − |A∩B| on the distinct shingle sets — one
    # intersect pass per pair instead of intersect + a materialized
    # union array (array_union rebuilds a deduped array per pair; the
    # identity is what the DuckDB oracle always computed)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cols = [
        F.col("doc_a"),
        F.col("doc_b"),
        F.round(
            inter.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - inter),
            6,
        ).alias("jaccard"),
    ]
    if with_containment:
        cols += [
            F.round(inter.cast("double") / F.size("sh_a"), 6).alias(
                "containment_a"
            ),
            F.round(inter.cast("double") / F.size("sh_b"), 6).alias(
                "containment_b"
            ),
        ]
    return (
        pairs.join(sets_a.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(*cols)
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------- SimHash


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """Per-doc SimHash sketch: bit j set iff the (+1/−1) majority vote
    of token-hash bit j is positive.

    Each token is hashed ONCE: the first ⌈bits/4⌉ md5 hex chars parse
    to a single integer whose binary bits are the per-token hash bits
    (shift+mask per vote — no per-bit hex parsing). The hashed-token
    frame is cached: without the materialization, whole-stage codegen
    inlines the tokenize+md5 tree into every vote (`bits`× redundant
    hashing, measured 5× at sf0.1).
    """
    n_hex = (bits + 3) // 4
    toks = T.tokens(F.col(text_col))
    hashed = docs.select(
        "doc_id",
        F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, n_hex), 16, 10).cast("long"),
        ).alias("__th"),
    )
    hashed = _materialize(hashed)

    def vote_fn(j: int):
        return lambda acc, h: acc + ((F.shiftright(h, j).bitwiseAND(1) * 2 - 1).cast("int"))

    bit_cols = []
    for j in range(bits):
        vote = F.aggregate(F.col("__th"), F.lit(0), vote_fn(j))
        bit_cols.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return hashed.select("doc_id", total.cast("long").alias("simhash"))


def simhash_pairs(docs: DataFrame, bits: int = 16, max_hamming: int = 4) -> DataFrame:
    """Near-dup pairs by sketch Hamming distance (xor + bit_count),
    with pigeonhole blocking: the sketch is split into `max_hamming+1`
    contiguous bit blocks — two sketches within Hamming distance h must
    agree exactly on ≥1 of the h+1 blocks — so the join runs per
    (block_idx, block_value) bucket instead of n². Candidates are then
    verified with the exact Hamming filter and de-duplicated (a pair
    can collide in several blocks). Identical output to the naive
    cross-join, measured ~10× faster at sf0.1, and the blocked join is
    the only formulation that survives 100 TB."""
    n_blocks = max_hamming + 1
    base = bits // n_blocks
    sizes = [base + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(sizes[:i]) for i in range(n_blocks)]

    s = _materialize(simhash(docs, bits))
    blocked = s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND((1 << sizes[i]) - 1)
                    for i in range(n_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        salted_self_pairs(blocked, ["block", "block_val"], "doc_id")
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -------------------------------------------- duplicate-cluster resolution


def duplicate_clusters(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components over the near-duplicate pair graph → one
    canonical keeper per duplicate cluster.

    Iterative min-label propagation: every node starts as its own
    label; each round joins the current labels across the (symmetric)
    edge list and keeps the elementwise min. Components' diameters in
    dedup graphs are tiny, so this converges in a few rounds; each
    round is one shuffle join + aggregate (the standard large-scale CC
    shape — no driver-side graph).

    Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) where
    cluster_id = min doc_id of the component; singletons are not
    emitted (docs not in any pair keep themselves).
    """
    # symmetrize with one explode instead of pairs ∪ pairs.swapped: the
    # union form re-executes the whole upstream pair subtree per branch
    # (for in-plan callers like the CurationPipeline facade that is the
    # LSH join + Jaccard verification, twice — r17, guide §2.4)
    raw_edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.*")
        .distinct()
    )
    # Staged lazily: the count below materializes the checkpoint in
    # the SAME job it counts it (r18, guide §1.2 fewer passes).
    #
    # The edge set after verification is orders of magnitude smaller
    # than the corpus, so the loop's partitioning follows the EDGE
    # count, not the session default — a dedup graph of a few thousand
    # edges rounds through 1-partition tasks; a 100 TB corpus's edge
    # set still fans out. The coalesce is narrow: every round reads
    # the staged blocks through it, no second copy of the edges.
    with staged(raw_edges) as raw_edges:
        n_parts = max(1, min(raw_edges.count() // 100_000 + 1, 200))
        edges = raw_edges.coalesce(n_parts)
        labels = _propagate_min_labels(edges, n_parts, max_rounds)
    if labels is None:
        # Never return partially-propagated labels silently: they would
        # split one true component into several keepers.
        raise RuntimeError(
            f"duplicate_clusters: min-label propagation did not converge in "
            f"{max_rounds} rounds (component diameter > 2^{max_rounds})"
        )
    return labels


def _propagate_min_labels(edges: DataFrame, n_parts: int,
                          max_rounds: int) -> DataFrame | None:
    """The rolling propagation loop of `duplicate_clusters` over the
    symmetric `edges`. Returns the converged (doc_id, cluster_id)
    labels, or None (keeping no checkpoint) if `max_rounds` rounds do
    not converge."""
    # localCheckpoint (not cache): each round's frame feeds the next
    # round's joins, so without truncation the plan nests one join
    # deeper per round and planning blows up — the iterative-lineage
    # hazard of SURVEY §7.5. Checkpointing keeps every round's plan
    # flat and the convergence check O(1) to plan.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .coalesce(n_parts)
        .localCheckpoint()
    )
    # `ckpt` is the round's checkpoint itself; `labels` may be a
    # projection over it, and release_blocks frees only a frame whose
    # root IS the checkpoint
    ckpt = labels
    # AQE off for the propagation loop: each round's checkpoint +
    # convergence count otherwise schedules extra re-planned jobs for
    # exchanges AQE can never improve (edge-count-sized frames; see
    # session.driver_loop_conf; r18)
    with driver_loop_conf(edges.sparkSession):
        for _ in range(max_rounds):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            stepped = labels.join(
                neighbor_min, labels.doc_id == neighbor_min.src, "left"
            ).select(
                "doc_id",
                F.col("cluster_id").alias("old_cluster"),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("mid_cluster"),
            )
            # Pointer jumping: label := min(label, label(label)). Every label
            # value is itself a node id, so one extra (small) labels⨝labels
            # join per round doubles the propagation reach — max_rounds
            # rounds cover components of diameter 2^max_rounds, not
            # max_rounds, so long duplicate chains still converge.
            parent = stepped.select(
                F.col("doc_id").alias("p_id"), F.col("mid_cluster").alias("p_cluster")
            )
            new_labels = (
                stepped.join(parent, stepped.mid_cluster == parent.p_id, "left")
                .withColumn(
                    "new_cluster",
                    F.least(
                        F.col("mid_cluster"),
                        F.coalesce(F.col("p_cluster"), F.col("mid_cluster")),
                    ),
                )
                .select(
                    "doc_id",
                    F.col("new_cluster").alias("cluster_id"),
                    (F.col("new_cluster") < F.col("old_cluster")).alias("changed"),
                )
                .coalesce(n_parts)
                .localCheckpoint()
            )
            # the convergence test is a predicate over the frame this round
            # materializes anyway — no extra new⨝old join.
            changed = new_labels.filter("changed").limit(1).count()
            release_blocks(ckpt)  # superseded by this round's checkpoint
            ckpt = new_labels
            labels = new_labels.drop("changed")
            if changed == 0:
                return labels
    release_blocks(ckpt)  # the partial labels are never returned
    return None


def keeper_by_quality(clusters: DataFrame, quality: DataFrame,
                      quality_col: str = "quality") -> DataFrame:
    """Pick one canonical document per duplicate cluster by quality —
    the step after connected components in a real dedup pipeline
    (keep the best variant, drop the rest), rather than blindly
    keeping the min doc_id.

    `clusters` is (doc_id, cluster_id) from `duplicate_clusters`;
    `quality` is (doc_id, <quality_col>). Keeper = max quality, ties
    broken by min doc_id (deterministic). One shuffle join on doc_id +
    one per-cluster aggregation — both keyed on bounded-size ids, so
    the plan is indifferent to document size at 100 TB.
    """
    q = F.col(quality_col)
    joined = clusters.join(quality, "doc_id")
    # max_by with a composite deterministic order: (quality desc,
    # doc_id asc) == max of struct(quality, -doc_id)
    best = F.max(F.struct(q.alias("q"), (-F.col("doc_id")).alias("neg_id")))
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            best.alias("__best"),
        )
        .select(
            "cluster_id",
            (-F.col("__best.neg_id")).alias("keeper_id"),
            "n_docs",
            F.col("__best.q").alias("keeper_quality"),
        )
    )


# ------------------------------------------------- embedding cosine near-dup


def hyperplane_signature(vecs: DataFrame, planes: list[list[float]],
                         features_col: str = "features") -> DataFrame:
    """Sign-LSH bucket id: bit i = [dot(v, plane_i) ≥ 0]. The planes are
    one nested-array literal and the bits fold in a single higher-order
    aggregate — compact plan, same dot-product values as the unrolled
    oracle form."""
    f = F.col(features_col)
    weights = [1 << i for i in range(len(planes))]
    sig = F.aggregate(
        F.transform(
            D.lit_array(planes),
            lambda p, i: F.when(D.dot(f, p) >= 0, F.element_at(F.lit(weights), i + 1)).otherwise(
                F.lit(0)
            ),
        ),
        F.lit(0),
        lambda a, v: a + v,
    )
    return vecs.withColumn("bucket", sig.cast("int"))


def embedding_near_pairs(vecs: DataFrame, planes: list[list[float]],
                         min_cosine: float = 0.2,
                         id_col: str = "id",
                         features_col: str = "features") -> DataFrame:
    """Near-dup embedding pairs: bucket by hyperplane signature, verify
    cosine within buckets only (the n² never happens across buckets)."""
    sig = hyperplane_signature(vecs, planes, features_col).select(
        F.col(id_col).alias("vid"), "bucket", F.col(features_col).alias("vf")
    )
    cos = D.cosine(F.col("a.vf"), F.col("b.vf"))
    return (
        salted_self_pairs(sig, ["bucket"], "vid")
        .select(
            F.least("a.vid", "b.vid").alias("vec_a"),
            F.greatest("a.vid", "b.vid").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


# ------------------------------------------- exact-substring surgery


def substring_purge(docs: DataFrame, runs: DataFrame) -> DataFrame:
    """Cut every (run_start, run_len) span out of each document's text
    — the surgery step of Lee et al.'s exact substring dedup
    (arXiv:2107.06499): the output text is what a curation pipeline
    actually trains on. `docs` needs (doc_id, text); `runs` needs
    (doc_id, run_start, run_len) with per-doc spans DISJOINT (the
    `_runs_from_positions` postcondition). Returns one row per input
    doc: (doc_id, n_runs_cut, chars_cut, text) — docs with no runs
    pass through untouched via the left join, and chars_cut =
    len(original) − len(purged) exactly because spans are disjoint.

    Plan: complement intervals via one lag window over the (tiny) runs
    table — kept segments are head-gaps plus one tail — segment text
    sliced from a join against the docs scan, and the purged text
    rebuilt with an order-explicit concat (sort_array over
    (seg_start, piece) structs — never relying on row order through
    the shuffle)."""
    w = Window.partitionBy("doc_id").orderBy("run_start")
    b = runs.withColumn(
        "prev_end", F.lag(F.col("run_start") + F.col("run_len")).over(w)
    )
    head = b.select(
        "doc_id",
        F.coalesce("prev_end", F.lit(1)).alias("seg_start"),
        (F.col("run_start") - F.coalesce("prev_end", F.lit(1))).alias("seg_len"),
    ).filter(F.col("seg_len") > 0)
    per_doc = runs.groupBy("doc_id").agg(
        F.max(F.col("run_start") + F.col("run_len")).alias("last_end"),
        F.count(F.lit(1)).alias("n_runs_cut"),
        F.sum("run_len").cast("long").alias("chars_cut"),
    )
    tail = per_doc.join(docs, "doc_id").select(
        "doc_id",
        F.col("last_end").alias("seg_start"),
        (F.length("text") - F.col("last_end") + 1).alias("seg_len"),
    ).filter(F.col("seg_len") > 0)
    pieces = head.unionByName(tail).join(docs, "doc_id").select(
        "doc_id",
        "seg_start",
        F.substring(F.col("text"), F.col("seg_start"), F.col("seg_len")).alias(
            "piece"
        ),
    )
    purged = pieces.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_start", "piece"))),
                lambda x: x["piece"],
            ),
            "",
        ).alias("__ptext")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .join(purged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_runs_cut", F.lit(0)).alias("n_runs_cut"),
            F.coalesce("chars_cut", F.lit(0)).cast("long").alias("chars_cut"),
            F.when(F.col("n_runs_cut").isNull(), F.col("text"))
            .otherwise(F.coalesce("__ptext", F.lit("")))
            .alias("text"),
        )
    )


def fuzzy_name_pairs(df: DataFrame, name_col: str, block_col,
                     max_dist: int = 2) -> DataFrame:
    """Blocked edit-distance entity resolution: candidate pairs of
    DISTINCT values of `name_col` whose Levenshtein distance is ≤
    `max_dist`, restricted to pairs sharing the blocking key
    `block_col` (a Column over the distinct-name frame's `name`).

    Classic record-linkage shape: names are first collapsed to their
    distinct domain with support counts (one map-side-combined
    groupBy — at 100 TB the pair join runs on the name DOMAIN, not
    the row count), then a self-equi-join on the block key generates
    candidates and the BOUNDED Levenshtein (`levenshtein(l, r,
    threshold)`, banded O(max_dist·len) DP, -1 beyond the bound —
    never the full O(len²) matrix) verifies. Like LSH banding, the
    block key bounds recall by construction: only same-block pairs are
    comparable, and per-block work is |block|² — pick keys (last
    token, soundex, length band) that keep blocks small and recall
    acceptable. `name_a < name_b` emits each unordered pair once."""
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("block", block_col)
    )
    a = names.select(
        "block", F.col("name").alias("name_a"), F.col("cnt").alias("cnt_a")
    )
    b = names.select(
        "block", F.col("name").alias("name_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b", max_dist))
        .filter(F.col("lev") >= 0)
        .select("block", "name_a", "name_b", "lev", "cnt_a", "cnt_b")
    )
