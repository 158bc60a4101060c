"""Distributed PageRank over an undirected pair graph.

The step after near-dup detection in a curation pipeline that wants
more than keep/drop: rank documents by how central they are in the
similarity graph (hub pages, boilerplate families, template spam all
surface as high-rank nodes). Fixed-iteration power method — the same
discipline that made the ANN trainers oracle-checkable
(`operators/ann_train.py`): no convergence test, no RNG, so a DuckDB
twin replays the identical arithmetic.

Scale shape (the canonical large-graph PageRank): one shuffle join +
one aggregate per iteration over the EDGE list, rank state is one row
per node, `localCheckpoint` truncates the per-iteration lineage
(SURVEY §7.5 iterative hazard), and the only driver traffic is the
node count. Generalizes the reference's iterate-join-aggregate Lloyd
loop (/root/reference/SparKMeansGroupBy.java:73-151) to graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import staged

DAMPING = 0.85
ITERATIONS = 5


def pagerank(
    pairs: DataFrame,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
) -> DataFrame:
    """PageRank over undirected (doc_a, doc_b) pairs, restricted to
    nodes that appear in at least one pair (so the symmetric graph has
    no dangling nodes — every node's outgoing mass lands somewhere).

    Output: (doc_id, rank) with rank rounded to 6 (summation order
    across engines differs below that).
    """
    # symmetrize with one explode instead of pairs ∪ pairs.swapped —
    # the union form re-executes the upstream pair subtree per branch
    # (r17's duplicate_clusters fix, guide §2.4, applied here in r18);
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
    # lazy, so the count below materializes the checkpoint in the same
    # job it counts it; the coalesced (eager) checkpoint supersedes it.
    # Like duplicate_clusters: the verified pair graph is far smaller
    # than the corpus, so partition by edge count, not session default.
    with staged(raw_edges) as raw_edges:
        n_parts = max(1, min(raw_edges.count() // 100_000 + 1, 200))
        edges = raw_edges.coalesce(n_parts).localCheckpoint()

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("doc_id"))
    n = nodes.count()  # scalar driver traffic only
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).coalesce(n_parts).localCheckpoint()
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        )
        ranks = (
            contribs.groupBy(F.col("dst").alias("doc_id"))
            .agg((F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank"))
            .coalesce(n_parts)
            .localCheckpoint(eager=False)
        )
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


LP_ROUNDS = 3


def label_propagation(
    edges: DataFrame, seeds: DataFrame, rounds: int = LP_ROUNDS
) -> DataFrame:
    """Semi-supervised label spread over a directed weighted graph —
    the kNN-graph consumer (r6 verdict item 6): a small labeled subset
    seeds the corpus, and for `rounds` fixed rounds every still-
    unlabeled node takes the label with the largest total edge weight
    among its already-labeled neighbors (ties → smaller label). Labels
    never change once assigned — seeds are frozen, and each round only
    extends the frontier, so the fixed-round unroll is deterministic
    and a DuckDB twin replays it exactly (the `pagerank`/`ann_train`
    discipline).

    Inputs: `edges` (vec_id, nbr_id, wt BIGINT — integer weights, so
    the vote sums are exact and order-independent across engines) and
    `seeds` (vec_id, label). Output: (vec_id, label, rnd) with rnd = 0
    for seeds, r for round-r assignments.

    Scale shape: per round one shuffle join of the edge list against
    the label state on `nbr_id`, one anti-join to restrict to the
    unlabeled frontier, one (vec_id, label) hash-agg with map-side
    partial, and a per-node window over ≤ distinct-labels rows; label
    state is one row per labeled node, lineage truncated per round.
    Nothing is ever collected to the driver."""
    labels = seeds.select(
        "vec_id", "label", F.lit(0).alias("rnd")
    ).localCheckpoint(eager=False)
    for r in range(1, rounds + 1):
        new = propagation_round(edges, labels).select(
            "vec_id", "label", F.lit(r).alias("rnd")
        )
        labels = labels.unionByName(new).localCheckpoint(eager=False)
    return labels.select("vec_id", "label", F.col("rnd").cast("int").alias("rnd"))


def propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagation round: edge⋈state join, unlabeled-frontier
    anti-join, map-side-combined (node, label) vote sum, per-node
    argmax window. Exposed so the plan shape is lockable in
    tests/test_plans.py (the loop's localCheckpoint truncates the
    visible plan to an RDD scan)."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("twt"), F.asc("label"))
    votes = (
        edges.join(
            labels.select(F.col("vec_id").alias("nbr_id"), "label"), "nbr_id"
        )
        .join(labels.select("vec_id"), "vec_id", "left_anti")
        .groupBy("vec_id", "label")
        .agg(F.sum("wt").alias("twt"))
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label")
    )


def label_propagation_oracle_ctes(
    edges_cte: str, seeds_cte: str, rounds: int = LP_ROUNDS
) -> tuple[str, str]:
    """DuckDB twin of `label_propagation`, statically unrolled over an
    `edges`(vec_id, nbr_id, wt) CTE and a `seeds`(vec_id, label) CTE.
    Integer wt keeps every vote sum exact, so the (twt DESC, label ASC)
    argmax can never flap between engines. Returns (cte_body,
    final_cte_name) so callers can join the propagated labels onward."""
    its = [f"l0 AS (SELECT vec_id, label, 0 AS rnd FROM {seeds_cte})"]
    for r in range(1, rounds + 1):
        its.append(
            f"""v{r} AS (
  SELECT e.vec_id, l.label, sum(e.wt) AS twt
  FROM {edges_cte} e
  JOIN l{r - 1} l ON e.nbr_id = l.vec_id
  WHERE e.vec_id NOT IN (SELECT vec_id FROM l{r - 1})
  GROUP BY e.vec_id, l.label),
a{r} AS (
  SELECT vec_id, label, {r} AS rnd FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY twt DESC, label ASC) AS rk
    FROM v{r}) WHERE rk = 1),
l{r} AS (SELECT * FROM l{r - 1} UNION ALL SELECT * FROM a{r})"""
        )
    return ",\n".join(its), f"l{rounds}"


def label_propagation_oracle_sql(
    edges_cte: str, seeds_cte: str, rounds: int = LP_ROUNDS
) -> str:
    ctes, last = label_propagation_oracle_ctes(edges_cte, seeds_cte, rounds)
    return f"{ctes}\nSELECT vec_id, label, CAST(rnd AS INTEGER) AS rnd FROM {last}"


def pagerank_oracle_sql(
    edges_cte: str,
    damping: float = DAMPING,
    iterations: int = ITERATIONS,
) -> str:
    """The DuckDB twin: identical fixed-iteration arithmetic generated
    from the same parameters, as chained CTEs over an `edges`(src,
    dst) CTE named by `edges_cte` (must already be symmetric)."""
    its = [
        f"""deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM {edges_cte} GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nn) AS rank FROM deg)"""
    ]
    for i in range(1, iterations + 1):
        its.append(
            f"""r{i} AS (
  SELECT e.dst AS doc_id,
         (1.0 - {damping}) / (SELECT n FROM nn)
           + {damping} * sum(r.rank / d.deg) AS rank
  FROM {edges_cte} e
  JOIN r{i - 1} r ON e.src = r.doc_id
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst)"""
        )
    return (
        ",\n".join(its)
        + f"\nSELECT doc_id, round(rank, 6) AS rank FROM r{iterations}"
    )
