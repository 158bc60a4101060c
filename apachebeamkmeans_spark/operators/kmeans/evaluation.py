"""External cluster-quality evaluation against a label column.

The reference validates clustering on labeled UCI datasets
(data/UCI/HTRU_2.csv etc. — SURVEY.md §5) but computes no quality
metric in code; this module supplies the standard ones, fully
distributed:

- **purity**: Σ_clusters max_label_count / n
- **adjusted Rand index (ARI)**: pair-counting agreement corrected for
  chance, from the (cluster × label) contingency table.

Everything is DataFrame aggregation over the contingency counts — the
k×L table is tiny whatever the data size, and the combinatorics stay
in integer columns until the final division, so the DuckDB oracle
reproduces the numbers exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c2(col):
    """n choose 2 as an exact integer column."""
    return (col * (col - F.lit(1)) / F.lit(2)).cast("long")


def contingency(assigned: DataFrame, cluster_col: str = "center_id",
                label_col: str = "label") -> DataFrame:
    return assigned.groupBy(cluster_col, label_col).agg(F.count(F.lit(1)).alias("n_ij"))


def quality_metrics(assigned: DataFrame, cluster_col: str = "center_id",
                    label_col: str = "label") -> DataFrame:
    """One row: (n, purity, ari) — rounded to 6 for oracle hashing.
    Returned lazy, so nothing is cached: the three aggregates share one
    contingency exchange (ReusedExchange)."""
    cont = contingency(assigned, cluster_col, label_col)

    sum_nij = cont.agg(
        F.sum(_c2(F.col("n_ij"))).alias("s_ij"), F.sum("n_ij").alias("n")
    )
    sum_a = (
        cont.groupBy(cluster_col)
        .agg(F.sum("n_ij").alias("a"), F.max("n_ij").alias("m"))
        .agg(F.sum(_c2(F.col("a"))).alias("s_a"), F.sum("m").alias("sum_max"))
    )
    sum_b = (
        cont.groupBy(label_col)
        .agg(F.sum("n_ij").alias("b"))
        .agg(F.sum(_c2(F.col("b"))).alias("s_b"))
    )
    joined = sum_nij.crossJoin(sum_a).crossJoin(sum_b)
    expected = F.col("s_a") * F.col("s_b") / _c2(F.col("n"))
    ari = (F.col("s_ij") - expected) / (
        (F.col("s_a") + F.col("s_b")) / F.lit(2.0) - expected
    )
    return joined.select(
        F.col("n"),
        F.round(F.col("sum_max").cast("double") / F.col("n"), 6).alias("purity"),
        F.round(ari, 6).alias("ari"),
    )
