"""Feature preprocessing for the points frame.

The reference clusters raw CSV features only; a real pipeline needs at
least z-score standardization (UCI HTRU_2's feature variances differ by
three orders of magnitude — unscaled, one dimension decides every
distance and K-Means degenerates to ARI ≈ 0 on it; standardized it
recovers the pulsar/noise split at ARI ≈ 0.6, tests/
test_reference_datasets.py).

Scale posture: ONE partial-aggregated pass computes the per-dimension
mean/std as a single MLlib `Summarizer` vector aggregate (O(1) plan
complexity in dimensionality, k×dim driver traffic); the transform is
then a shuffle-free narrow map whose (mean, std) pairs are plan-time
literals — the same literal-broadcast shape as K-Means assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D


def feature_moments(df: DataFrame, features_col: str = "features") -> tuple[list[float], list[float]]:
    """Per-dimension (mean, std) in one distributed vector aggregate."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    row = (
        df.withColumn("__v", array_to_vector(features_col))
        .agg(Summarizer.mean(F.col("__v")).alias("mu"),
             Summarizer.std(F.col("__v")).alias("sd"))
        .collect()[0]
    )
    return list(row["mu"]), list(row["sd"])


def standardize(df: DataFrame, features_col: str = "features",
                moments: tuple[list[float], list[float]] | None = None) -> DataFrame:
    """z-score each feature dimension: (x - mean) / std, constant
    dimensions (std = 0) pass through centered. Pass `moments` to apply
    a training set's scaling to held-out data."""
    mu, sd = moments if moments is not None else feature_moments(df, features_col)
    ms = [[float(m), float(s) if s > 0 else 1.0] for m, s in zip(mu, sd)]
    return df.withColumn(
        features_col,
        F.zip_with(F.col(features_col), D.lit_array(ms), lambda x, p: (x - p[0]) / p[1]),
    )
