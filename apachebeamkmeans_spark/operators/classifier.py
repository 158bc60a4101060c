"""Model-based quality/language filtering — the trained-classifier
stage of an LLM data pipeline (CCNet / RefinedWeb gate their crawl
with a fasttext linear classifier over surface features; this module
is that stage re-expressed on MLlib LogisticRegression, trained on the
engine's own certified feature expressions).

Certification follows the `mllib_kmeans` / `events_approx_distinct`
hybrid regime: LBFGS coefficients are deterministic for a fixed
dataset but their summation order follows the partitioning, so a
session with different parallelism lands ulp-different coefficients
and a boundary document may flip — the registered verdict therefore
exposes EXACT split counts (the DuckDB oracle recomputes them from the
same deterministic split) plus BOUNDED property booleans (accuracy
floors with wide margins), never raw coefficients or per-doc
predictions. The raw per-doc scores remain available to library
callers via `score_docs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apachebeamkmeans_spark.checkpoints import staged
from apachebeamkmeans_spark.functions import text as T
from apachebeamkmeans_spark.operators import textstats as TX

FEATURE_NAMES = (
    "stopword_density",
    "avg_token_len",
    "punct_ratio",
    "digit_ratio",
    "log_chars",
)


def feature_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, label, features ARRAY<DOUBLE>): the five surface
    features (FEATURE_NAMES order) + the weak label = the certified
    heuristic quality verdict (`textstats.quality_expr() >= 0.5`) —
    the distillation shape production quality filters actually use
    (fasttext gates are trained on weak labels from heuristics or
    reference corpora, then replace the heuristic at serve time).
    The synthetic corpus's `lang` column is a label uncorrelated
    with its text (measured: every lang draws from one vocabulary),
    so language is deliberately NOT the target here. Every feature
    reuses a certified expression family (stopword density = the
    `lang_id` rule's numerator/denominator; token/punct ratios =
    `doc_stats`'); zero-token or zero-char docs get 0.0 ratios
    instead of null/NaN so the assembler never drops rows. The label
    is not a linear function of the features (capped terms, raw
    n_tokens vs log_chars), so the fit is a real estimation problem,
    not an identity."""
    # label coalesces to 0.0: a zero-token/NULL-text doc has a NULL
    # quality score (quality_expr divides by n_tokens/length), and
    # "unscorable" IS "not keep-worthy" — MLlib's label validation
    # rejects nulls outright
    return docs.select(
        "doc_id",
        F.coalesce(
            (TX.quality_expr() >= 0.5).cast("double"), F.lit(0.0)
        ).alias("label"),
        features_expr().alias("features"),
    )


def features_expr():
    """The FEATURE_NAMES array as a single column expression over
    `text` — importable so single-plan consumers (the
    CurationPipeline model gate) can score WITHOUT projecting to a
    feature frame and joining back (the r9 lang_id lesson: a column
    expression is a narrow map where that join is a full-corpus
    shuffle)."""
    toks = T.tokens(F.col("text"))
    n_toks = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    nz = lambda expr: F.coalesce(expr, F.lit(0.0))  # noqa: E731
    density = nz(T.stopword_hits(toks, TX.STOPWORDS).cast("double")
                 / F.nullif(n_toks, F.lit(0)))
    avg_len = nz(total_len.cast("double") / F.nullif(n_toks, F.lit(0)))
    punct = nz(T.punct_count(F.col("text")).cast("double")
               / F.nullif(F.length("text"), F.lit(0)))
    digits = nz(F.regexp_count(F.col("text"), F.lit(r"[0-9]")).cast("double")
                / F.nullif(F.length("text"), F.lit(0)))
    return F.array(
        density, avg_len, punct, digits,
        nz(F.log1p(F.length("text").cast("double"))),  # NULL text → 0.0
    )


def fit_quality_model(train: DataFrame, max_iter: int = 25,
                      reg_param: float = 0.01):
    """LogisticRegression over the feature frame — one MLlib fit (a
    handful of treeAggregate passes; driver traffic = the coefficient
    vector). Returns the fitted model."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    if not train.head(1):
        raise ValueError("fit_quality_model requires a non-empty points frame")
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg_param,
        featuresCol="__fvec", labelCol="label",
    )
    return lr.fit(train.withColumn("__fvec", array_to_vector("features")))


def score_docs(model, docs: DataFrame) -> DataFrame:
    """(doc_id, label, prediction, p_keep): the library surface —
    per-doc classifier verdicts for gating, NOT oracle-registered
    (boundary docs flip on coefficient ulps; see module docstring)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    scored = model.transform(
        feature_frame(docs).withColumn("__fvec", array_to_vector("features"))
    )
    return scored.select(
        "doc_id",
        "label",
        F.col("prediction"),
        F.round(vector_to_array("probability")[1], 6).alias("p_keep"),
    )


def _accuracy(model, feats: DataFrame) -> float:
    from pyspark.ml.functions import array_to_vector

    scored = model.transform(
        feats.withColumn("__fvec", array_to_vector("features"))
    )
    row = scored.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("a")
    ).collect()[0]
    if row["a"] is None:
        # avg over an empty frame is NULL — surface the real problem
        # (an empty train/holdout split) instead of float(None)'s
        # opaque TypeError (ADVICE r10)
        raise ValueError(
            "_accuracy: empty split — the deterministic doc_id-mod split "
            "produced no rows on this side (corpus too small or id-sparse "
            "for the chosen train_mod)"
        )
    return float(row["a"])


def quality_classifier_report(docs: DataFrame, train_mod: int = 5,
                              train_floor: float = 0.90,
                              holdout_floor: float = 0.85) -> DataFrame:
    """Train on the deterministic `doc_id % train_mod != 0` split,
    hold out the rest, and emit the certifiable verdict row:
    (n_train, n_holdout, n_features, train_acc_ok, holdout_acc_ok).
    Counts are exact (the oracle recomputes them from the same split);
    the booleans are bounded properties with margin (measured
    accuracies 0.974–0.99 across sf0.001–sf0.1; floors at
    0.90/0.85)."""
    # checkpoint: the verdict touches the frame ~5 times (two counts,
    # the fit's passes, two accuracy scans) — without it each one
    # re-tokenizes every document from scratch
    with staged(feature_frame(docs)) as feats:
        train = feats.filter(F.col("doc_id") % train_mod != 0)
        holdout = feats.filter(F.col("doc_id") % train_mod == 0)
        model = fit_quality_model(train)
        row = (
            train.count(),
            holdout.count(),
            len(FEATURE_NAMES),
            _accuracy(model, train) >= train_floor,
            _accuracy(model, holdout) >= holdout_floor,
        )
    return docs.sparkSession.createDataFrame(
        [row],
        "n_train long, n_holdout long, n_features int, "
        "train_acc_ok boolean, holdout_acc_ok boolean",
    )
