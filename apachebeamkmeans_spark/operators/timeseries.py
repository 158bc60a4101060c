"""Event-time operators: tumbling windows, sessionization, as-of join.

Absent from the reference (its Beam pipelines are bounded batch with no
windows/watermarks — SURVEY.md §2.7); these are the event-table
capabilities a data-pipeline engine needs. All batch DataFrame plans;
the streaming twins live in `streaming/events.py`.

Scale posture: every operator partitions by a key (user_id) before any
window, so state is distributed; no global-order windows anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tumbling_agg(events: DataFrame, bucket: str = "hour",
                 ts_col: str = "ts") -> DataFrame:
    """Per-(bucket, event_type) counts + value stats. date_trunc keeps
    the bucket a plain column → normal hash aggregation."""
    return (
        events.withColumn("bucket", F.date_trunc(bucket, F.col(ts_col)))
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30,
               user_col: str = "user_id", ts_col: str = "ts",
               id_col: str = "event_id") -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the
    gap to the previous event of the same user exceeds `gap_minutes`.

    Windows partition by user — no global sort; sessions are computed
    with two window passes (lag → cumulative sum of boundary flags).
    Timestamps are compared in integer microseconds (exact).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col(id_col).asc())
    flagged = events.withColumn(
        "__new_session",
        F.when(us - F.lag(us).over(w) > gap_us, 1).otherwise(
            F.when(F.lag(us).over(w).isNull(), 1).otherwise(0)
        ),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("__new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    ).drop("__new_session")


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """One row per session: bounds (µs), event count, total value."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id", "session_seq").agg(
        F.min(F.unix_micros("ts")).alias("session_start_us"),
        F.max(F.unix_micros("ts")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def session_counts(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Final per-user session/event counts — one row per user with
    (n_sessions, n_events, last_ts_us). The batch twin of the custom
    stateful streaming operator (`streaming.stateful.session_counts_
    stream`): after the stream has consumed all input, its state equals
    exactly this frame (asserted in tests/test_cli_stateful.py), which
    is what lets the driver oracle-certify the stateful surface through
    a plain gaps-and-islands SQL twin."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
    )


def asof_join_latest(probes: DataFrame, updates: DataFrame, key: str,
                     probe_ts: Column, update_ts: Column,
                     update_val: str) -> DataFrame:
    """As-of join: for each probe row, the most recent update (by
    `update_ts`, inclusive) with the same key.

    Implemented with the union + last_value(ignore nulls) pattern: tag
    both sides, interleave per key ordered by time (updates before
    probes on ties), and carry the latest update value forward. One
    shuffle on the key, O(n log n) per partition — no per-row range
    probe, no cross join; this is the formulation that survives scale
    (vs. the naive join+filter+argmax which explodes on hot keys).

    Returns the probe rows + `asof_<update_val>` column (null if no
    update precedes the probe).
    """
    p = probes.select(
        F.col(key).alias("__k"),
        F.unix_micros(probe_ts).alias("__t"),
        F.lit(1).alias("__is_probe"),
        F.lit(None).cast("long").alias("__uval"),
        F.struct(*[F.col(c) for c in probes.columns]).alias("__row"),
    )
    u = updates.select(
        F.col(key).alias("__k"),
        F.unix_micros(update_ts).alias("__t"),
        F.lit(0).alias("__is_probe"),
        F.col(update_val).cast("long").alias("__uval"),
        F.lit(None).cast(p.schema["__row"].dataType).alias("__row"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__is_probe").asc(), F.col("__uval").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = p.unionByName(u).withColumn(
        f"asof_{update_val}", F.last("__uval", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("__is_probe") == 1)
        .select("__row.*", f"asof_{update_val}")
    )


def _partition_median(df: DataFrame, order_col: str, w_all,
                      out_name: str) -> DataFrame:
    """Exact per-partition median of `order_col` as a window column:
    rank the values within the partition, select the two middle order
    statistics (1-indexed lo = (n+1)//2, hi = n//2 + 1), and average
    them — for odd n lo == hi and (v+v)/2 == v exactly; for even n
    this is np.median's mean of the two middle elements bit-for-bit
    ((a+b)/2 is the same IEEE add + exact power-of-two scaling numpy
    performs). Selection-based, so ties among equal values cannot
    change the result. Adds __rn/__n working columns internally and
    drops them."""
    w_ord = w_all.orderBy(F.col(order_col).asc())
    ranked = df.withColumn("__rn", F.row_number().over(w_ord)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    lo = F.floor((F.col("__n") + 1) / 2)
    hi = F.floor(F.col("__n") / 2) + 1
    picked = ranked.withColumn(
        "__lo_v",
        F.max(F.when(F.col("__rn") == lo, F.col(order_col))).over(w_all),
    ).withColumn(
        "__hi_v",
        F.max(F.when(F.col("__rn") == hi, F.col(order_col))).over(w_all),
    )
    return picked.withColumn(
        out_name, (F.col("__lo_v") + F.col("__hi_v")) / 2
    ).drop("__rn", "__n", "__lo_v", "__hi_v")


def mad_outliers(events: DataFrame, threshold: float = 3.0) -> DataFrame:
    """Per-user robust outlier profile via median absolute deviation —
    pure window/aggregate plan since r18 (guide §4: the grouped-map
    Python boundary removed from the query path; the applyInPandas
    form survives as `mad_outliers_pandas`, asserted value-identical
    in tests/test_timeseries.py).

    Medians are SELECTION-based per user (`_partition_median`): rank
    within the user partition, average the two middle order statistics
    — exactly np.median's arithmetic, so the rewrite is bit-identical
    to the pandas twin (and to the DuckDB oracle it already matched).

    Scale shape: ONE shuffle on user_id; both median ranks and the
    final per-user aggregate reuse that partitioning (in-partition
    sorts only — no further Exchange), where the grouped-map form paid
    the same shuffle plus an Arrow round-trip of every row through a
    Python worker.

    Precondition: every `value` is finite and non-null. The window
    ranks a NaN above every number and a null first, while np.median
    (the pandas twin) propagates NaN, so for a user holding such a
    value the two forms — and the DuckDB oracle — may disagree. Other
    users' rows are unaffected. The events source satisfies it
    (`tests/test_timeseries.py` checks both).
    """
    w_all = Window.partitionBy("user_id")
    base = events.select("user_id", "value")
    with_med = _partition_median(base, "value", w_all, "__med")
    with_ad = with_med.withColumn(
        "__ad", F.abs(F.col("value") - F.col("__med"))
    )
    with_mad = _partition_median(with_ad, "__ad", w_all, "__mad")
    return with_mad.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("__med").alias("median"),
        F.min("__mad").alias("mad"),
        F.sum(
            F.when(
                (F.col("__mad") > 0)
                & (F.col("__ad") > threshold * F.col("__mad")),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
    )


def mad_outliers_pandas(events: DataFrame, threshold: float = 3.0) -> DataFrame:
    """The grouped-map `applyInPandas` twin of `mad_outliers` (each
    user's rows arrive as one Arrow-backed pandas frame) — kept as the
    engine's grouped-map API surface and as the bit-identity witness
    for the window rewrite (all arithmetic is order-independent:
    selection-based medians, elementwise abs/compare)."""
    import pandas as pd

    schema = "user_id long, n_events long, median double, mad double, n_outliers long"

    def _profile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        v = pdf["value"].to_numpy(dtype=np.float64)
        med = float(np.median(v))
        ad = np.abs(v - med)
        mad = float(np.median(ad))
        n_out = int((ad > threshold * mad).sum()) if mad > 0 else 0
        return pd.DataFrame(
            [[int(pdf["user_id"].iloc[0]), len(v), med, mad, n_out]],
            columns=["user_id", "n_events", "median", "mad", "n_outliers"],
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandas(
        _profile, schema
    )
