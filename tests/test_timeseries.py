"""Sessionization and as-of join semantics on hand-built event frames."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from apachebeamkmeans_spark.operators import timeseries as TS


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_sessionize_gap_splits(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "click", 1.0),
        (2, datetime(2024, 1, 1, 10, 10), 1, "click", 1.0),   # same session
        (3, datetime(2024, 1, 1, 11, 0), 1, "click", 1.0),    # 50min gap → new
        (4, datetime(2024, 1, 1, 10, 5), 2, "click", 1.0),    # other user
    ]
    out = TS.sessionize(_ev(spark, rows), gap_minutes=30).collect()
    sess = {r["event_id"]: r["session_seq"] for r in out}
    assert sess[1] == 1 and sess[2] == 1 and sess[3] == 2
    assert sess[4] == 1


def test_session_stats_bounds(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "click", 2.0),
        (2, datetime(2024, 1, 1, 10, 10), 1, "click", 3.0),
    ]
    out = TS.session_stats(_ev(spark, rows), gap_minutes=30).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 2 and r["sum_value"] == 5.0
    assert r["session_end_us"] - r["session_start_us"] == 10 * 60 * 1_000_000


def test_asof_join_latest(spark):
    clicks = _ev(spark, [
        (10, datetime(2024, 1, 1, 12, 0), 1, "click", 0.0),
        (11, datetime(2024, 1, 1, 9, 0), 1, "click", 0.0),   # before any purchase
        (12, datetime(2024, 1, 1, 12, 0), 2, "click", 0.0),  # other user, no purchase
    ])
    purchases = _ev(spark, [
        (20, datetime(2024, 1, 1, 10, 0), 1, "purchase", 1.0),
        (21, datetime(2024, 1, 1, 11, 0), 1, "purchase", 1.0),
        (22, datetime(2024, 1, 1, 13, 0), 1, "purchase", 1.0),  # after the click
    ])
    out = TS.asof_join_latest(
        clicks, purchases, key="user_id",
        probe_ts=F.col("ts"), update_ts=F.col("ts"), update_val="event_id",
    ).collect()
    got = {r["event_id"]: r["asof_event_id"] for r in out}
    assert got[10] == 21   # latest purchase ≤ 12:00
    assert got[11] is None  # none before 9:00
    assert got[12] is None  # user 2 never purchased


def test_asof_tie_inclusive(spark):
    clicks = _ev(spark, [(10, datetime(2024, 1, 1, 10, 0), 1, "click", 0.0)])
    purchases = _ev(spark, [(20, datetime(2024, 1, 1, 10, 0), 1, "purchase", 1.0)])
    out = TS.asof_join_latest(
        clicks, purchases, key="user_id",
        probe_ts=F.col("ts"), update_ts=F.col("ts"), update_val="event_id",
    ).collect()
    assert out[0]["asof_event_id"] == 20  # same-instant update counts


def test_scd2_version_chains(spark, sf_dir):
    """SCD2 semantic invariants the value-hash can't articulate:
    a doc updated at both waves carries 3 versions whose validity
    intervals chain without gaps (100->200->300->open); a deleted doc
    has exactly one CLOSED version and no current row; an inserted
    doc opens at t=300 and is current; and every doc has exactly one
    current version unless deleted."""
    from apachebeamkmeans_spark.queries_advanced import (
        SCD2_OPEN,
        SCD2_T0,
        SCD2_T1,
        SCD2_T2,
        q_cdc_scd2,
    )

    rows = q_cdc_scd2(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc in by_doc.values():
        doc.sort(key=lambda r: r["version"])
        # intervals chain: each valid_to equals the next valid_from
        for a, b in zip(doc, doc[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert sum(r["is_current"] for r in doc) <= 1
        assert doc[-1]["is_current"] == (doc[-1]["valid_to"] == SCD2_OPEN)

    both_waves = next(
        d for d in by_doc if d % 7 == 0 and d % 5 == 0 and d % 13 != 0
    )
    chain = by_doc[both_waves]
    assert [r["valid_from"] for r in chain] == [SCD2_T0, SCD2_T1, SCD2_T2]
    assert chain[-1]["valid_to"] == SCD2_OPEN and chain[-1]["is_current"]

    deleted = next(d for d in by_doc if d % 13 == 0 and d < 100000)
    assert len(by_doc[deleted]) == 1
    assert by_doc[deleted][0]["valid_to"] == SCD2_T1
    assert not by_doc[deleted][0]["is_current"]

    inserted = next(d for d in by_doc if d >= 100000)
    assert [r["valid_from"] for r in by_doc[inserted]] == [SCD2_T2]
    assert by_doc[inserted][0]["is_current"]


def test_mad_outliers_window_equals_pandas_twin(spark, sf_dir):
    """The r18 window rewrite of mad_outliers must be BIT-IDENTICAL to
    the grouped-map applyInPandas twin (np.median arithmetic: average
    of the two middle order statistics) — exact float equality, no
    rounding, on the real events table plus hand-built edge groups
    (odd/even counts, singleton, all-equal values, zero MAD)."""
    from apachebeamkmeans_spark.sources import io

    ev = io.read_table(spark, sf_dir, "events")
    a = {r["user_id"]: r for r in TS.mad_outliers(ev, 3.0).collect()}
    b = {r["user_id"]: r for r in TS.mad_outliers_pandas(ev, 3.0).collect()}
    assert set(a) == set(b) and len(a) > 0
    for uid, ra in a.items():
        rb = b[uid]
        assert ra["n_events"] == rb["n_events"]
        assert ra["median"] == rb["median"], uid   # exact, no tolerance
        assert ra["mad"] == rb["mad"], uid
        assert ra["n_outliers"] == rb["n_outliers"], uid

    from datetime import datetime

    rows = [
        # even count with distinct middles (true interpolation case)
        (1, datetime(2024, 1, 1, 10, 0), 7, "x", 1.0),
        (2, datetime(2024, 1, 1, 10, 1), 7, "x", 2.0),
        (3, datetime(2024, 1, 1, 10, 2), 7, "x", 10.0),
        (4, datetime(2024, 1, 1, 10, 3), 7, "x", 100.0),
        # singleton
        (5, datetime(2024, 1, 1, 10, 0), 8, "x", 5.5),
        # all-equal values -> mad == 0 -> n_outliers forced 0
        (6, datetime(2024, 1, 1, 10, 0), 9, "x", 3.0),
        (7, datetime(2024, 1, 1, 10, 1), 9, "x", 3.0),
        (8, datetime(2024, 1, 1, 10, 2), 9, "x", 3.0),
        # odd count with an outlier
        (9, datetime(2024, 1, 1, 10, 0), 10, "x", 1.0),
        (10, datetime(2024, 1, 1, 10, 1), 10, "x", 1.1),
        (11, datetime(2024, 1, 1, 10, 2), 10, "x", 50.0),
    ]
    hand = _ev(spark, rows)
    ha = {r["user_id"]: r for r in TS.mad_outliers(hand, 3.0).collect()}
    hb = {r["user_id"]: r for r in TS.mad_outliers_pandas(hand, 3.0).collect()}
    assert ha.keys() == hb.keys()
    for uid in ha:
        for c in ("n_events", "median", "mad", "n_outliers"):
            assert ha[uid][c] == hb[uid][c], (uid, c)
    assert ha[7]["median"] == 6.0 and ha[9]["mad"] == 0.0
    assert ha[9]["n_outliers"] == 0 and ha[10]["n_outliers"] == 1


def test_mad_outliers_precondition_finite_non_null(spark, sf_dir):
    """`mad_outliers` requires finite, non-null values: the events table
    holds none other, and a user breaking it leaves every other user's
    row equal across the window form and the pandas twin."""
    from apachebeamkmeans_spark.sources import io

    ev = io.read_table(spark, sf_dir, "events")
    v = F.col("value")
    assert ev.filter(v.isNull() | F.isnan(v) | (F.abs(v) == float("inf"))).count() == 0

    t = datetime(2024, 1, 1, 10, 0)
    rows = [(i, t, 1, "x", x) for i, x in enumerate([1.0, 2.0, 10.0, 100.0])]
    rows += [(10, t, 2, "x", 1.0), (11, t, 2, "x", float("nan")), (12, t, 2, "x", 3.0)]
    rows += [(20, t, 3, "x", 1.0), (21, t, 3, "x", None), (22, t, 3, "x", 3.0)]
    hand = _ev(spark, rows)
    a = {r["user_id"]: r for r in TS.mad_outliers(hand, 3.0).collect()}
    b = {r["user_id"]: r for r in TS.mad_outliers_pandas(hand, 3.0).collect()}
    assert a.keys() == b.keys() == {1, 2, 3}
    assert a[1] == b[1] and a[1]["median"] == 6.0
