"""Advanced engine-native queries (SURVEY.md §2.7 gap list): binned
event-time range join, CUBE / GROUPING SETS multi-dimensional
aggregation, sliding (hopping) event-time windows, MAP-typed columns,
and the function-registration triad (SQL UDF / Pandas UDAF / Python
UDTF).

None of these exist in the reference (it has no joins, no windows, no
grouping sets, no function registration — SURVEY.md §2.3/§2.7); they
are the capabilities a user graduating from it to a real engine needs.
Each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apachebeamkmeans_spark import fixtures
from apachebeamkmeans_spark import oraclegen as OG
from apachebeamkmeans_spark.functions import distance as D
from apachebeamkmeans_spark.operators.rangejoin import trailing_range_join
from apachebeamkmeans_spark.sources import io

HOUR_US = 3_600_000_000
SLIDE_US = 900_000_000  # 15 min


# ----------------------------------------------- binned time-range join


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: click count + click value of the same user in the
    trailing hour. Binned range join (operators/rangejoin.py) — an
    equi-join on (user_id, hour-bucket) with 2× probe duplication, not
    a per-key nested loop; survives hot users at 100 TB."""
    ev = io.read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "value", "ts"
    )
    j = trailing_range_join(
        purchases,
        clicks,
        key="user_id",
        probe_ts_us=F.unix_micros("ts"),
        other_ts_us=F.unix_micros("ts"),
        window_us=HOUR_US,
    )
    counts = j.groupBy("event_id").agg(
        F.count("o_event_id").alias("__n"),
        F.round(F.sum("o_value"), 4).alias("__v"),
    )
    return purchases.join(counts, "event_id", "left").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce("__n", F.lit(0)).alias("n_clicks_1h"),
        F.coalesce("__v", F.lit(0.0)).alias("click_value_1h"),
    )


ORACLE_EVENTS_RANGE_JOIN = f"""
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(count(c.event_id) AS BIGINT) AS n_clicks_1h,
       round(coalesce(sum(c.value), 0.0), 4) AS click_value_1h
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts) - {HOUR_US}
 AND epoch_us(c.ts) < epoch_us(p.ts)
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ cube


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status, priority): all 4 grouping sets in one pass —
    Catalyst expands to a single Expand + partial-agg shuffle."""
    orders = io.read_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )


ORACLE_ORDERS_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       round(avg(o_totalprice), 6) AS avg_price
FROM orders
GROUP BY CUBE (1, 2)
"""


# -------------------------------------------- sliding (hopping) windows


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — each event lands in 4
    overlapping windows (`F.window` duration/slide). Output keyed by
    the window start in integer microseconds (exact across engines)."""
    ev = io.read_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_micros("win.start").alias("win_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_EVENTS_SLIDING = f"""
SELECT (CAST(floor(epoch_us(ts) / {SLIDE_US}) AS BIGINT) - i.i) * {SLIDE_US}
         AS win_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
GROUP BY 1, 2
"""


# -------------------------------------------- SQL UDF registration surface


DIM = fixtures.EMBEDDING_DIM
CENTER = fixtures.fixed_centers()[0]


def q_sql_udf_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's scalars invoked from plain SQL text through the
    registered SQL-UDF surface (functions/sqludfs.py) — declarative
    bodies, inlined by Catalyst, codegen'd like built-ins."""
    from apachebeamkmeans_spark.functions.sqludfs import register_sql_functions

    register_sql_functions(spark)
    io.read_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings_sqludf"
    )
    c = D.sql_array_literal(CENTER)
    return spark.sql(f"""
        SELECT vec_id,
               round(l1_norm(e), 6) AS l1,
               round(sqrt(l2_norm_sq(e)), 6) AS l2,
               round(l2_dist_sq(e, {c}), 6) AS d2_c0,
               round(minkowski_dist(e, {c}, 1.0D), 6) AS d1_c0,
               round(cosine_sim(e, {c}), 6) AS cos_c0
        FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e
              FROM embeddings_sqludf)
    """)


ORACLE_SQL_UDF_NORMS = f"""
SELECT vec_id,
       round({OG.sql_abs_sum('e', DIM)}, 6) AS l1,
       round(sqrt({OG.sql_norm_sq('e', DIM)}), 6) AS l2,
       round({OG.sql_l2_sq('e', CENTER)}, 6) AS d2_c0,
       round({OG.sql_l1('e', CENTER)}, 6) AS d1_c0,
       round({OG.sql_cosine_lit('e', CENTER, DIM)}, 6) AS cos_c0
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) t
"""


# ------------------------------------------------------- map functions


def q_events_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: per-user event_type→count map built
    with map_from_entries, then accessed (element_at), enumerated
    (map_keys) and folded (aggregate over map_values). The oracle
    states the same facts relationally — the scalar projections are
    what cross the engine boundary, the map is the Spark-side shape."""
    ev = io.read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias("n_clicks"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("n_events"),
        F.concat_ws(",", F.map_keys("m")).alias("types_csv"),
    )


ORACLE_EVENTS_TYPE_MAP = """
SELECT user_id,
       CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT)
         AS n_clicks,
       CAST(count(*) AS BIGINT) AS n_events,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
FROM events
GROUP BY user_id
"""


# ------------------------------------------------------- grouping sets


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority)) — disjoint
    subtotal rows in one Expand pass, with GROUPING() flags
    disambiguating real NULLs from subtotal NULLs."""
    orders = io.read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


ORACLE_ORDERS_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


# ------------------------------------------------- UDAF / UDTF surface


def q_udaf_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDAF from SQL text: geometric mean of event
    value per type. Arrow moves one ndarray per group; the oracle is
    the exp∘avg∘ln identity (values rounded — summation order differs
    across engines on thousands of doubles)."""
    from apachebeamkmeans_spark.functions.udxf import register_udxfs

    register_udxfs(spark)
    io.read_table(spark, sf_dir, "events").createOrReplaceTempView("events_udxf")
    return spark.sql(
        "SELECT event_type, round(gmean(value), 6) AS gmean_value "
        "FROM events_udxf GROUP BY event_type"
    )


ORACLE_UDAF_GMEAN = """
SELECT event_type, round(exp(avg(ln(value))), 6) AS gmean_value
FROM events
GROUP BY event_type
"""


def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join: tokens + positions for a slice of
    documents (the generator/table-function registration surface; the
    hot-path tokenizer stays the JVM `split` in functions/text.py)."""
    from apachebeamkmeans_spark.functions.udxf import register_udxfs

    register_udxfs(spark)
    io.read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 20
    ).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.token, t.pos "
        "FROM docs_udtf d, LATERAL tokenize_udtf(d.text) t"
    )


ORACLE_UDTF_TOKENS = """
SELECT doc_id, toks[i] AS token, CAST(i - 1 AS INTEGER) AS pos
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS toks
      FROM documents WHERE doc_id < 20),
     LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
"""


def q_events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout profile of the events table: bucket
    (user_id, event-hour) to 8 bits each, interleave the bits into one
    Morton key (operators/layout.py — pure bitwise column arithmetic,
    codegen'd, no UDF), slice the Morton order into "files" (64 keys
    per file), and emit each file's min/max on BOTH dimensions. The
    per-file ranges stay narrow on user AND time simultaneously —
    which is exactly the property that lets min/max file statistics
    prune a 100 TB scan on either predicate (tests/test_layout.py
    asserts the clustering beats a single-dimension sort). The oracle
    runs the byte-identical interleave generated from the same Python
    loop."""
    from apachebeamkmeans_spark.operators.layout import morton_col

    ev = io.read_table(spark, sf_dir, "events")
    ub = (F.col("user_id") % 256).cast("int")
    # `div` = exact integer division (float `/`+floor can land one off
    # at exact-hour boundaries; the oracle's `//` is integer-exact)
    tb = (F.expr(f"unix_micros(ts) div {HOUR_US}") % 256).cast("int")
    return (
        ev.select(ub.alias("user_bucket"), tb.alias("time_bucket"))
        .withColumn("zval", morton_col(F.col("user_bucket"), F.col("time_bucket")))
        .groupBy(F.shiftright("zval", 6).alias("zfile"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("user_bucket").alias("min_user"),
            F.max("user_bucket").alias("max_user"),
            F.min("time_bucket").alias("min_t"),
            F.max("time_bucket").alias("max_t"),
        )
    )


def _zorder_oracle() -> str:
    from apachebeamkmeans_spark.operators.layout import morton_sql

    return f"""
WITH b AS (
  SELECT CAST(user_id % 256 AS INTEGER) AS user_bucket,
         CAST((epoch_us(ts) // 3600000000) % 256 AS INTEGER) AS time_bucket
  FROM events
), z AS (
  SELECT user_bucket, time_bucket,
         {morton_sql("user_bucket", "time_bucket")} AS zval
  FROM b
)
SELECT zval >> 6 AS zfile, count(*) AS n_rows,
       min(user_bucket) AS min_user, max(user_bucket) AS max_user,
       min(time_bucket) AS min_t, max(time_bucket) AS max_t
FROM z GROUP BY 1
"""


ORACLE_EVENTS_ZORDER_LAYOUT = _zorder_oracle()


def q_bloom_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT 1996-H1 orders, by
    return flag: a selectively-filtered build side against the big
    fact. At production scale Catalyst's runtime bloom filter
    (`spark.sql.optimizer.runtime.bloomFilter.*`, on by default)
    builds a bloom from the filtered order keys and pre-prunes the
    lineitem side BEFORE its shuffle — the injected
    `bloom_filter_might_contain` is locked by tests/test_layout.py
    with the size thresholds scaled to the fixture. Results are exact
    either way: bloom false positives are removed by the real join."""
    orders = io.read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = io.read_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


ORACLE_BLOOM_PRUNE_REVENUE = """
SELECT l_returnflag, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY l_returnflag
"""


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a CDC
    changeset (updates/deletes/inserts, derived deterministically from
    doc_id so the oracle replays it) to the documents snapshot via one
    full-outer join + CASE resolution. Every 13th doc is deleted,
    every 7th surviving doc gets an updated text, and 5 fresh rows are
    inserted. Scale shape: full-outer joins can't broadcast (both
    sides may contribute unmatched rows), so the join shuffles on
    doc_id — with a snapshot bucketed on the key (io.write_bucketed)
    only the tiny changeset side moves, which is how table formats
    run MERGE at scale. Output: (doc_id, origin, text_md5)."""
    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    upd = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0))
        .select("doc_id", F.lit("U").alias("op"), F.upper("text").alias("new_text"))
    )
    dele = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select("doc_id", F.lit("D").alias("op"), F.lit(None).cast("string").alias("new_text"))
    )
    ins = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.lit("I").alias("op"),
            F.concat(F.lit("new:"), F.col("text")).alias("new_text"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = docs.join(changes, "doc_id", "full_outer").filter(
        (F.col("op").isNull()) | (F.col("op") != "D")
    )
    return merged.select(
        "doc_id",
        F.when(F.col("op") == "I", "inserted")
        .when(F.col("op") == "U", "updated")
        .otherwise("kept")
        .alias("origin"),
        F.md5(F.coalesce("new_text", "text")).alias("text_md5"),
    )


SCD2_T0, SCD2_T1, SCD2_T2 = 100, 200, 300
SCD2_OPEN = 9999999  # open-interval sentinel (NULL would hash-differ)


def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 MERGE — the history-keeping half of warehouse MERGE
    (`cdc_merge` above is the overwrite half): the same deterministic
    changeset applied as versioned rows with [valid_from, valid_to)
    intervals instead of in-place overwrite. Three logical batches —
    initial load at t=100, the update/delete wave at t=200, a second
    update wave plus inserts at t=300 (docs divisible by both 7 and 5
    accrue three versions). Set-based plan, not per-batch iteration:
    ONE union of open/close change events and ONE per-key window —
    `lead(ts)` closes each version at the next change, `row_number`
    numbers versions, delete events contribute only their closing
    timestamp. At 100 TB that is a union of narrow column-pruned
    scans and a single shuffle on doc_id, the same shape table
    formats use to rebuild SCD2 snapshots."""
    from pyspark.sql import Window

    docs = io.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    base = docs.select(
        "doc_id", F.lit(SCD2_T0).alias("ts"), F.col("text"),
        F.lit("open").alias("kind"),
    )
    upd1 = docs.filter((d % 7 == 0) & (d % 13 != 0)).select(
        "doc_id", F.lit(SCD2_T1).alias("ts"),
        F.upper("text").alias("text"), F.lit("open").alias("kind"),
    )
    del1 = docs.filter(d % 13 == 0).select(
        "doc_id", F.lit(SCD2_T1).alias("ts"),
        F.lit(None).cast("string").alias("text"), F.lit("close").alias("kind"),
    )
    upd2 = docs.filter((d % 5 == 0) & (d % 13 != 0)).select(
        "doc_id", F.lit(SCD2_T2).alias("ts"),
        F.concat(F.lit("v3:"), F.lower("text")).alias("text"),
        F.lit("open").alias("kind"),
    )
    ins2 = docs.filter(d < 5).select(
        (d + 100000).alias("doc_id"), F.lit(SCD2_T2).alias("ts"),
        F.concat(F.lit("new:"), F.col("text")).alias("text"),
        F.lit("open").alias("kind"),
    )
    ev = base.unionByName(upd1).unionByName(del1).unionByName(upd2).unionByName(ins2)
    w = Window.partitionBy("doc_id").orderBy(F.asc("ts"))
    hist = ev.select(
        "doc_id", "ts", "text", "kind",
        F.coalesce(F.lead("ts").over(w), F.lit(SCD2_OPEN)).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
    )
    return hist.filter(F.col("kind") == "open").select(
        "doc_id",
        "version",
        F.col("ts").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
        (F.col("valid_to") == SCD2_OPEN).alias("is_current"),
        F.md5("text").alias("text_md5"),
    )


ORACLE_CDC_SCD2 = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
ev AS (
  SELECT doc_id, {SCD2_T0} AS ts, text, 'open' AS kind FROM docs
  UNION ALL SELECT doc_id, {SCD2_T1}, upper(text), 'open' FROM docs
    WHERE doc_id % 7 = 0 AND doc_id % 13 != 0
  UNION ALL SELECT doc_id, {SCD2_T1}, NULL, 'close' FROM docs
    WHERE doc_id % 13 = 0
  UNION ALL SELECT doc_id, {SCD2_T2}, 'v3:' || lower(text), 'open' FROM docs
    WHERE doc_id % 5 = 0 AND doc_id % 13 != 0
  UNION ALL SELECT doc_id + 100000, {SCD2_T2}, 'new:' || text, 'open' FROM docs
    WHERE doc_id < 5
),
h AS (
  SELECT doc_id, ts, text, kind,
         coalesce(lead(ts) OVER (PARTITION BY doc_id ORDER BY ts ASC),
                  {SCD2_OPEN}) AS valid_to,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ts ASC)
              AS INTEGER) AS version
  FROM ev
)
SELECT doc_id, version,
       CAST(ts AS BIGINT) AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       valid_to = {SCD2_OPEN} AS is_current,
       md5(text) AS text_md5
FROM h WHERE kind = 'open'
"""


ORACLE_CDC_MERGE = """
WITH changes AS (
  SELECT doc_id, 'U' AS op, upper(text) AS new_text FROM documents
  WHERE doc_id % 7 = 0 AND doc_id % 13 != 0
  UNION ALL
  SELECT doc_id, 'D', NULL FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 100000, 'I', 'new:' || text FROM documents WHERE doc_id < 5
)
SELECT coalesce(d.doc_id, c.doc_id) AS doc_id,
       CASE WHEN c.op = 'I' THEN 'inserted'
            WHEN c.op = 'U' THEN 'updated'
            ELSE 'kept' END AS origin,
       md5(coalesce(c.new_text, d.text)) AS text_md5
FROM documents d FULL OUTER JOIN changes c ON d.doc_id = c.doc_id
WHERE c.op IS NULL OR c.op != 'D'
"""


QUERIES = {
    "events_type_map": (q_events_type_map, ORACLE_EVENTS_TYPE_MAP),
    "events_zorder_layout": (q_events_zorder_layout, ORACLE_EVENTS_ZORDER_LAYOUT),
    "bloom_prune_revenue": (q_bloom_prune_revenue, ORACLE_BLOOM_PRUNE_REVENUE),
    "cdc_merge": (q_cdc_merge, ORACLE_CDC_MERGE),
    "cdc_scd2": (q_cdc_scd2, ORACLE_CDC_SCD2),
    "orders_grouping_sets": (q_orders_grouping_sets, ORACLE_ORDERS_GROUPING_SETS),
    "udaf_gmean": (q_udaf_gmean, ORACLE_UDAF_GMEAN),
    "udtf_tokens": (q_udtf_tokens, ORACLE_UDTF_TOKENS),
    "events_range_join": (q_events_range_join, ORACLE_EVENTS_RANGE_JOIN),
    "orders_cube": (q_orders_cube, ORACLE_ORDERS_CUBE),
    "events_sliding": (q_events_sliding, ORACLE_EVENTS_SLIDING),
    "sql_udf_norms": (q_sql_udf_norms, ORACLE_SQL_UDF_NORMS),
}
