"""Physical-plan assertions: the scale-critical properties each
operator family was designed for (SURVEY.md §4, north-star scale
posture). These lock in the plans — a regression that adds a shuffle,
loses a broadcast, or breaks pushdown fails here."""

from __future__ import annotations

from apachebeamkmeans_spark.fixtures import fixed_centers
from apachebeamkmeans_spark.operators import textstats as TX
from apachebeamkmeans_spark.operators.kmeans import lloyd
from apachebeamkmeans_spark.plans import explain as X
from apachebeamkmeans_spark.queries_relational import (
    q_pricing_summary,
    q_top_revenue_orders,
)
from apachebeamkmeans_spark.sources import io
from kmeans_reference import recenter

CENTERS = fixed_centers()


def test_assign_is_shuffle_free(spark, sf_dir):
    """J1 assignment is a pure map — no Exchange."""
    assigned = lloyd.assign(io.load_points(spark, sf_dir), CENTERS, 2.0)
    assert X.n_exchanges(assigned) == 0


def test_recenter_is_partially_aggregated(spark, sf_dir):
    """A1/A2: one shuffle, map-side partial agg (vs the reference's
    groupByKey shipping every row)."""
    pts = io.load_points(spark, sf_dir)
    rec = recenter(lloyd.assign(pts, CENTERS, 2.0), dim=64)
    assert X.n_exchanges(rec) == 1
    assert X.has_partial_aggregate(rec)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    q = q_pricing_summary(spark, sf_dir)
    assert X.has_pushed_filter(q, "l_shipdate")
    schemas = X.scan_read_schema(q)
    assert schemas and all("l_orderkey" not in s for s in schemas)  # pruned
    assert X.has_partial_aggregate(q)


def test_q3_broadcasts_customer(spark, sf_dir):
    assert X.has_broadcast_join(q_top_revenue_orders(spark, sf_dir))


def test_text_stats_shuffle_free(spark, sf_dir):
    docs = io.read_table(spark, sf_dir, "documents")
    assert X.n_exchanges(TX.doc_stats(docs)) == 0
    assert X.n_exchanges(TX.fingerprint(docs)) == 0


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located fact-fact join: both sides bucketed on the key join
    with zero Exchange (the 100 TB answer to repeated orders⨝lineitem
    shuffles)."""
    import shutil

    orders = io.read_table(spark, sf_dir, "orders")
    li = io.read_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables across sessions but their
    # warehouse directories persist — clear both
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    io.write_bucketed(orders, "b_orders", "o_orderkey", 8)
    io.write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8)
    joined = (
        spark.table("b_lineitem")
        .join(spark.table("b_orders").hint("merge"), "o_orderkey")
        .select("o_orderkey", "l_quantity", "o_totalprice")
    )
    assert X.n_exchanges(joined) == 0
    assert joined.count() == 6000
    # unbucketed same join shuffles at least one side
    plain = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert X.n_exchanges(plain) >= 1


def test_pruned_scan_for_projection(spark, sf_dir):
    li = io.read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = X.scan_read_schema(li)
    assert schemas and all("l_extendedprice" not in s for s in schemas)


def test_ivf_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """The IVF search's `coarse_id IN (probe cells)` must reach the scan
    as a PartitionFilter over the materialized coarse-partitioned
    layout — the property that makes the probe touch nprobe/k of the
    directories at 100 TB — and the whole multi-query search is ONE
    plan (no per-query union of subplans)."""
    from apachebeamkmeans_spark.fixtures import query_vectors
    from apachebeamkmeans_spark.operators import similarity as SIM

    idx = str(tmp_path / "ivf")
    SIM.build_ivf_index(io.load_points(spark, sf_dir), CENTERS, idx)
    res = SIM.ivf_topk_indexed(spark, idx, query_vectors(5), CENTERS, k=5, nprobe=2)
    plan = X.formatted_plan(res)
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "coarse_id" in after[1][:200]
    # one plan, one scan (PartitionFilters prints once per scan node)
    assert plan.count("PartitionFilters") == 1
    # every qid got k hits, only from its own probe cells
    rows = res.collect()
    per_qid = {}
    for r in rows:
        per_qid.setdefault(r["qid"], []).append(r)
    assert set(per_qid) == set(range(5))
    for qid, hits in per_qid.items():
        cells = set(SIM.nearest_centers(query_vectors(5)[qid], CENTERS, 2))
        assert len(hits) == 5
        assert {h["probe_cell"] for h in hits} <= cells


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: an equality filter on the
    partition column becomes a PartitionFilter — at 100 TB the scan
    touches one directory, not the table."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "events_by_type")
    ev = io.read_table(spark, sf_dir, "events")
    io.write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = X.formatted_plan(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    n_all = io.read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).count()
    assert back.count() == n_all


def test_q4_semi_join_never_widens_probe(spark, sf_dir):
    """EXISTS shape: left_semi keeps the orders side narrow (no
    lineitem columns survive the join) and broadcasts the filtered
    returned-keys side at dimension size."""
    from apachebeamkmeans_spark.queries_relational import q4_priority_returns

    q = q4_priority_returns(spark, sf_dir)
    plan = X.formatted_plan(q)
    assert "LeftSemi" in plan
    schemas = X.scan_read_schema(q)
    # both scans pruned to join/agg keys: nothing reads o_totalprice or
    # lineitem's numeric payload
    assert schemas and all("o_totalprice" not in s and "l_quantity" not in s for s in schemas)


def test_q6_filters_reach_scan(spark, sf_dir):
    from apachebeamkmeans_spark.queries_relational import q6_revenue_delta

    q = q6_revenue_delta(spark, sf_dir)
    assert X.has_pushed_filter(q, "l_shipdate")
    assert X.has_pushed_filter(q, "l_discount")
    assert X.has_partial_aggregate(q)


def test_bucketed_join_query_no_exchange_below_agg(spark, sf_dir):
    """The registered bucketed_join_revenue query: the only Exchange
    is the final 5-group aggregation; the join itself is co-located
    (bucketed scans, no Sort, no shuffle)."""
    from apachebeamkmeans_spark.queries_relational import q_bucketed_join_revenue

    q = q_bucketed_join_revenue(spark, sf_dir)
    # one Exchange for the groupBy; the join contributes zero
    assert X.n_exchanges(q) == 1
    assert "SortMergeJoin" in X.formatted_plan(q)


def test_range_search_is_narrow_map(spark, sf_dir):
    """cosine_range_search: no window, no sort, no shuffle — a pure
    projection+filter over the embedding scan."""
    from apachebeamkmeans_spark.operators import similarity as SIM
    from apachebeamkmeans_spark.queries_similarity import QUERY_VECS

    vecs = io.load_points(spark, sf_dir)
    q = SIM.cosine_range_search(vecs, QUERY_VECS, 0.35)
    assert X.n_exchanges(q) == 0


def test_ivfpq_serving_shape(spark, sf_dir):
    """Trained IVF-PQ serving plan invariants: the exact-refine vector
    fetch is a BROADCAST hash join (the shortlist side is tiny by
    construction), and the raw feature array does NOT travel through
    the ADC ranking exchange — only narrow (vec_id, probe_cell, qid, d)
    rows shuffle, which is what keeps PQ serving at m bytes/row at
    100 TB."""
    from apachebeamkmeans_spark import queries_similarity as QS
    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.operators import similarity as SIM

    q = SIM.ivfpq_topk(
        ANN.l2_normalize(io.load_points(spark, sf_dir)),
        QS.NQUERY_VECS, QS.TRAINED_CENTERS, QS.TRAINED_CODEBOOKS,
        QS.IVFPQ_TOPK, QS.IVFPQ_NPROBE, refine=QS.IVFPQ_REFINE,
    )
    plan = X.formatted_plan(q)
    assert "BroadcastHashJoin" in plan
    # The ADC-rank Exchange ships rows of (vec_id, probe_cell, qid, _d)
    # only — the feature column must not appear in any Exchange input.
    exchanges = [
        seg
        for seg in plan.split("\n\n")
        if seg.startswith("(") and ") Exchange" in seg.split("\n")[0]
    ]
    assert exchanges, "expected at least one Exchange in the serving plan"
    for seg in exchanges:
        assert "array<double>" not in seg, seg


def test_pii_and_repetition_are_narrow_maps(spark, sf_dir):
    """Both text-curation passes are shuffle-free narrow maps over the
    documents scan."""
    docs = io.read_table(spark, sf_dir, "documents")
    assert X.n_exchanges(TX.pii_scrub(docs)) == 0
    assert X.n_exchanges(TX.repetition_stats(docs)) == 0


def test_inverted_index_bounded_state_no_single_partition(spark, sf_dir):
    """Inverted-index build: never an Exchange SinglePartition (the
    index never funnels through one task), the per-doc array_distinct
    runs before the explode (pre-shuffle dedup), and — the r5 advisor's
    OOM finding — the posting sample is bounded BEFORE aggregation:
    the row_number(≤50) rank filter must compile to WindowGroupLimit
    on BOTH sides of its shuffle (Partial = map-side top-50 per
    token), so no agg buffer ever holds a stopword-grade full posting
    list. Both agg branches hash-partition by token, so the final
    join adds no extra data Exchange (2 hash Exchanges total; the
    small sample side broadcasts)."""
    from apachebeamkmeans_spark.queries_text import q_inverted_index

    q = q_inverted_index(spark, sf_dir)
    plan = X.formatted_plan(q)
    assert "SinglePartition" not in plan
    # the explode consumes the deduped array directly: array_distinct
    # sits inside the generator's child expression, i.e. BEFORE the
    # shuffle, so repeated tokens never ship
    assert "explode(array_distinct(" in plan
    exec_plan = q._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in exec_plan and "Partial" in exec_plan
    assert X.n_exchanges(q) <= 3  # 2 hash-by-token + 1 broadcast


def test_quartiles_window_is_type_partitioned(spark, sf_dir):
    """ntile bucketing: the window sorts inside event_type partitions
    only — one hash Exchange, no global (SinglePartition) sort."""
    from apachebeamkmeans_spark.queries_events import q_events_value_quartiles

    q = q_events_value_quartiles(spark, sf_dir)
    plan = X.formatted_plan(q)
    assert "SinglePartition" not in plan
    assert X.n_exchanges(q) == 1


def test_zorder_morton_is_codegen_narrow_map(spark, sf_dir):
    """The Morton interleave stays inside whole-stage codegen (no UDF,
    no extra Exchange beyond the final aggregation's)."""
    from apachebeamkmeans_spark.queries_advanced import q_events_zorder_layout

    q = q_events_zorder_layout(spark, sf_dir)
    plan = X.formatted_plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert X.n_exchanges(q) == 1
    assert X.has_partial_aggregate(q)


def test_disjunctive_predicates_split_per_scan(spark, sf_dir):
    """Q19 shape: Catalyst must decompose the OR-of-ANDs filter into
    per-table disjunctions pushed to BOTH scans — the quantity arm
    reaches the lineitem parquet scan and the brand/size arm the part
    scan (an engine that evaluates the whole OR post-join rescans
    everything). Also the dimension side must broadcast."""
    from apachebeamkmeans_spark.queries_relational import q_disjunctive_revenue

    q = q_disjunctive_revenue(spark, sf_dir)
    plan = X.formatted_plan(q)
    assert X.has_broadcast_join(q)
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """The vocabulary-sized probability table must BROADCAST onto the
    token-instance join — a shuffle join on `token` would put every
    stopword's instances on one task (the hot-key trap the operator
    is designed around)."""
    q = TX.unigram_logprob(io.read_table(spark, sf_dir, "documents"))
    assert X.has_broadcast_join(q)
    plan = X.formatted_plan(q)
    assert "SortMergeJoin" not in plan


def test_interpolate_single_window_node(spark, sf_dir):
    """Both lerp neighbor frames (UNBOUNDED PRECEDING / FOLLOWING)
    share the partition key and sort order, so Spark must evaluate all
    four neighbor columns in ONE Window node over one sort — a second
    window would double the spine shuffle."""
    from apachebeamkmeans_spark.queries_events import q_events_interpolate

    plan = X.formatted_plan(q_events_interpolate(spark, sf_dir))
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_q7_all_dims_broadcast_no_sortmerge(spark, sf_dir):
    """Q7's two nation paths (supplier side, customer side) and both
    dim joins must all be broadcast — the only permissible shuffle is
    the final aggregate (plus AQE's fact-fact key exchange); a
    SortMergeJoin anywhere means a dimension lost its broadcast and
    the fact table would shuffle per dim at 100 TB."""
    from apachebeamkmeans_spark.queries_relational import q_nation_trade

    plan = X.formatted_plan(q_nation_trade(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert X.has_pushed_filter(q_nation_trade(spark, sf_dir), "n_name")


def test_q18_having_aggregate_then_broadcast_back(spark, sf_dir):
    """The qualifying order keys (a HAVING-filtered aggregate, a
    handful of rows) must broadcast back onto orders — re-shuffling
    orders against lineitem to apply a tiny filter is the anti-plan."""
    from apachebeamkmeans_spark.queries_relational import q_large_orders

    plan = X.formatted_plan(q_large_orders(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_merge_rewrite_is_narrow_and_encode_applies_without_fit(spark):
    """The vocab-table BPE shapes (r8): applying a learned merge list
    is a NARROW vocab rewrite — zero exchanges beyond the one that
    built the vocab — because the encoder must never re-pay pair
    counting; and the per-round rewrite (replace projection + token
    count) adds no exchange of its own."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.operators.textstats import (
        bpe_apply_merges,
        bpe_token_count,
        bpe_word_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab ba"), (2, "ab ba")], "doc_id long, text string"
    )
    vocab = bpe_word_vocab(docs).localCheckpoint(eager=True)
    applied = bpe_apply_merges(vocab, ["\ta\n\tb\n", "\tb\n\ta\n"]).select(
        bpe_token_count(F.col("seq")).alias("n")
    )
    # the only exchange in scope was the vocab count, already
    # materialized by the checkpoint — the apply chain is exchange-free
    assert X.n_exchanges(applied) == 0


def test_label_propagation_round_is_one_join_one_agg(spark):
    """One propagation round = edge⋈state join + vote aggregate +
    argmax window; the vote count must be partially aggregated (the
    map-side combine is what keeps hot nodes from shipping every
    incident edge to one task)."""
    from apachebeamkmeans_spark.operators.graph import propagation_round

    edges = spark.createDataFrame(
        [(1, 0, 10), (2, 1, 5)], "vec_id long, nbr_id long, wt long"
    )
    labels = spark.createDataFrame(
        [(0, 7, 0)], "vec_id long, label int, rnd int"
    )
    out = propagation_round(edges, labels)
    assert X.has_partial_aggregate(out)


def test_ivfpq_residual_lut_rides_as_broadcast_table(spark, sf_dir):
    """The per-(query, probed-cell) ADC LUTs must join as a BROADCAST
    TABLE on probe_cell — the r6 fix that took this query 7.5 s → 3.7 s
    (BASELINE.md). Locked under autoBroadcastJoinThreshold=-1 (the
    worst-case default-session drift the r7 verdict flagged): the
    explicit broadcast() hint must keep winning, and no shuffle join
    may appear anywhere in the serving plan. A revert to the literal
    form would also fail: the LUT join on probe_cell would vanish,
    dropping the plan below two BroadcastHashJoins (LUT + exact-refine
    fetch)."""
    from apachebeamkmeans_spark import queries_similarity as QS
    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.operators import similarity as SIM

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        q = SIM.ivfpq_residual_topk(
            ANN.l2_normalize(io.load_points(spark, sf_dir)),
            QS.NQUERY_VECS, QS.TRAINED_CENTERS, QS.TRAINED_RES_CODEBOOKS,
            QS.IVFPQ_TOPK, QS.IVFPQ_NPROBE, refine=QS.IVFPQ_REFINE,
        )
        plan = X.formatted_plan(q)
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        # the LUT is data, not a plan literal: no m·ksub-double array
        # literal may appear in the plan text
        assert "probe_cell" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q9_partsupp_join_no_cartesian_no_sortmerge(spark, sf_dir):
    """Real-Q9 invariants: the derived-partsupp composite-key join and
    every dim join stay hash joins (dims broadcast), never a cartesian
    or a per-dim fact shuffle; profit aggregate is partially
    aggregated."""
    from apachebeamkmeans_spark.queries_relational import q_parttype_profit

    plan = X.formatted_plan(q_parttype_profit(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert X.has_partial_aggregate(q_parttype_profit(spark, sf_dir))


def test_q21_exists_decorrelates_to_semi_anti_hash_joins(spark, sf_dir):
    """Q21's dual correlated EXISTS/NOT EXISTS must run as semi/anti
    HASH joins on the orderkey with the supplier inequality as a
    residual — a nested-loop or cartesian fallback here is the
    O(order²) anti-plan."""
    from apachebeamkmeans_spark.queries_relational import q_waiting_suppliers

    plan = X.formatted_plan(q_waiting_suppliers(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_pipeline_facade_quality_gate_is_shuffle_free(spark, sf_dir):
    """r9 verdict item 3: the quality gate is a column-expression
    FILTER (length + stopword-density language rule), not a self-join
    of a lang_id projection — zero Exchange, zero Join."""
    from apachebeamkmeans_spark.pipeline import CurationPipeline

    docs = io.read_table(spark, sf_dir, "documents")
    gated = CurationPipeline(docs).quality_gate(min_chars=30, langs=("en",)).df()
    assert X.n_exchanges(gated) == 0
    assert "Join" not in X.formatted_plan(gated)


def test_pipeline_facade_anti_joins_size_aware(spark, sf_dir):
    """r9 verdict item 2: the facade's loser-id anti-joins carry NO
    forced broadcast hint (loser sets are duplicate-volume-sized — a
    hinted broadcast OOMs at 100 TB instead of falling back), so the
    plan must be sane in BOTH AQE regimes: under the default
    threshold the RUNTIME plan broadcasts the small loser sets;
    with broadcasts disabled it falls back to key-shuffle anti-joins
    — never a cartesian/nested-loop degeneration — and produces the
    identical summary."""
    from apachebeamkmeans_spark.pipeline import CurationPipeline

    docs = io.read_table(spark, sf_dir, "documents")

    def build():
        return (
            CurationPipeline(docs)
            .exact_dedup()
            .near_dedup(threshold=0.5)
            .quality_gate(min_chars=30, langs=("en",))
            .summary()
        )

    # default regime: AQE's runtime stats convert the loser-set
    # anti-joins to broadcasts (the FINAL adaptive plan shows it —
    # the static plan may conservatively say SortMergeJoin)
    out = build()
    rows_default = sorted(map(tuple, out.collect()))
    final_plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in final_plan
    assert "BroadcastHashJoin" in final_plan
    assert "CartesianProduct" not in final_plan
    assert "BroadcastNestedLoopJoin" not in final_plan

    # broadcast-disabled regime: the same pipeline falls back to
    # shuffle anti-joins (this is what a forced hint would forbid)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out2 = build()
        plan2 = X.formatted_plan(out2)
        assert "CartesianProduct" not in plan2
        assert "BroadcastNestedLoopJoin" not in plan2
        assert plan2.count("LeftAnti") >= 2
        assert sorted(map(tuple, out2.collect())) == rows_default
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert X.has_partial_aggregate(build())


def test_pca_projection_is_shuffle_free(spark, sf_dir):
    """r10: the PCA width reducer is a pure narrow map — centered
    array staged once, out_dim fold dots, no Exchange anywhere (the
    whole point of reducing width BEFORE the ANN stack's shuffles is
    forfeited if the projection itself shuffles)."""
    from apachebeamkmeans_spark import queries_similarity as QS
    from apachebeamkmeans_spark.operators import ann_train as ANN
    from apachebeamkmeans_spark.operators.similarity import pca_project

    vecs = ANN.l2_normalize(io.load_points(spark, sf_dir))
    proj = pca_project(vecs, QS.PCA_TRAINED_MEAN, QS.PCA_TRAINED_COMPONENTS)
    assert X.n_exchanges(proj) == 0
    assert "Join" not in X.formatted_plan(proj)


def test_ann_index_roundtrip_topk_is_partition_pruned(spark, sf_dir, tmp_path):
    """The AnnIndex lifecycle query's search half (train → save → load
    → append → topk) must keep the facade's partition-pruning claim:
    after the append, the loaded handle's probe still reaches the scan
    as ONE PartitionFilters over `coarse_id` (r10 verdict item 1)."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.ann import AnnIndex

    path = str(tmp_path / "rt_idx")
    emb = io.read_table(spark, sf_dir, "embeddings")
    AnnIndex.train(spark, emb, path, k=4)
    idx = AnnIndex.load(spark, path)
    idx.append(
        emb.filter(F.col("vec_id") % 20 == 3).withColumn(
            "vec_id", F.col("vec_id") + F.lit(10_000_000)
        )
    )
    from apachebeamkmeans_spark.fixtures import query_vectors

    res = idx.topk(query_vectors(3), k=5, nprobe=2)
    plan = X.formatted_plan(res)
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "coarse_id" in after[1][:200]
    assert plan.count("PartitionFilters") == 1


def test_batch_topk_table_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """r11 verdict item 2: the BATCH serving path (`AnnIndex.topk_table`
    → `ivf_batch_topk`) must prune the hive-partitioned layout scan to
    the data-dependent probed cells. DPP does not fire on the
    `coarse_id == probe_cell` join shape, so the operator collects the
    ≤ k distinct probed cells (a k-row driver list — legitimate) into
    a static `coarse_id IN (...)` pushdown. Locked: a query batch that
    probes exactly one cell (rows AT a trained center, nprobe=1) must
    reach the scan as a PartitionFilters entry naming that single
    cell, and the search result over the probed cell must be intact."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.ann import AnnIndex

    path = str(tmp_path / "batch_prune_idx")
    emb = io.read_table(spark, sf_dir, "embeddings")
    idx = AnnIndex.train(spark, emb, path, k=4)
    # every query row IS a trained center -> probes only its own cell
    qtab = spark.createDataFrame(
        [(0, [float(v) for v in idx.centers[1]])],
        "qid long, qvec array<double>",
    )
    res = idx.topk_table(qtab, k=3, nprobe=1)
    plan = X.formatted_plan(res)
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "coarse_id" in after[1][:200]
    # the single probed cell appears as an equality/one-element IN —
    # never an empty PartitionFilters: []
    assert "PartitionFilters: []" not in plan
    rows = res.collect()
    assert rows and all(r["probe_cell"] == rows[0]["probe_cell"] for r in rows)


def test_pq_batch_topk_table_both_scans_partition_pruned(
    spark, sf_dir, tmp_path
):
    """The PQ tier's batch path (`ivfpq_batch_topk_indexed`) reads the
    layout TWICE — the codes scan and the refine raw-vector fetch —
    and with the r12 static probe pushdown BOTH must partition-prune
    (two non-empty PartitionFilters over coarse_id)."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.ann import AnnIndex

    path = str(tmp_path / "pq_batch_prune_idx")
    emb = io.read_table(spark, sf_dir, "embeddings")
    idx = AnnIndex.train(spark, emb, path, k=4, pq_m=8, pq_ksub=16)
    qtab = emb.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = idx.topk_table(qtab, k=3, nprobe=1, refine=20)
    plan = X.formatted_plan(res)
    assert plan.count("PartitionFilters") == 2
    assert "PartitionFilters: []" not in plan
    for chunk in plan.split("PartitionFilters")[1:]:
        assert "coarse_id" in chunk[:200]


def test_filtered_search_predicate_reaches_parquet_scan(
    spark, sf_dir, tmp_path
):
    """Filtered ANN search (r12 verdict item 7): a `where` predicate on
    a layout metadata column must land in the parquet scan as a
    PushedFilters entry — ALONGSIDE the coarse_id partition prune —
    never as a post-rank filter. Locked on both tiers; on the PQ tier
    both layout reads (codes scan + refine fetch) carry it."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.ann import AnnIndex

    emb = io.read_table(spark, sf_dir, "embeddings")

    flat = AnnIndex.train(
        spark, emb, str(tmp_path / "filt_idx"), k=4, meta_cols=("label",)
    )
    plan = X.formatted_plan(
        flat.topk([[0.1] * 64], k=3, nprobe=2, where="label = 1")
    )
    pushed = [c for c in plan.split("PushedFilters")[1:] if "label" in c[:250]]
    assert pushed, "label predicate did not reach PushedFilters"
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "coarse_id" in after[1][:200]
    # filter-then-rank: the predicate must sit under the scan, so the
    # final plan has no Filter ABOVE the window rank node
    assert "PartitionFilters: []" not in plan

    pq = AnnIndex.train(
        spark, emb, str(tmp_path / "filt_pq_idx"), k=4,
        pq_m=8, pq_ksub=16, meta_cols=("label",),
    )
    plan_pq = X.formatted_plan(
        pq.topk([[0.1] * 64], k=3, nprobe=2, refine=20, where="label = 1")
    )
    pushed_pq = [
        c for c in plan_pq.split("PushedFilters")[1:] if "label" in c[:250]
    ]
    assert len(pushed_pq) >= 2, (
        "label predicate must reach BOTH PQ layout reads"
    )


def test_maxsim_is_single_scan_whole_stage(spark, sf_dir):
    """r13: MaxSim late-interaction retrieval must stay one narrow scan
    (no join, no Python nodes) with exactly the one window shuffle.
    The score expressions are compact HOFs by design: the fully
    unrolled form blew janino's 64 KB method limit and the WHOLE stage
    fell back to interpreted evaluation (4-6 s vs 1.25 s measured) —
    HOFs don't codegen either, but they keep the surrounding stage
    compilable and the plan three orders of magnitude smaller."""
    from apachebeamkmeans_spark import queries_similarity as QS
    from apachebeamkmeans_spark.operators import similarity as SIM

    res = SIM.maxsim_topk(
        io.load_points(spark, sf_dir), QS.MAXSIM_QUERIES, 10, 64
    )
    plan = X.formatted_plan(res)
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert X.n_exchanges(res) == 1  # the per-qid window only


def test_binary_hamming_rerank_joins_broadcast_shortlist(spark, sf_dir):
    """r13: the binary tier's exact rerank must fetch features via a
    BROADCAST join against the k-row-class shortlist (never a shuffle
    of the corpus), and the screening scan must read only id +
    embedding (the code words derive from it in-plan)."""
    from apachebeamkmeans_spark import queries_similarity as QS
    from apachebeamkmeans_spark.operators import similarity as SIM

    res = SIM.binary_hamming_topk(
        io.load_points(spark, sf_dir), QS.QUERY_VECS, 10, 50
    )
    plan = X.formatted_plan(res)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_fuzzy_pairs_aggregate_before_join(spark, sf_dir):
    """r13: fuzzy_name_pairs must collapse to the distinct-name domain
    BEFORE the pair join (partial aggregation on the scan side), so the
    quadratic stage runs on name cardinality, not row count."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.operators import dedup as DD

    res = DD.fuzzy_name_pairs(
        io.read_table(spark, sf_dir, "part"), "p_name",
        F.element_at(F.split(F.col("name"), " "), -1), 2,
    )
    plan = X.formatted_plan(res)
    # two partial_count HashAggregates (one per join side) before the join
    assert plan.count("partial_count") >= 2
    assert "CartesianProduct" not in plan


def test_hybrid_indexed_vector_side_partition_pruned(spark, sf_dir):
    """r13 (+r14): BOTH of the indexed hybrid's sides must keep their
    serve layouts' partition-pruning claims INSIDE the fused plan —
    the probed cells reach the IVF scan as PartitionFilters on
    coarse_id, the query terms reach the postings scan as
    PartitionFilters on tbucket, and no corpus tokenize survives
    (the text side reads the persisted index, not documents)."""
    from apachebeamkmeans_spark import queries_sim_serving as QSS

    res = QSS.q_hybrid_search_indexed(spark, sf_dir)
    plan = X.formatted_plan(res)
    assert "coarse_id" in "".join(plan.split("PartitionFilters")[1:])
    assert "tbucket" in "".join(plan.split("PartitionFilters")[1:])
    assert plan.count("PartitionFilters") >= 2
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
