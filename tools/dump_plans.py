"""Regenerate PLANS.md: formatted physical plans of the flagship
queries with the scale-critical properties annotated.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apachebeamkmeans_spark.plans import explain as X
from apachebeamkmeans_spark.queries_events import RETIRED_QUERIES
from apachebeamkmeans_spark.registry import all_queries
from apachebeamkmeans_spark.session import get_spark

SHOWCASE = {
    "kmeans_assign": "shuffle-free narrow argmin map (the reference's J1 'join')",
    "kmeans_recenter": "single partial-aggregated shuffle (vs reference groupByKey)",
    "q1_pricing_summary": "filter pushdown + column pruning + partial aggregation",
    "q3_top_revenue_orders": "broadcast dimension join + one fact-fact shuffle + TakeOrdered",
    "dedup_minhash_pairs": "banded LSH self-join over cached signatures",
    "events_sessions": "key-partitioned windows (no global sort)",
    "sim_topk_bruteforce": "single scan, all query cosines per row, per-query rank",
    "events_range_join": "binned range join: equi hash join on (key, bucket), no per-key nested loop",
    "events_sliding": "hopping windows: map-side row expansion before partial agg",
    "sql_udf_norms": "SQL UDF bodies inlined by Catalyst (no python, one codegen span)",
    # round 2
    "q4_priority_returns": "EXISTS as left_semi: probe side never widens, both scans pruned",
    "q6_revenue_delta": "every predicate pushed to the parquet scan; scan -> partial agg -> 1-row exchange",
    "bucketed_join_revenue": "co-located bucketed fact-fact join: zero join-side Exchange, no Sort",
    "sim_range_search": "threshold retrieval as a pure narrow map: 0 Exchanges, no window",
    "dedup_embedding_pairs": "salted bucket self-join: hot buckets grid-split, shuffle (merge) join spreads cells",
    "pack_sequences": "per-shard window cumsum: sort within hash shards only, no global order",
    # round 5
    "sim_ivfpq_trained": "trained IVF-PQ serving: coarse-cell prune -> ADC (m byte-lookups/row) shortlist -> exact cosine on refine rows only (FAISS search shape)",
    "user_session_counts": "gaps-and-islands session counts: key-partitioned windows, no global sort (batch twin of the applyInPandasWithState stream)",
    "events_zorder_layout": "Morton interleave as pure bitwise codegen: one narrow map + one partial-agg shuffle, no UDF",
    "sim_knn_graph": "corpus-wide KNN: in-query-trained quantizer, cells/nprobe derived from n (round(sqrt(n)) / ceil(sqrt(0.5k))), salted grid self-join, normalize-once then one unrolled dot per pair",
    "inverted_index": "distinct-before-explode (per-doc dedup inside codegen, pre-shuffle); posting sample bounded BEFORE the agg via map-side WindowGroupLimit (state O(50), never O(df))",
    # round 6
    "cdc_scd2": "SCD2 MERGE set-based: union of open/close change events -> ONE per-key window (lead assigns validity, row_number versions), single shuffle on doc_id",
    "sim_ivfpq_residual": "residual IVF-PQ: per-(query,cell) shifted ADC LUTs as a BROADCAST table (join doubles as probe filter + fan-out), narrow code rows, broadcast exact refine",
    "events_quantiles_approx": "mergeable percentile sketch + exact rank envelope in ONE partial-agg pass; verdict booleans are the only output",
    "events_gapfill": "calendar densify: spine exploded from per-type bound rows (events never re-shuffle), left join + forward-fill window",
    "weighted_sample": "Efraimidis-Spirakis race as TakeOrderedAndProject: weighted k-of-n with no global sort, no RNG state",
    "doc_chunks": "overlapping chunking as pure codegen sequence+posexplode narrow map; chunk ships as md5+length, never payload",
    "lineitem_column_stats": "ANALYZE in one pass: all per-column aggs map-side-combined, unpivot via explode of struct literals",
    "disjunctive_revenue": "Q19 shape: Catalyst decomposes the OR-of-ANDs per table - quantity arm pushed to the lineitem scan, brand/size arm to the part scan (plan-locked)",
    "doc_tree_depth": "WITH RECURSIVE ancestor chains: shrinking-frontier self-join, O(log n) rounds",
    # round 6 second wave
    "text_unigram_logprob": "self-trained unigram LM score: vocab-sized probability table BROADCAST onto the token-instance join (stopword hot keys never shuffle), total count attached as a 1-row scalar",
    "events_interpolate": "linear lerp resample: ONE Window node evaluates both neighbor frames (UNBOUNDED PRECEDING + FOLLOWING share key and sort), spine exploded from per-type bound rows",
    "bpe_pair_stats": "BPE merge-round count: shifted-slice zip builds pairs in one narrow codegen pass, map-side-combined count, TakeOrdered top-30",
    "sim_curation_pipeline": "embedding-curation capstone in ONE plan: shared memoized quantizer assign -> salted within-cell shadow pairs -> anti-prune filter -> WindowGroupLimit coverage selection",
    # round 8
    "q9_parttype_profit": "real TPC-H Q9: derived-partsupp composite-key join (distinct pair backfill), all dims broadcast, integer-cents partial agg",
    "q21_waiting_suppliers": "dual correlated EXISTS/NOT EXISTS as semi/anti HASH joins on orderkey with supplier-inequality residuals",
    "exact_substring_runs": "exact cross-doc substrings: stride-1 window hashes checkpointed once, dup-hash set broadcast back, islands-and-gaps run consolidation per doc",
    "q8_market_share": "Q8 conditional share: every dim broadcast, CASE-cents numerator and denominator in one partial agg",
    # round 9
    "pipeline_facade": "CurationPipeline library capstone: exact-dedup window + LSH near-dedup + components + lang gate + summary composed into ONE plan — loser sets broadcast into LeftAnti joins, shared one-tokenize signature/set frames, no cartesian anywhere",
    # round 11
    "sim_ivf_batch_topk": "query-TABLE IVF search: in-plan probe argsort per query row (one mapInArrow of the nearest-center kernel), ONE join on coarse_id against the partitioned layout, per-qid WindowGroupLimit — no cartesian",
    "sim_ivfpq_batch_topk": "query-TABLE IVF-PQ: each query row's pq_encode_lut distance matrix doubles as its ADC table, candidates ride as m codes vs m*ksub LUT doubles, exact dot for refine rows only",
    "ann_index_pq_roundtrip": "AnnIndex PQ tier end-to-end: partition-pruned ADC scan over stored codes (PartitionFilters on coarse_id), broadcast shortlist, exact refine re-reads raw vectors from the same pruned directories",
    # round 13 second wave
    "sim_maxsim_topk": "late-interaction MaxSim: ONE narrow scan, per-row slice norms staged once, compact HOF score expressions (unrolled form blew janino's 64 KB limit), posexplode + one per-qid window — no join, no Python",
    "sim_binary_hamming": "binary tier: sign codes derived in-plan (production persists sign_codes at 16 B/row), XOR+popcount screen + window shortlist, exact cosine only AFTER the broadcast semi-join",
    "fuzzy_part_pairs": "blocked edit-distance resolution: partial-agg collapse to the distinct-name domain BEFORE the block self-join, bounded levenshtein verify — quadratic stage runs on name cardinality",
    "passage_topk": "RAG passage selection: sequence+posexplode chunk fan-out, per-(query,doc) argmax window then per-query rank — no join",
    "retrieval_mrr": "MRR@k eval: BM25 ranking and conjunctive relevance both read ONE staged tokenize (localCheckpoint), k-row ranking broadcast onto the relevance scan",
    # round 14
    "text_bm25_indexed": "BM25 off the PERSISTED inverted index: postings scan pruned to the query terms' tbucket partitions (PartitionFilters) with the term filter pushed, per-term pivot + left-associated query sums — no corpus tokenize anywhere in the plan",
    "retrieval_ndcg": "nDCG@k eval: k hit-booleans per qid (integer agg), DCG/IDCG as fixed-order chains of plan-time log2 literals — no engine-evaluated transcendental",
    "hybrid_search_indexed": "production hybrid, BOTH sides indexed: partition-pruned IVF scan (coarse_id) ⊕ partition-pruned postings scan (tbucket), RRF-fused — corpus-size-free serve plan",
    # round 15
    "sim_maxsim_indexed": "ColBERT/PLAID serving: per-query-token probes over the persisted TOKEN-level index (coarse_id PartitionFilters), parent-doc union, exact HOF MaxSim only on the shortlist — full-scan law broken, no Python",
    "text_bm25_batch": "query-TABLE BM25 serve: distinct terms collected k-row-class into the postings scan's PartitionFilters + pushed term filter, broadcast query join, sorted-term left-associated fold — never a bare float SUM",
    "hybrid_search_filtered": "filtered hybrid: source-IN predicate inside the pruned postings scan ⊕ label predicate inside the pruned IVF scan (filter-then-rank, stats stay global), RRF-fused",
}


def main() -> None:
    spark = get_spark("dump-plans")
    sf_dir = "/root/testdata/sf0.01"
    # retired queries keep their showcase plans (they stay value-proven)
    queries = {**all_queries(), **RETIRED_QUERIES}
    out = [
        "# PLANS — physical-plan evidence for the flagship operators",
        "",
        "Auto-generated by `python tools/dump_plans.py` at sf0.01; the",
        "properties below are locked in by `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = queries[name][0](spark, sf_dir)
        plan = X.formatted_plan(df)
        n_ex = X.n_exchanges(df)
        out += [
            f"## {name}",
            "",
            f"*{why}* — {n_ex} Exchange(s) in plan.",
            "",
            "```",
            plan.strip()[:4000],
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
