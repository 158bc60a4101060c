"""Command-line entry point — the reference's user surface.

The reference programs are `main()`s driven by `--key=value` args
mutating `Point` statics (SparKMeansGroupBy.java:30-54):
  --input= --output= --k= --paradigm= --threshold= --max_iteration=
  --time_file= --iteration_file=
plus the experiment repeat loop (×10, SparKMeansGroupBy.java:56-57).

This CLI accepts the same vocabulary (spelled as normal flags, with
the reference's `--key=value` form also accepted), adds `--init` to
select any of the six seeding strategies and `--seed` for
reproducibility, and writes the same three outputs:
  - result file(s): one line per cluster `center_id:id1;id2;...;`
  - time file: wall seconds per experiment (per-run timers — the
    reference accidentally recorded cumulative times, SURVEY.md §8.8)
  - iteration file: Lloyd iterations per experiment

Usage:
  python -m apachebeamkmeans_spark.cli --input data.txt --output out \
      --k 4 --paradigm 2 --threshold 1e-4 --max_iteration 20 \
      --init plusplus --seed 42 --experiments 1

Beyond the reference surface, a `curate` subcommand runs the
CurationPipeline library facade end-to-end from the shell (the
K-Means vocabulary above stays flag-compatible — `curate` only
engages as a leading literal):

  python -m apachebeamkmeans_spark.cli curate \
      --input docs.parquet --output survivors \
      --exact-dedup --near-dedup --quality-gate --min-chars 30 \
      --langs en --summary-file summary.json

and an `ann` subcommand gives the AnnIndex facade the same shell
surface (r11 verdict item 7 — `curate` is CurationPipeline's shell,
`ann` is AnnIndex's):

  python -m apachebeamkmeans_spark.cli ann train \
      --embeddings emb.parquet --index-path /data/idx [--pq-m 8]
  python -m apachebeamkmeans_spark.cli ann append \
      --embeddings new.parquet --index-path /data/idx
  python -m apachebeamkmeans_spark.cli ann compact --index-path /data/idx
  python -m apachebeamkmeans_spark.cli ann delete \
      --index-path /data/idx --where "label = 9"
  python -m apachebeamkmeans_spark.cli ann retrain \
      --index-path /data/idx [--k 32] [--strategy pointer]
  python -m apachebeamkmeans_spark.cli ann search \
      --index-path /data/idx --queries q.parquet --output hits \
      [--where "label = 1"]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from apachebeamkmeans_spark.operators.kmeans import KMeans, KMeansParams
from apachebeamkmeans_spark.session import get_spark
from apachebeamkmeans_spark.sources import io


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="apachebeamkmeans_spark",
        description="Distributed K-Means over point files (text/CSV/parquet).",
    )
    p.add_argument("--input", required=True, help="points file: text lines 'x1,x2,...' or parquet dir")
    p.add_argument("--output", required=True, help="output directory for cluster text files")
    p.add_argument("--k", type=int, default=4)
    p.add_argument("--paradigm", type=float, default=2.0,
                   help="Minkowski distance order p (1=Manhattan, 2=Euclidean)")
    p.add_argument("--threshold", type=float, default=1e-4)
    p.add_argument("--max_iteration", type=int, default=20)
    p.add_argument("--init", default="random",
                   choices=["random", "plusplus", "init_max", "init_min",
                            "max_farthest", "max_farthest_manhattan"])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--weight", default="d2", choices=["d", "d2"],
                   help="k-means++ roulette weight (reference used D; classic is D²)")
    p.add_argument("--experiments", type=int, default=1,
                   help="repeat count (reference ran 10)")
    p.add_argument("--time_file", default=None)
    p.add_argument("--iteration_file", default=None)
    return p


def build_curate_parser() -> argparse.ArgumentParser:
    """The CurationPipeline facade as a shell surface: each stage is
    an opt-in flag, applied in the pipeline's canonical order
    (exact → near → substrings → semantic → coverage → quality →
    contamination → pack). Stage parameters mirror the library
    defaults; the embedding stages share ONE trained quantizer
    (`CurationPipeline.train_quantizer`) exactly like the library
    docstring recommends."""
    p = argparse.ArgumentParser(
        prog="apachebeamkmeans_spark curate",
        description="Run the document-curation pipeline over a parquet corpus.",
    )
    p.add_argument("--input", required=True,
                   help="documents parquet with (doc_id, text, ...)")
    p.add_argument("--output", required=True,
                   help="output parquet dir: survivors, or the packed layout with --pack")
    p.add_argument("--exact-dedup", action="store_true")
    p.add_argument("--near-dedup", action="store_true")
    p.add_argument("--jaccard", type=float, default=0.5,
                   help="near-dedup verify threshold")
    p.add_argument("--bands", type=int, default=8)
    p.add_argument("--shingle", type=int, default=3)
    p.add_argument("--purge-substrings", action="store_true")
    p.add_argument("--min-run", type=int, default=None,
                   help="substring purge: minimal verbatim run length")
    p.add_argument("--embeddings", default=None,
                   help="embeddings parquet aligned with doc_id (enables --semantic-dedup / --coverage-select)")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--semantic-dedup", action="store_true")
    p.add_argument("--tau", type=float, default=0.35)
    p.add_argument("--coverage-select", action="store_true")
    p.add_argument("--per-cell", type=int, default=2)
    p.add_argument("--quality-gate", action="store_true")
    p.add_argument("--min-chars", type=int, default=30)
    p.add_argument("--langs", default="en",
                   help="comma-separated predicted-language allowlist; '' disables the language rule")
    p.add_argument("--model-gate", action="store_true",
                   help="train the quality classifier on the input corpus and keep docs with keep-probability >= --min-p (self-distillation of the heuristic gate)")
    p.add_argument("--min-p", type=float, default=0.5)
    p.add_argument("--model-path", default=None, metavar="DIR",
                   help="with --model-gate: load the trained gate model from "
                        "DIR if it exists, else fit and save it there — so "
                        "repeated runs reuse one fit and the gate can come "
                        "from a reference snapshot (the library guidance in "
                        "CurationPipeline.model_gate)")
    p.add_argument("--contamination-gate", default=None, metavar="BENCH_PARQUET",
                   help="benchmark parquet with (doc_id, text); docs sharing n-grams with it are dropped")
    p.add_argument("--max-shared", type=int, default=0)
    p.add_argument("--pack", action="store_true",
                   help="emit the packed (doc_id, shard, n_tokens, bin_id) layout instead of survivors")
    p.add_argument("--ctx-len", type=int, default=256)
    p.add_argument("--n-shards", type=int, default=8)
    p.add_argument("--summary-file", default=None,
                   help="write the per-(lang, source) doc/char accounting as one JSON file")
    return p


def build_ann_parser() -> argparse.ArgumentParser:
    """AnnIndex's shell surface — one verb per facade method, with
    `--index-path` playing the role `--model-path` plays for `curate`:
    train persists the layout + sidecar there, append/search load it
    back (a session that never trained can serve)."""
    p = argparse.ArgumentParser(
        prog="apachebeamkmeans_spark ann",
        description="Train, grow, and search a persisted ANN (IVF / IVF-PQ) index.",
    )
    sub = p.add_subparsers(dest="action", required=True)

    t = sub.add_parser(
        "train", help="train quantizer(s), materialize layout + sidecar"
    )
    t.add_argument("--embeddings", required=True,
                   help="embeddings parquet with (id, vector) columns")
    t.add_argument("--index-path", required=True,
                   help="directory for the partitioned layout + _ann_params sidecar")
    t.add_argument("--k", type=int, default=None,
                   help="coarse cells (default: the FAISS √n rule)")
    t.add_argument("--iters", type=int, default=5, help="Lloyd iterations")
    t.add_argument("--pq-m", type=int, default=None,
                   help="PQ subspaces — switches the index to the IVF-PQ tier")
    t.add_argument("--pq-ksub", type=int, default=16,
                   help="PQ centroids per subspace")
    t.add_argument("--id-col", default="vec_id")
    t.add_argument("--vec-col", default="embedding")
    t.add_argument("--meta-cols", default=None,
                   help="comma-separated metadata columns stored in the "
                        "layout for filtered search (search --where)")

    a = sub.add_parser(
        "append", help="coarse-assign (and PQ-encode) a batch into the layout"
    )
    a.add_argument("--embeddings", required=True)
    a.add_argument("--index-path", required=True)
    a.add_argument("--id-col", default="vec_id")
    a.add_argument("--vec-col", default="embedding")

    c = sub.add_parser(
        "compact",
        help="rewrite an append-fragmented layout to one file per cell",
    )
    c.add_argument("--index-path", required=True)
    c.add_argument("--strategy", default="auto",
                   choices=("auto", "rename", "pointer"),
                   help="generation publish: posix rename (local) or "
                        "catalog-pointer flip (any filesystem)")
    c.add_argument("--retain", type=int, default=0,
                   help="pointer publish: superseded generations kept "
                        "as a reader grace window")
    c.add_argument("--if-tombstone-sidecars", type=int, default=None,
                   help="pressure gate (r17): compact only when the "
                        "committed tombstone sidecar count exceeds N "
                        "(every serve opens every sidecar)")
    c.add_argument("--if-tombstone-rows", type=int, default=None,
                   help="pressure gate: compact only when total dead "
                        "vec_ids exceed N (commit-recorded counts)")
    c.add_argument("--if-tombstone-frac", type=float, default=None,
                   help="pressure gate: compact only when dead/physical "
                        "rows exceed F (one column-pruned count job)")

    u = sub.add_parser(
        "upsert",
        help="replace-by-id: delete existing rows with the batch's ids, "
             "append the batch (re-embedding refresh)",
    )
    u.add_argument("--embeddings", required=True)
    u.add_argument("--index-path", required=True)
    u.add_argument("--id-col", default="vec_id")
    u.add_argument("--vec-col", default="embedding")

    d = sub.add_parser(
        "delete",
        help="delete rows matching a predicate (partition-scoped "
             "rewrite of only the cells containing matches)",
    )
    d.add_argument("--index-path", required=True)
    d.add_argument("--where", required=True,
                   help="SQL predicate over vec_id / metadata columns")
    d.add_argument("--tombstone", action="store_true",
                   help="delete logically (sidecar, no cell rewrite — "
                        "flat cost; serving anti-joins; compact/"
                        "retrain apply physically)")

    rt = sub.add_parser(
        "retrain",
        help="rebuild for the grown corpus: retrain quantizer(s) over "
             "the current contents, rewrite + publish a new generation",
    )
    rt.add_argument("--index-path", required=True)
    rt.add_argument("--k", type=int, default=None,
                    help="new coarse cell count (default: √n over the "
                         "grown corpus)")
    rt.add_argument("--iters", type=int, default=5, help="Lloyd iterations")
    rt.add_argument("--strategy", default="auto",
                    choices=("auto", "rename", "pointer"))
    rt.add_argument("--retain", type=int, default=0,
                    help="pointer publish: superseded generations kept "
                         "as a reader grace window")

    st = sub.add_parser(
        "stats", help="per-cell occupancy (index health / retrain signal)"
    )
    st.add_argument("--index-path", required=True)

    s = sub.add_parser(
        "search", help="batch top-k over a query parquet (AnnIndex.topk_table)"
    )
    s.add_argument("--index-path", required=True)
    s.add_argument("--queries", required=True,
                   help="query parquet with (qid, qvec) columns")
    s.add_argument("--output", required=True,
                   help="output parquet: (qid, probe_cell, vec_id, cosine, rank)")
    s.add_argument("--k", type=int, default=5)
    s.add_argument("--nprobe", type=int, default=2)
    s.add_argument("--refine", type=int, default=50,
                   help="PQ tier: ADC shortlist size re-ranked exactly")
    s.add_argument("--qid-col", default="qid")
    s.add_argument("--qvec-col", default="qvec")
    s.add_argument("--where", default=None,
                   help="SQL predicate over the layout's metadata "
                        "columns (filter-then-rank filtered search)")
    return p


def build_retrieve_parser() -> argparse.ArgumentParser:
    """The retrieval family as a shell surface — one verb per ranking
    function (keyword / vector / fused / late-interaction / binary),
    mirroring `curate` and `ann`: each verb equals the library call it
    names and writes its ranked hits to parquet."""
    p = argparse.ArgumentParser(
        prog="apachebeamkmeans_spark retrieve",
        description="Rank documents/vectors: bm25 (live or off a "
                    "persisted index, optionally impact-pruned), "
                    "vector, hybrid (RRF), maxsim, binary; `index` "
                    "builds and maintains the BM25 serving index "
                    "(build/append/upsert/delete/compact).",
    )
    sub = p.add_subparsers(dest="action", required=True)

    def common(sp, docs=False, vecs=False):
        if docs:
            sp.add_argument("--docs", required=True,
                            help="documents parquet with (doc_id, text)")
        if vecs:
            sp.add_argument("--embeddings", required=True,
                            help="embeddings parquet with (id, vector)")
            sp.add_argument("--id-col", default="vec_id")
            sp.add_argument("--vec-col", default="embedding")
        sp.add_argument("--k", type=int, default=10)
        sp.add_argument("--output", required=True,
                        help="output parquet of ranked hits")

    b = sub.add_parser("bm25", help="BM25 keyword ranking")
    b.add_argument("--terms", required=True,
                   help="comma-separated query terms")
    b.add_argument("--docs",
                   help="documents parquet with (doc_id, text) — "
                        "live scoring (tokenizes the corpus)")
    b.add_argument("--index",
                   help="persisted BM25 index dir (see `retrieve "
                        "index`) — partition-pruned serving; exactly "
                        "one of --docs/--index")
    b.add_argument("--where",
                   help="SQL predicate over the index's metadata "
                        "columns (requires --index): filters "
                        "candidates, keeps global stats")
    b.add_argument("--prune-df-frac", type=float, default=None,
                   help="impact-ordered early termination (requires "
                        "--index): terms with df >= FRAC*n keep only "
                        "posting rows with tf/dl >= --prune-min-impact "
                        "(bounded understatement; selective terms "
                        "stay exact)")
    b.add_argument("--prune-min-impact", type=float, default=0.0,
                   help="the tf/dl cutoff for pruned terms")
    b.add_argument("--wand", action="store_true",
                   help="EXACT Block-Max WAND serving (requires "
                        "--index and both prune knobs): θ-pass over "
                        "the impact-pruned head, candidate-only "
                        "rescore of the pruned tails — bit-identical "
                        "results at near-pruned cost; per-query "
                        "fallback to the exact serve when the bound "
                        "cannot exclude unseen docs")
    common(b)

    ix = sub.add_parser(
        "index", help="build or grow the persisted BM25 serving index"
    )
    ix.add_argument("verb", nargs="?", default=None,
                    choices=("build", "append", "upsert", "compact",
                             "delete"),
                    help="lifecycle verb — the same vocabulary as the "
                         "`ann` CLI (r16 symmetry); the legacy flag "
                         "forms (--append/--upsert/--compact/"
                         "--delete-*) remain equivalent")
    ix.add_argument("--docs",
                    help="documents parquet with (doc_id, text) — "
                         "required except with --compact")
    ix.add_argument("--meta-cols", default="",
                    help="comma-separated doc columns to denormalize "
                         "onto postings (enables --where at serve); "
                         "ignored with --append (the commit file's "
                         "recorded meta_cols apply)")
    ix.add_argument("--append", action="store_true",
                    help="append the batch (NEW doc_ids) as a fresh "
                         "segment instead of rebuilding")
    ix.add_argument("--upsert", action="store_true",
                    help="replace-or-insert the batch by doc_id "
                         "(one row per doc_id; atomic commit swap)")
    ix.add_argument("--compact", action="store_true",
                    help="merge committed segments into one "
                         "(maintenance; no --docs)")
    ix.add_argument("--delete-ids", default=None,
                    help="comma-separated doc_ids to delete "
                         "(maintenance; no --docs)")
    ix.add_argument("--delete-where", default=None,
                    help="SQL predicate over doc_id/meta columns — "
                         "any matching posting row deletes that doc "
                         "everywhere (maintenance; no --docs)")
    ix.add_argument("--tombstone", action="store_true",
                    help="delete logically (tombstone sidecar, no "
                         "segment rewrite — flat cost; serving stays "
                         "exact; compact applies physically)")
    ix.add_argument("--if-segments", type=int, default=None,
                    help="pressure gate for --compact (r17): run only "
                         "when the committed segment count exceeds N")
    ix.add_argument("--if-tombstone-sidecars", type=int, default=None,
                    help="pressure gate for --compact: run only when "
                         "the tombstone sidecar count exceeds N "
                         "(every serve opens every sidecar)")
    ix.add_argument("--if-tombstone-frac", type=float, default=None,
                    help="pressure gate for --compact: run only when "
                         "dead/committed docs exceed F "
                         "(commit-recorded counts, no sidecar read)")
    ix.add_argument("--index", required=True,
                    help="index directory")

    v = sub.add_parser("vector", help="exact cosine top-k")
    v.add_argument("--qvec", required=True,
                   help="comma-separated query vector")
    common(v, vecs=True)

    h = sub.add_parser("hybrid", help="keyword ⊕ vector RRF fusion")
    h.add_argument("--terms", required=True)
    h.add_argument("--qvec", required=True)
    h.add_argument("--per-side", type=int, default=50)
    h.add_argument("--docs",
                   help="documents parquet — live brute-force hybrid; "
                        "with --embeddings for the vector side")
    h.add_argument("--bm25-index",
                   help="persisted BM25 index (see `retrieve index`) — "
                        "indexed hybrid; pair with --ann-index")
    h.add_argument("--ann-index",
                   help="persisted AnnIndex dir (see `ann train`) — "
                        "indexed hybrid; pair with --bm25-index")
    h.add_argument("--nprobe", type=int, default=2,
                   help="probed cells on the indexed vector side")
    h.add_argument("--embeddings",
                   help="embeddings parquet (live vector side)")
    h.add_argument("--id-col", default="vec_id")
    h.add_argument("--vec-col", default="embedding")
    h.add_argument("--k", type=int, default=10)
    h.add_argument("--output", required=True,
                   help="output parquet of ranked hits")

    m = sub.add_parser("maxsim", help="late-interaction MaxSim top-k")
    m.add_argument("--qtoks", required=True,
                   help="semicolon-separated token vectors, each a "
                        "comma-separated float list")
    common(m, vecs=True)

    bh = sub.add_parser(
        "binary", help="sign-code Hamming screen + exact rerank"
    )
    bh.add_argument("--qvec", required=True)
    bh.add_argument("--shortlist", type=int, default=50)
    common(bh, vecs=True)
    return p


def retrieve_main(argv: list[str], spark=None) -> int:
    args = build_retrieve_parser().parse_args(argv)
    owns_session = spark is None
    if owns_session:
        spark = get_spark("abk-retrieve-cli")
    try:
        return _retrieve_run(args, spark)
    finally:
        if owns_session:
            spark.stop()


def _parse_vec(s: str) -> list[float]:
    return [float(x) for x in s.split(",") if x.strip()]


def _retrieve_run(args, spark) -> int:
    from apachebeamkmeans_spark.operators import similarity as SIM
    from apachebeamkmeans_spark.operators import textindex as TI
    from apachebeamkmeans_spark.operators import textstats as TX

    def points():
        from pyspark.sql import functions as F

        return spark.read.parquet(args.embeddings).select(
            F.col(args.id_col).alias("id"),
            F.col(args.vec_col).cast("array<double>").alias("features"),
        )

    if args.action == "index":
        # verb-positional form (r16: the `ann` CLI's vocabulary) maps
        # onto the flag form; a verb that contradicts a flag is loud
        if args.verb is not None:
            flag_verb = (
                "compact" if args.compact else
                "delete" if (args.delete_ids is not None
                             or args.delete_where is not None) else
                "upsert" if args.upsert else
                "append" if args.append else None
            )
            if flag_verb is not None and flag_verb != args.verb:
                raise ValueError(
                    f"retrieve index: verb {args.verb!r} contradicts "
                    f"the --{flag_verb} flag form — pass one or the other"
                )
            if args.verb == "delete" and args.delete_ids is None \
                    and args.delete_where is None:
                raise ValueError(
                    "retrieve index delete: pass --delete-ids or "
                    "--delete-where"
                )
            args.append = args.verb == "append"
            args.upsert = args.verb == "upsert"
            args.compact = args.verb == "compact"
        deleting = args.delete_ids is not None or args.delete_where is not None
        maint = args.compact or deleting
        if sum(map(bool, (args.append, args.upsert, args.compact,
                          deleting))) > 1:
            raise ValueError(
                "retrieve index: --append/--upsert/--compact/--delete-* "
                "are mutually exclusive"
            )
        if maint and args.docs:
            raise ValueError(
                "retrieve index: --compact/--delete-* take no --docs"
            )
        if args.tombstone and not deleting:
            raise ValueError(
                "retrieve index: --tombstone requires --delete-ids or "
                "--delete-where"
            )
        if not maint and not args.docs:
            raise ValueError("retrieve index: --docs is required")
        if (args.append or args.upsert or maint) and not (
            TI.bm25_index_exists(args.index)
        ):
            raise ValueError(
                f"retrieve index: no committed index at {args.index} "
                f"(build one first without --append/--upsert/"
                f"--compact/--delete-*)"
            )
        extra = ""
        gates = (args.if_segments, args.if_tombstone_sidecars,
                 args.if_tombstone_frac)
        if any(g is not None for g in gates) and not args.compact:
            raise ValueError(
                "retrieve index: --if-segments/--if-tombstone-* are "
                "pressure gates for --compact only"
            )
        if args.compact:
            verb = "compact"
            if any(g is not None for g in gates):
                why = TI.bm25_index_compact_on_pressure(
                    spark, args.index,
                    segment_threshold=args.if_segments,
                    tombstone_sidecars=args.if_tombstone_sidecars,
                    tombstone_frac=args.if_tombstone_frac,
                )
                extra = (f" (pressure: {why})" if why
                         else " (no pressure — skipped)")
            else:
                TI.bm25_index_compact(spark, args.index)
        elif deleting:
            verb = "delete"
            dmode = "tombstone" if args.tombstone else "rewrite"
            if args.delete_ids is not None:
                n_del = TI.bm25_index_delete(
                    spark, args.index,
                    doc_ids=[int(d) for d in args.delete_ids.split(",")
                             if d.strip()],
                    mode=dmode,
                )
            else:
                n_del = TI.bm25_index_delete(
                    spark, args.index, where=args.delete_where, mode=dmode,
                )
            extra = f", {n_del} doc(s) deleted ({dmode})"
        elif args.upsert:
            verb = "upsert"
            n_rep = TI.bm25_index_upsert(
                spark.read.parquet(args.docs), args.index
            )
            extra = f", {n_rep} doc(s) replaced"
        elif args.append:
            verb = "append"
            TI.bm25_index_append(spark.read.parquet(args.docs), args.index)
        else:
            verb = "build"
            meta = tuple(
                c.strip() for c in (args.meta_cols or "").split(",")
                if c.strip()
            )
            TI.bm25_index_build(
                spark.read.parquet(args.docs), args.index, meta_cols=meta
            )
        commit = TI._bm25_read_commit(args.index)
        n = sum(s["n"] for s in commit["segments"])
        print(f"retrieve index {verb}: {len(commit['segments'])} "
              f"segment(s), {n} docs{extra} -> {args.index}")
        return 0
    if args.action == "bm25":
        terms = [t.strip() for t in args.terms.split(",") if t.strip()]
        if bool(args.docs) == bool(args.index):
            raise ValueError(
                "retrieve bm25: pass exactly one of --docs (live "
                "scoring) or --index (persisted index serving)"
            )
        if args.where and not args.index:
            raise ValueError("retrieve bm25: --where requires --index")
        if args.prune_df_frac is not None and not args.index:
            raise ValueError(
                "retrieve bm25: --prune-df-frac requires --index"
            )
        # the engine's prune gate needs BOTH knobs (df threshold picks
        # the terms, impact cutoff drops their rows) — one without the
        # other silently serves EXACT results while the user believes
        # pruning is active (ADVICE r15)
        if (args.prune_df_frac is not None) != (args.prune_min_impact > 0.0):
            raise ValueError(
                "retrieve bm25: impact pruning needs BOTH "
                "--prune-df-frac and a positive --prune-min-impact — "
                "passing only one would silently serve exact "
                "(unpruned) results"
            )
        if args.wand:
            # WAND is the PRUNE-driven mode: without the knobs there
            # is no head/tail split and the serve degenerates to one
            # exact pass plus overhead — make that a loud error, not
            # a silently slower exact serve (the prune-pair rule)
            if not args.index or args.prune_df_frac is None:
                raise ValueError(
                    "retrieve bm25: --wand requires --index and both "
                    "prune knobs (--prune-df-frac / --prune-min-impact)"
                )
            if args.where:
                raise ValueError(
                    "retrieve bm25: --wand and --where are exclusive "
                    "(the θ bound holds over the unfiltered corpus)"
                )
            hits = TI.bm25_indexed_topk_wand(
                spark, args.index, [terms], args.k,
                prune_df_frac=args.prune_df_frac,
                prune_min_impact=args.prune_min_impact,
            )
        elif args.index:
            hits = TI.bm25_indexed_topk(
                spark, args.index, [terms], args.k, where=args.where,
                prune_df_frac=args.prune_df_frac,
                prune_min_impact=args.prune_min_impact,
            )
        else:
            hits = TX.bm25_topk(spark.read.parquet(args.docs), [terms], args.k)
    elif args.action == "vector":
        hits = SIM.cosine_topk(points(), [_parse_vec(args.qvec)], args.k)
    elif args.action == "hybrid":
        terms = [t.strip() for t in args.terms.split(",") if t.strip()]
        indexed = bool(args.bm25_index or args.ann_index)
        if indexed:
            if not (args.bm25_index and args.ann_index):
                raise ValueError(
                    "retrieve hybrid: the indexed form needs BOTH "
                    "--bm25-index and --ann-index"
                )
            from pyspark.sql import functions as F

            from apachebeamkmeans_spark.ann import AnnIndex

            tranked = TI.bm25_indexed_topk(
                spark, args.bm25_index, [terms], args.per_side
            ).select(
                "qid", F.col("doc_id").alias("id"),
                F.col("rank").alias("text_rank"),
            )
            vranked = AnnIndex.load(spark, args.ann_index).topk(
                [_parse_vec(args.qvec)], k=args.per_side,
                nprobe=args.nprobe,
            ).select(
                "qid", F.col("vec_id").alias("id"),
                F.col("rank").alias("vec_rank"),
            )
            hits = SIM.rrf_fuse(tranked, vranked, args.k)
        else:
            if not (args.docs and args.embeddings):
                raise ValueError(
                    "retrieve hybrid: pass --docs + --embeddings (live)"
                    " or --bm25-index + --ann-index (indexed)"
                )
            hits = SIM.hybrid_rrf_topk(
                spark.read.parquet(args.docs), points(),
                [(terms, _parse_vec(args.qvec))], k=args.k,
                per_side=args.per_side,
            )
    elif args.action == "maxsim":
        toks = [_parse_vec(t) for t in args.qtoks.split(";") if t.strip()]
        if not toks or not toks[0]:
            raise ValueError(
                "retrieve maxsim: --qtoks parsed to no token vectors "
                "(semicolon-separated comma-lists expected)"
            )
        pts = points()
        head = pts.select("features").first()
        if head is None:
            raise ValueError("retrieve maxsim: empty embeddings input")
        dim, dsub = len(head["features"]), len(toks[0])
        if dim % dsub != 0:
            raise ValueError(
                f"retrieve maxsim: embedding width {dim} is not a "
                f"multiple of the query-token width {dsub}"
            )
        hits = SIM.maxsim_topk(pts, [toks], args.k, dim)
    else:  # binary
        hits = SIM.binary_hamming_topk(
            points(), [_parse_vec(args.qvec)], args.k, args.shortlist
        )
    hits.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"retrieve {args.action}: {n} hit rows -> {args.output}")
    return 0


def ann_main(argv: list[str], spark=None) -> int:
    args = build_ann_parser().parse_args(argv)
    owns_session = spark is None
    if owns_session:
        spark = get_spark("abk-ann-cli")
    try:
        return _ann_run(args, spark)
    finally:
        if owns_session:
            spark.stop()


def _ann_run(args, spark) -> int:
    from apachebeamkmeans_spark.ann import AnnIndex

    if args.action == "train":
        emb = spark.read.parquet(args.embeddings)
        meta = tuple(
            c.strip() for c in (args.meta_cols or "").split(",") if c.strip()
        )
        idx = AnnIndex.train(
            spark, emb, args.index_path, k=args.k, n_iters=args.iters,
            id_col=args.id_col, vec_col=args.vec_col,
            pq_m=args.pq_m, pq_ksub=args.pq_ksub, meta_cols=meta,
        )
        tier = "ivf-pq" if idx.codebooks is not None else "flat ivf"
        extra = f", meta {list(meta)}" if meta else ""
        print(f"ann train: {idx.n_cells} cells ({tier}{extra}) "
              f"-> {args.index_path}")
    elif args.action == "append":
        idx = AnnIndex.load(spark, args.index_path)
        idx.append(
            spark.read.parquet(args.embeddings),
            id_col=args.id_col, vec_col=args.vec_col,
        )
        print(f"ann append: batch appended to {args.index_path}")
    elif args.action == "compact":
        idx = AnnIndex.load(spark, args.index_path)
        gates = (args.if_tombstone_sidecars, args.if_tombstone_rows,
                 args.if_tombstone_frac)
        if any(g is not None for g in gates):
            why = idx.compact_on_pressure(
                tombstone_sidecars=args.if_tombstone_sidecars,
                tombstone_rows=args.if_tombstone_rows,
                tombstone_frac=args.if_tombstone_frac,
                strategy=args.strategy, retain=args.retain,
            )
            if why is None:
                print(f"ann compact: no pressure at {args.index_path} "
                      f"— skipped")
            else:
                print(f"ann compact: {args.index_path} rewritten "
                      f"(pressure: {why})")
        else:
            idx.compact(strategy=args.strategy, retain=args.retain)
            print(f"ann compact: {args.index_path} rewritten to one "
                  f"file per cell")
    elif args.action == "upsert":
        idx = AnnIndex.load(spark, args.index_path)
        n = idx.upsert(
            spark.read.parquet(args.embeddings),
            id_col=args.id_col, vec_col=args.vec_col,
        )
        print(f"ann upsert: {n} rows replaced in {args.index_path}")
    elif args.action == "delete":
        idx = AnnIndex.load(spark, args.index_path)
        dmode = "tombstone" if args.tombstone else "rewrite"
        n = idx.delete(args.where, mode=dmode)
        print(f"ann delete: {n} rows removed from {args.index_path} ({dmode})")
    elif args.action == "retrain":
        idx = AnnIndex.load(spark, args.index_path)
        old = idx.n_cells
        idx.retrain(k=args.k, n_iters=args.iters, strategy=args.strategy,
                    retain=args.retain)
        print(
            f"ann retrain: {args.index_path} rebuilt "
            f"{old} -> {idx.n_cells} cells"
        )
    elif args.action == "stats":
        idx = AnnIndex.load(spark, args.index_path)
        rows = sorted(
            (r["coarse_id"], r["n_rows"]) for r in idx.cell_stats().collect()
        )
        for cell, n in rows:
            print(f"cell {cell}: {n} rows")
        counts = [n for _, n in rows]
        if counts:
            med = sorted(counts)[len(counts) // 2]
            print(
                f"ann stats: {len(rows)}/{idx.n_cells} cells occupied, "
                f"max/median occupancy {max(counts)}/{med}"
            )
        entries = idx._ts_entries()
        if entries:
            dead = sum(e.get("n", 0) for e in entries)
            print(
                f"ann stats: {len(entries)} tombstone sidecar(s), "
                f"{dead} dead row(s) pending — compact applies them "
                f"(see `ann compact --if-tombstone-sidecars`)"
            )
    else:  # search
        idx = AnnIndex.load(spark, args.index_path)
        hits = idx.topk_table(
            spark.read.parquet(args.queries), k=args.k, nprobe=args.nprobe,
            qid_col=args.qid_col, qvec_col=args.qvec_col,
            refine=args.refine, where=args.where,
        )
        hits.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"ann search: {n} hit rows -> {args.output}")
    return 0


def _hadoop_path_exists(spark, path: str) -> bool:
    """Existence through Hadoop FS, not driver-local os.path — a
    model path may be hdfs://, s3a://, or local alike (the AnnIndex
    sidecar rule applied to the CLI)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def curate_main(argv: list[str], spark=None) -> int:
    args = build_curate_parser().parse_args(argv)
    owns_session = spark is None
    if owns_session:
        spark = get_spark("abk-curate-cli")
    try:
        return _curate_run(args, spark)
    finally:
        # every error path (missing --embeddings, unreadable parquet,
        # a failing stage) must still release an owned session
        if owns_session:
            spark.stop()


def _curate_run(args, spark) -> int:
    import json

    from apachebeamkmeans_spark.pipeline import CurationPipeline

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    pipe = CurationPipeline(docs)
    if args.exact_dedup:
        pipe = pipe.exact_dedup()
    if args.near_dedup:
        pipe = pipe.near_dedup(
            threshold=args.jaccard, bands=args.bands, shingle=args.shingle
        )
    if args.purge_substrings:
        pipe = pipe.purge_substrings(min_run=args.min_run)
    if args.semantic_dedup or args.coverage_select:
        if not args.embeddings:
            raise SystemExit("--semantic-dedup/--coverage-select need --embeddings")
        emb = spark.read.parquet(args.embeddings)
        centers = CurationPipeline.train_quantizer(
            emb, id_col=args.id_col, vec_col=args.vec_col
        )
        if args.semantic_dedup:
            pipe = pipe.semantic_dedup(
                emb, tau=args.tau, id_col=args.id_col,
                vec_col=args.vec_col, centers=centers,
            )
        if args.coverage_select:
            pipe = pipe.coverage_select(
                emb, per_cell=args.per_cell, id_col=args.id_col,
                vec_col=args.vec_col, centers=centers,
            )
    if args.quality_gate:
        langs = tuple(s for s in args.langs.split(",") if s) or None
        pipe = pipe.quality_gate(min_chars=args.min_chars, langs=langs)
    if args.model_gate:
        from apachebeamkmeans_spark.operators import classifier as CLF

        model = None
        if args.model_path and _hadoop_path_exists(spark, args.model_path):
            # reuse a previously saved gate (reference-snapshot model,
            # or just the last run's fit) — no refit (ADVICE r10). The
            # existence check goes through Hadoop FS so hdfs://-style
            # model paths reuse correctly too (r11 review).
            from pyspark.ml.classification import LogisticRegressionModel

            try:
                model = LogisticRegressionModel.load(args.model_path)
            except Exception as e:
                # could be a partially-written save OR a transient
                # IO/executor failure — never instruct deletion as the
                # first move (r11 review)
                raise SystemExit(
                    f"--model-path {args.model_path!r} exists but failed to "
                    f"load as a LogisticRegressionModel "
                    f"({type(e).__name__}: {e}). If this persists across "
                    f"retries the save is likely incomplete — delete the "
                    f"directory to refit, or point at a complete model."
                ) from e
        if model is None:
            # trained on the INPUT corpus (pre-dedup), gating whatever
            # survived the earlier stages — self-distillation of the
            # heuristic verdict; pass --model-path to persist the fit
            # (or to gate with a reference-snapshot model instead)
            model = CLF.fit_quality_model(CLF.feature_frame(docs))
            if args.model_path:
                model.write().overwrite().save(args.model_path)
        pipe = pipe.model_gate(model, min_p=args.min_p)
    if args.contamination_gate:
        bench = spark.read.parquet(args.contamination_gate)
        pipe = pipe.contamination_gate(
            bench, shingle=args.shingle, max_shared=args.max_shared
        )
    out = pipe.pack(args.ctx_len, args.n_shards) if args.pack else pipe.df()
    out.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    if args.summary_file:
        rows = [r.asDict() for r in pipe.summary().collect()]
        with open(args.summary_file, "w") as f:
            json.dump({"n_in": n_in, "n_out": n_out, "groups": rows}, f)
    print(f"curate: {n_in} docs in -> {n_out} rows out ({args.output})")
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    raw = argv if argv is not None else sys.argv[1:]
    if raw and raw[0] == "curate":
        return curate_main(raw[1:], spark=spark)
    if raw and raw[0] == "ann":
        return ann_main(raw[1:], spark=spark)
    if raw and raw[0] == "retrieve":
        return retrieve_main(raw[1:], spark=spark)
    args = build_parser().parse_args(raw)
    owns_session = spark is None
    if owns_session:
        spark = get_spark("abk-kmeans-cli")
    if args.input.endswith(".parquet") or args.input.rstrip("/").endswith("parquet"):
        pts = spark.read.parquet(args.input)
    else:
        pts = io.read_points_text(spark, args.input)
    pts = pts.cache()

    params = KMeansParams(
        k=args.k, p=args.paradigm, threshold=args.threshold,
        max_iter=args.max_iteration, seed=args.seed, init=args.init,
        weight=args.weight,
    )
    try:
        for exp in range(args.experiments):
            t0 = time.perf_counter()  # per-run timer (not cumulative — §8.8)
            model = KMeans(params).fit(pts)
            io.write_text_single(model.format_clusters(pts), f"{args.output}{exp}")
            elapsed = time.perf_counter() - t0
            if args.time_file:
                with open(args.time_file, "a") as f:
                    f.write(f"{elapsed}\n")
            if args.iteration_file:
                with open(args.iteration_file, "a") as f:
                    f.write(f"{model.n_iter}\n")
            print(f"experiment {exp}: {model.n_iter} iterations, {elapsed:.2f}s")
    finally:
        pts.unpersist()
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
