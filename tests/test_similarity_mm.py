"""Similarity search, multimodal plumbing, and streaming equivalence."""

from __future__ import annotations

import pytest

from apachebeamkmeans_spark.fixtures import fixed_centers
from apachebeamkmeans_spark.operators import multimodal as MM
from apachebeamkmeans_spark.operators import similarity as SIM
from apachebeamkmeans_spark.operators import timeseries as TS
from apachebeamkmeans_spark.sources import io
from apachebeamkmeans_spark.streaming import events as SE


def test_cosine_topk_exact_hit(spark):
    base = [0.1 * ((j % 5) - 2) for j in range(64)]
    rows = [(i, [x + 0.01 * i for x in base]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "id long, features array<double>")
    out = SIM.cosine_topk(vecs, [list(rows[7][1])], k=3).collect()
    assert out[0]["vec_id"] == 7 and out[0]["cosine"] == 1.0 and out[0]["rank"] == 1
    assert len(out) == 3


def test_ivf_search_matches_bruteforce_within_cell(spark, sf_dir):
    vecs = io.load_points(spark, sf_dir)
    centers = fixed_centers()
    q = [0.05] * 64
    ivf = SIM.ivf_topk(vecs, [q], centers, k=5).collect()
    assert len(ivf) == 5
    assert all(r["probe_cell"] == SIM.nearest_centers(q, centers)[0] for r in ivf)
    assert [r["rank"] for r in ivf] == [1, 2, 3, 4, 5]


def test_ivf_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental index maintenance: building with half the vectors
    then appending the rest must serve exactly the same results as one
    from-scratch build over everything."""
    vecs = io.load_points(spark, sf_dir).localCheckpoint()
    centers = fixed_centers()
    queries = [[0.05] * 64, [-0.03] * 64]

    full_path = str(tmp_path / "ivf_full")
    inc_path = str(tmp_path / "ivf_inc")
    SIM.build_ivf_index(vecs, centers, full_path)
    half = vecs.filter("id % 2 = 0")
    rest = vecs.filter("id % 2 = 1")
    SIM.build_ivf_index(half, centers, inc_path)
    SIM.append_to_ivf_index(rest, centers, inc_path)

    key = lambda rows: sorted(
        (r["qid"], r["rank"], r["vec_id"], r["probe_cell"], r["cosine"]) for r in rows
    )
    a = SIM.ivf_topk_indexed(spark, full_path, queries, centers, k=5, nprobe=2).collect()
    b = SIM.ivf_topk_indexed(spark, inc_path, queries, centers, k=5, nprobe=2).collect()
    assert key(a) == key(b) and len(a) == 10


def test_binary_assets_and_decode(spark):
    docs = spark.createDataFrame([(0, "hello world"), (1, "hello world"), (2, "x")],
                                 "doc_id long, text string")
    assets = MM.to_binary_assets(docs)
    meta = {r["doc_id"]: r["meta"] for r in assets.collect()}
    assert meta[0]["n_bytes"] == 11 and meta[0]["sha256"] == meta[1]["sha256"]
    dec = {r["doc_id"]: r for r in MM.fake_decode(assets).collect()}
    assert dec[0]["width"] == dec[1]["width"]  # deterministic from payload
    assert dec[0]["n_pixels"] == dec[0]["width"] * dec[0]["height"]
    assert 1 <= dec[2]["width"] <= 256


def test_frame_sample_indices(spark):
    docs = spark.createDataFrame([(0, "abc" * 40)], "doc_id long, text string")
    out = MM.frame_sample_indices(MM.to_binary_assets(docs), every=7).collect()[0]
    assert out["frame_idx"][0] == 0
    assert all(b - a == 7 for a, b in zip(out["frame_idx"], out["frame_idx"][1:]))
    assert out["frame_idx"][-1] < out["n_frames"]


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_stub_real_media("jpeg")


def test_stream_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    SE.run_stream_to_parquet(
        spark, sf_dir, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    written = spark.read.parquet(str(tmp_path / "out"))
    batch = TS.tumbling_agg(io.read_table(spark, sf_dir, "events"), "hour")
    assert sorted(map(tuple, written.drop("batch").collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_hourly_equals_batch(spark, sf_dir):
    batch = TS.tumbling_agg(io.read_table(spark, sf_dir, "events"), "hour")
    stream = SE.run_hourly_stream_to_table(spark, sf_dir, name="test_stream_out")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s and len(b) > 0


def test_resize_and_histogram_plumbing(spark, sf_dir):
    """Resize + feature-extract mapInPandas: schema contract, value
    determinism, and partition-invariance (same results at any
    parallelism — the property a real decoder must also hold)."""
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.operators import multimodal as MM
    from apachebeamkmeans_spark.sources import io

    assets = MM.to_binary_assets(io.read_table(spark, sf_dir, "documents")).limit(50)
    thumbs = MM.resize_stub(assets, 8, 8)
    assert thumbs.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,thumb:binary>"
    )
    rows = thumbs.collect()
    assert all(len(r["thumb"]) == 64 for r in rows)

    feats = MM.byte_histogram_features(assets, bins=16)
    got = {r["doc_id"]: r["features"] for r in feats.collect()}
    assert all(len(v) == 16 for v in got.values())
    assert all(abs(sum(v) - 1.0) < 1e-3 for v in got.values())  # normalized
    # partition-invariance: same values after a repartition
    got8 = {
        r["doc_id"]: r["features"]
        for r in MM.byte_histogram_features(assets.repartition(8), bins=16).collect()
    }
    assert got == got8
    # hand-off: histogram features are valid input to the similarity ops
    from apachebeamkmeans_spark.functions import distance as D

    sim = feats.select(
        D.cosine(F.col("features").cast("array<double>"),
                 F.col("features").cast("array<double>")).alias("self_cos")
    ).collect()
    assert all(abs(r["self_cos"] - 1.0) < 1e-9 for r in sim)


def test_hybrid_rrf_matches_python_fusion(spark, sf_dir):
    """hybrid_rrf_topk equals a driver-side RRF fusion of the two
    rankings computed independently (tokens in Python, cosine in
    numpy), and the plan stays JVM-only (no Python nodes)."""
    import numpy as np
    from pyspark.sql import functions as F

    from apachebeamkmeans_spark.operators import similarity as SIM
    from apachebeamkmeans_spark.plans import explain as X
    from apachebeamkmeans_spark.sources import io

    queries = [
        (["join", "hash"], [0.1 * ((j % 5) - 2) for j in range(64)]),
        (["slow"], [0.05 * ((j % 7) - 3) for j in range(64)]),
    ]
    docs = io.read_table(spark, sf_dir, "documents")
    vecs = io.load_points(spark, sf_dir)
    res = SIM.hybrid_rrf_topk(docs, vecs, queries, k=8, per_side=30)
    plan = X.formatted_plan(res)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    got = {
        (r["qid"], r["doc_id"]): (r["rrf_score"], r["rank"])
        for r in res.collect()
    }

    drows = docs.select("doc_id", "text").collect()
    vrows = vecs.collect()
    ids = np.array([r["id"] for r in vrows])
    mat = np.array([list(map(float, r["features"])) for r in vrows])
    for qid, (terms, qv) in enumerate(queries):
        tscore = {}
        for r in drows:
            toks = [t for t in r["text"].lower().split() if t]
            s = sum(toks.count(t) for t in terms)
            if s > 0:
                tscore[r["doc_id"]] = s
        tr = {
            d: i + 1
            for i, (d, _s) in enumerate(
                sorted(tscore.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
            )
        }
        q = np.array(qv)
        cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order = sorted(zip(ids.tolist(), cos.tolist()),
                       key=lambda p: (-p[1], p[0]))[:30]
        vr = {d: i + 1 for i, (d, _c) in enumerate(order)}
        rrf = {
            d: (1.0 / (60 + tr[d]) if d in tr else 0.0)
            + (1.0 / (60 + vr[d]) if d in vr else 0.0)
            for d in set(tr) | set(vr)
        }
        top = sorted(rrf.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
        for rank, (d, s) in enumerate(top, start=1):
            assert (qid, d) in got
            gs, gr = got[(qid, d)]
            assert gr == rank and abs(gs - s) < 2e-6


def test_maxsim_matches_numpy(spark, sf_dir):
    """maxsim_topk equals a numpy late-interaction scorer (slice the
    64-dim embedding into 4×16 token vectors, score = Σ_i max_t
    cos(q_i, d_t)), and the plan stays JVM-only."""
    import numpy as np

    from apachebeamkmeans_spark.plans import explain as X

    queries = [
        [[0.1 * ((j + i) % 5 - 2) for j in range(16)] for i in range(3)],
        [[0.05 * ((j * (i + 2)) % 7 - 3) for j in range(16)] for i in range(2)],
    ]
    vecs = io.load_points(spark, sf_dir)
    res = SIM.maxsim_topk(vecs, queries, k=7, dim=64)
    plan = X.formatted_plan(res)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    got = {
        (r["qid"], r["vec_id"]): (r["maxsim"], r["rank"]) for r in res.collect()
    }
    assert len(got) == 14

    rows = vecs.collect()
    mat = np.array([list(map(float, r["features"])) for r in rows])
    ids = [r["id"] for r in rows]
    toks = mat.reshape(len(rows), 4, 16)
    tnorm = np.linalg.norm(toks, axis=2)
    for qid, q in enumerate(queries):
        scores = np.zeros(len(rows))
        for tok in q:
            tv = np.array(tok)
            cos = (toks @ tv) / (tnorm * np.linalg.norm(tv))
            scores += cos.max(axis=1)
        order = sorted(zip(ids, scores.tolist()), key=lambda p: (-p[1], p[0]))
        for rank, (vid, s) in enumerate(order[:7], start=1):
            assert (qid, vid) in got
            gs, gr = got[(qid, vid)]
            assert gr == rank and abs(gs - s) < 2e-6


def test_maxsim_single_fullwidth_token_equals_cosine(spark, sf_dir):
    """With one 64-dim query token (T=1 doc slice), MaxSim degenerates
    to plain cosine — ranking must equal cosine_topk exactly."""
    q = [0.1 * ((j % 5) - 2) for j in range(64)]
    vecs = io.load_points(spark, sf_dir)
    ms = SIM.maxsim_topk(vecs, [[q]], k=10, dim=64).collect()
    ct = SIM.cosine_topk(vecs, [q], k=10).collect()
    assert [(r["vec_id"], r["rank"]) for r in ms] == [
        (r["vec_id"], r["rank"]) for r in ct
    ]
    for a, b in zip(ms, ct):
        assert abs(a["maxsim"] - b["cosine"]) < 2e-6


def test_sign_codes_match_python_packing(spark):
    """sign_codes packs bit j = (features[j] > 0) into two 32-bit
    words — byte-equal to the driver-side twin pack_sign_bits."""
    rows = [
        (0, [(-1.0) ** j * 0.1 for j in range(64)]),
        (1, [0.0] * 64),                       # zeros → no bits set
        (2, [1.0] * 64),                       # all bits set
        (3, [0.3 * ((j % 9) - 4) for j in range(64)]),
    ]
    vecs = spark.createDataFrame(rows, "id long, features array<double>")
    got = {r["vec_id"]: (r["code_0"], r["code_1"])
           for r in SIM.sign_codes(vecs, 64).collect()}
    for i, feats in rows:
        lo, hi = SIM.pack_sign_bits(feats)
        assert got[i] == (lo, hi), i
    assert got[1] == (0, 0)
    assert got[2] == ((1 << 32) - 1, (1 << 32) - 1)


def test_binary_hamming_topk_matches_numpy(spark, sf_dir):
    """binary_hamming_topk equals a numpy twin: Hamming over sign bits
    (ties → lower id) picks the shortlist, exact cosine ranks it."""
    import numpy as np

    q = [0.07 * ((j % 11) - 5) for j in range(64)]
    vecs = io.load_points(spark, sf_dir)
    res = SIM.binary_hamming_topk(vecs, [q], k=5, shortlist=20).collect()
    assert len(res) == 5

    rows = vecs.collect()
    ids = np.array([r["id"] for r in rows])
    mat = np.array([list(map(float, r["features"])) for r in rows])
    bits = mat > 0
    qbits = np.array(q) > 0
    ham = (bits != qbits).sum(axis=1)
    short_order = sorted(zip(ids.tolist(), ham.tolist()), key=lambda p: (p[1], p[0]))
    short = dict(short_order[:20])
    cos = mat @ np.array(q) / (
        np.linalg.norm(mat, axis=1) * np.linalg.norm(np.array(q))
    )
    cand = [(i, c) for i, c in zip(ids.tolist(), cos.tolist()) if i in short]
    top = sorted(cand, key=lambda p: (-p[1], p[0]))[:5]
    for r, (vid, c) in zip(res, top):
        assert r["vec_id"] == vid and r["rank"] == top.index((vid, c)) + 1
        assert r["hamming"] == short[vid]
        assert abs(r["cosine"] - c) < 2e-6
