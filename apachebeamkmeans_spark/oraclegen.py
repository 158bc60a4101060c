"""DuckDB oracle SQL fragment generators.

Every numeric expression family the Spark queries use has a twin here
that emits the *same arithmetic structure* (left-associated sums over
the same double literals), so oracle comparisons are exact up to the
final rounding both sides apply.

Index convention: Spark arrays are 0-based (`col[j]` = getItem), DuckDB
lists are 1-based (`col[j+1]`) — generators take care of the shift.
"""

from __future__ import annotations

TWO32 = 4294967296.0


def dlist(vec: list[float]) -> str:
    """A DuckDB DOUBLE[] literal."""
    return "CAST([" + ", ".join(repr(float(v)) for v in vec) + "] AS DOUBLE[])"


def sql_l2_sq(col: str, center: list[float]) -> str:
    """Σ_j (col[j] - c_j)² — twin of distance.l2_sq_unrolled."""
    terms = [
        f"({col}[{j + 1}] - ({float(c)!r}))*({col}[{j + 1}] - ({float(c)!r}))"
        for j, c in enumerate(center)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_l1(col: str, center: list[float]) -> str:
    terms = [f"abs({col}[{j + 1}] - ({float(c)!r}))" for j, c in enumerate(center)]
    return "(" + " + ".join(terms) + ")"


def sql_norm_sq(col: str, dim: int) -> str:
    terms = [f"{col}[{j + 1}]*{col}[{j + 1}]" for j in range(dim)]
    return "(" + " + ".join(terms) + ")"


def sql_abs_sum(col: str, dim: int) -> str:
    terms = [f"abs({col}[{j + 1}])" for j in range(dim)]
    return "(" + " + ".join(terms) + ")"


def sql_dot(col: str, vec: list[float]) -> str:
    terms = [f"{col}[{j + 1}]*({float(v)!r})" for j, v in enumerate(vec)]
    return "(" + " + ".join(terms) + ")"


def sql_dot_centered(col: str, mean: list[float], vec: list[float]) -> str:
    """Σ_j (col[j] − mean_j)·v_j — twin of the unrolled projection in
    similarity.pca_project (same left-associated term order)."""
    terms = [
        f"(({col}[{j + 1}] - ({float(m)!r})) * ({float(v)!r}))"
        for j, (m, v) in enumerate(zip(mean, vec))
    ]
    return "(" + " + ".join(terms) + ")"


def sql_cosine_lit(col: str, vec: list[float], dim: int) -> str:
    """cosine(col, literal vec) — twin of distance.cosine_unrolled."""
    vnorm = sum(float(v) * float(v) for v in vec) ** 0.5
    return f"({sql_dot(col, vec)} / (sqrt({sql_norm_sq(col, dim)}) * ({vnorm!r})))"


def sql_dot_slice(col: str, vec: list[float], offset: int) -> str:
    """Σ_j col[offset+j]·v_j (0-based offset, 1-based SQL index) —
    twin of distance.dot_slice_unrolled."""
    terms = [
        f"{col}[{offset + j + 1}]*({float(v)!r})" for j, v in enumerate(vec)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_norm_sq_slice(col: str, offset: int, dsub: int) -> str:
    """Σ_j col[offset+j]² over the dsub-wide slice at 0-based offset —
    twin of distance.norm_sq_slice_unrolled."""
    terms = [
        f"{col}[{offset + j + 1}]*{col}[{offset + j + 1}]"
        for j in range(dsub)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_l2_sq_cols_unrolled(a: str, b: str, dim: int) -> str:
    """Squared L2 between two list columns, unrolled left-associated —
    exact twin of distance.l2_sq_unrolled when the Spark side's center
    literal holds the same doubles as column `b`'s row."""
    terms = [
        f"({a}[{j + 1}] - {b}[{j + 1}])*({a}[{j + 1}] - {b}[{j + 1}])" for j in range(dim)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_dot_cols(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), s -> s[1]*s[2]))"


def sql_cosine_cols(a: str, b: str) -> str:
    return (
        f"({sql_dot_cols(a, b)} / "
        f"(sqrt({sql_dot_cols(a, a)}) * sqrt({sql_dot_cols(b, b)})))"
    )


def sql_hex_to_int(h: str, n_chars: int = 8) -> str:
    """Parse an n-hex-char string to an integer — DuckDB has no conv(),
    so each char is looked up positionally; multipliers are folded
    literals. Twin of hashing.hash_u32's conv(hex, 16, 10)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)*{16 ** (n_chars - 1 - i)}"
        for i in range(n_chars)
    ]
    return "(" + " + ".join(terms) + ")"


def sql_hash01(col: str, seed) -> str:
    """Twin of hashing.hash01: (first 8 md5 hex chars + 1) / 2^32 —
    range (0, 1], so -ln(u) is always finite on both engines."""
    h = f"substr(md5(concat('{seed}|', CAST({col} AS VARCHAR))), 1, 8)"
    return f"(CAST({sql_hex_to_int(h)} + 1 AS DOUBLE) / {TWO32!r})"


def sql_bucket(col: str, n_buckets: int, seed) -> str:
    """Twin of hashing.bucket: 32-bit md5 hash mod n, in [0, n)."""
    h = f"substr(md5(concat('{seed}|', CAST({col} AS VARCHAR))), 1, 8)"
    return f"CAST(({sql_hex_to_int(h)}) % {n_buckets} AS INTEGER)"


def sql_argmin_case(dist_cols: list[str], out: str = "center_id") -> str:
    """First-minimum tie-break CASE — twin of array_position(arr, array_min)."""
    k = len(dist_cols)
    clauses = []
    for i in range(k - 1):
        conds = " AND ".join(f"{dist_cols[i]} <= {dist_cols[j]}" for j in range(i + 1, k))
        clauses.append(f"WHEN {conds} THEN {i}")
    return "CASE " + " ".join(clauses) + f" ELSE {k - 1} END AS {out}"


def sql_tokens(col: str) -> str:
    """Twin of text.tokens: lower, split on whitespace, drop empties."""
    return f"list_filter(string_split_regex(lower({col}), '\\s+'), t -> len(t) > 0)"


def sql_token_shingles(toks: str, n: int = 3) -> str:
    """Twin of text.token_shingles via zipped shifted slices. End
    indices are clamped at 0: DuckDB's array_slice treats a negative
    end as from-the-end, which would fabricate shingles (with NULL
    holes) for documents shorter than n tokens."""
    slices = ", ".join(
        f"array_slice({toks}, {i + 1}, greatest(len({toks}) - {n - 1 - i}, 0))"
        for i in range(n)
    )
    parts = " || ' ' || ".join(f"s[{i + 1}]" for i in range(n))
    return f"list_transform(list_zip({slices}), s -> {parts})"


def sql_minhash_band(shingles: str, band: int, seed: int = 0) -> str:
    """Twin of text.minhash_signature for one band: min over shingles of
    (A_b·h(s) + C_b) mod P with h(s) = first-15-hex-chars(md5) mod P."""
    from apachebeamkmeans_spark.fixtures import MINHASH_P, minhash_coeffs

    a, c = minhash_coeffs(band + 1, seed)[band]
    base = f"({sql_hex_to_int('substr(md5(s), 1, 15)', 15)} % {MINHASH_P})"
    return (
        f"list_aggregate(list_transform({shingles}, "
        f"s -> ({a} * {base} + {c}) % {MINHASH_P}), 'min')"
    )
