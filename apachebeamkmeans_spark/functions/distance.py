"""Vector distance / norm column expressions.

The reference's scalar workhorse is ``Point.distance_paradigm(a, b, p)``
— a Minkowski distance of order p between two comma-string points
(call sites: /root/reference/SparKMeansGroupBy.java:88,130), plus
norms ``point_distance_with_zero`` (SparKMeansGroupByPlusPlusInitMax.java:80)
and ``point_abs_sum`` (L1, ...InitMaxFarthestManhattan.java:79-80).

Here every distance is a pure Spark column expression — no UDFs, so
everything stays JVM-side. Two families, plus SQL-text builders
(`sql_*`) that emit the higher-order form against literal centers as
one parsed string:

- **higher-order** (`F.zip_with`/`F.aggregate`): works for any runtime
  array length; used by the general library surface.
- **unrolled** (`*_unrolled`): when the dimensionality is known at plan
  time (it always is for a given table), emit an explicit left-associated
  sum of per-element terms. This is fully whole-stage-codegen'd (faster
  than HOFs, which allocate per-row lambda frames) and — because the
  oracle SQL generator emits the same left-associated structure — gives
  bit-identical floating point results in Spark and DuckDB.
"""

from __future__ import annotations

import math
import numbers
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_array(values) -> Column:
    """A literal (nested) ARRAY<DOUBLE> column: `sql_array_literal` in
    one `F.expr` call. Every float-array constant of the package is
    built here."""
    return F.expr(sql_array_literal(values))


# ---------------------------------------------------------------- HOF family


def l2_sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance (any dim)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2(a: Column, b: Column) -> Column:
    return F.sqrt(l2_sq(a, b))


def l1(a: Column, b: Column) -> Column:
    """Manhattan distance (paradigm p=1)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def minkowski(a: Column, b: Column, p: float) -> Column:
    """Minkowski distance of order p — `Point.distance_paradigm` semantics."""
    if p == 1:
        return l1(a, b)
    if p == 2:
        return l2(a, b)
    pw = float(p)
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.abs(x - y) ** pw),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ** (1.0 / pw)
    )


def norm(a: Column, p: float = 2) -> Column:
    """Norm of the point = distance to the origin — `point_distance_with_zero`."""
    if p == 1:
        return abs_sum(a)
    if p == 2:
        return F.sqrt(
            F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
        )
    pw = float(p)
    return (
        F.aggregate(F.transform(a, lambda x: F.abs(x) ** pw), F.lit(0.0), lambda acc, v: acc + v)
        ** (1.0 / pw)
    )


def abs_sum(a: Column) -> Column:
    """L1 norm — the reference's `Point.point_abs_sum` ("manhattan
    distance to origin")."""
    return F.aggregate(F.transform(a, F.abs), F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


# --------------------------------------------------------- SQL text family
# One `F.expr` call parses a whole expression, where the Column API pays
# a py4j round trip per node. A parsed complex-type literal is kept in
# the codegen reference array, so the generated code is the same for
# any literal values and compiles once.


def sql_array_literal(values) -> str:
    """`values` — a (nested) sequence of numbers — as a SQL literal of
    type `array<…<double>>`: [[1, 2], [3, 4]] →
    `from_json('[[1.0,2.0],[3.0,4.0]]', 'array<array<double>>')`.

    Why `from_json`: the SQL parser sees the whole matrix as ONE string
    token, and Catalyst's ConstantFolding evaluates the call once into
    the same `Literal` array that the element-wise `array(array(…D))`
    text folds to — same executed plan, same codegen reuse, same values
    (`repr` round-trips every double, subnormals and -0.0 included).
    Building and optimizing a 100×64 matrix takes 6.0 s as
    `F.lit(<list>)`, 1.1 s as parsed `array(array(…D))` text and
    0.08 s this way (`local[4]` on a 4-vCPU VM).
    `tests/test_distance.py` fails if a Spark upgrade stops folding it.

    The elements are typed `containsNull=true`, where `F.lit(<list>)`
    and `array(…)` gave false. Raises ValueError on NaN or ±inf, which
    have no literal form (JSON has none either)."""
    def render(v) -> str:
        if isinstance(v, numbers.Real):
            x = float(v)
            if not math.isfinite(x):
                raise ValueError(f"non-finite value {x!r} in a SQL double literal")
            return repr(x)
        return "[" + ",".join(map(render, v)) + "]"

    text = render(values)
    depth = len(text) - len(text.lstrip("["))
    return f"from_json('{text}', '{'array<' * depth}double{'>' * depth}')"


def sql_pow_sum(a: str, b: str, p: float) -> str:
    """Σ_j |a[j] - b[j]|^p between two ARRAY<DOUBLE> SQL expressions as
    one lambda fold: the Minkowski-p distance without its root, so the
    squared distance for p=2. The fold seeds with 0.0D (0.0 + t₀ == t₀)
    and adds left to right, giving the same doubles as the unrolled
    family and the HOF family."""
    if p == 2:
        term = "(x - y) * (x - y)"
    elif p == 1:
        term = "abs(x - y)"
    else:
        term = f"pow(abs(x - y), {float(p)!r}D)"
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, (acc, v) -> acc + v)"


# ----------------------------------------------------------- unrolled family
# Known-dim plan-time unrolled expressions; oracle-exact (see module doc).


def _sum_terms(terms: list[Column]) -> Column:
    return reduce(lambda acc, t: acc + t, terms)


def l2_sq_unrolled(col: Column, center: list[float]) -> Column:
    """Σ_j (col[j] - c_j)² with a literal center, left-associated."""
    return _sum_terms(
        [(col[j] - F.lit(float(c))) * (col[j] - F.lit(float(c))) for j, c in enumerate(center)]
    )


def norm_sq_unrolled(col: Column, dim: int) -> Column:
    return _sum_terms([col[j] * col[j] for j in range(dim)])


def abs_sum_unrolled(col: Column, dim: int) -> Column:
    return _sum_terms([F.abs(col[j]) for j in range(dim)])


def dot_unrolled(col: Column, vec: list[float]) -> Column:
    return _sum_terms([col[j] * F.lit(float(v)) for j, v in enumerate(vec)])


def cosine_unrolled(col: Column, vec: list[float], dim: int) -> Column:
    """cosine(col, literal vec); vec's norm is folded at plan time."""
    vnorm = sum(float(v) * float(v) for v in vec) ** 0.5
    return dot_unrolled(col, vec) / (F.sqrt(norm_sq_unrolled(col, dim)) * F.lit(vnorm))


def dot_cols_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Σ_j a[j]·b[j] between two array columns, unrolled to `dim`
    codegen multiply-adds — no per-element lambda interpretation (the
    HOF `dot` costs ~3× on a many-million-pair join; measured on
    sim_knn_graph: 20 s → 6 s at sf0.1)."""
    return _sum_terms([a[j] * b[j] for j in range(dim)])


# ------------------------------------------------------- slice family
# Multi-vector (late-interaction) support: a document's token vectors
# live as contiguous `dsub`-wide slices of one flat embedding array,
# so per-token arithmetic is the unrolled family shifted by a plan-time
# offset — no array_slice materialization per row.


def dot_slice_unrolled(col: Column, vec: list[float], offset: int) -> Column:
    """Σ_j col[offset+j]·v_j — `dot_unrolled` against the slice
    starting at 0-based `offset` (same left-associated term order as
    oraclegen.sql_dot_slice)."""
    return _sum_terms(
        [col[offset + j] * F.lit(float(v)) for j, v in enumerate(vec)]
    )


def norm_sq_slice_unrolled(col: Column, offset: int, dsub: int) -> Column:
    """Σ_j col[offset+j]² over the `dsub`-wide slice at `offset`."""
    return _sum_terms(
        [col[offset + j] * col[offset + j] for j in range(dsub)]
    )
