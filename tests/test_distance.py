"""Distance/norm expressions: HOF and unrolled families agree with
pure-Python reference values (SURVEY.md §2.2 P4-P7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D
from kmeans_reference import l1_unrolled

A = [1.0, -2.0, 3.5]
B = [0.5, 1.0, -1.5]


@pytest.fixture(scope="module")
def row(spark):
    return spark.createDataFrame([(A, B)], "a array<double>, b array<double>")


def _val(row_df, col):
    return row_df.select(col.alias("v")).collect()[0]["v"]


def test_l2_sq(row):
    expected = sum((x - y) ** 2 for x, y in zip(A, B))
    assert _val(row, D.l2_sq(F.col("a"), F.col("b"))) == pytest.approx(expected)
    assert _val(row, D.l2_sq_unrolled(F.col("a"), B)) == pytest.approx(expected)


def test_l1(row):
    expected = sum(abs(x - y) for x, y in zip(A, B))
    assert _val(row, D.l1(F.col("a"), F.col("b"))) == pytest.approx(expected)
    assert _val(row, l1_unrolled(F.col("a"), B)) == pytest.approx(expected)


def test_minkowski_p3(row):
    expected = sum(abs(x - y) ** 3 for x, y in zip(A, B)) ** (1 / 3)
    assert _val(row, D.minkowski(F.col("a"), F.col("b"), 3)) == pytest.approx(expected)


def test_norms(row):
    assert _val(row, D.norm(F.col("a"), 2)) == pytest.approx(math.sqrt(sum(x * x for x in A)))
    assert _val(row, D.abs_sum(F.col("a"))) == pytest.approx(sum(abs(x) for x in A))
    assert _val(row, D.norm_sq_unrolled(F.col("a"), 3)) == pytest.approx(sum(x * x for x in A))
    assert _val(row, D.abs_sum_unrolled(F.col("a"), 3)) == pytest.approx(sum(abs(x) for x in A))


def test_dot_cosine(row):
    dot = sum(x * y for x, y in zip(A, B))
    na = math.sqrt(sum(x * x for x in A))
    nb = math.sqrt(sum(x * x for x in B))
    assert _val(row, D.dot(F.col("a"), F.col("b"))) == pytest.approx(dot)
    assert _val(row, D.cosine(F.col("a"), F.col("b"))) == pytest.approx(dot / (na * nb))
    assert _val(row, D.cosine_unrolled(F.col("a"), B, 3)) == pytest.approx(dot / (na * nb))
    assert _val(row, D.dot_unrolled(F.col("a"), B)) == pytest.approx(dot)


EDGE_DOUBLES = [0.1, -0.0, 5e-324, 2.2250738585072014e-308,
                1.7976931348623157e308, -2.5e-300]


def _flat(v):
    return [y for x in v for y in _flat(x)] if isinstance(v, list) else [v]


def _scaled(v, s):
    return [_scaled(x, s) for x in v] if isinstance(v, list) else v * s


def test_sql_array_literal_round_trips(spark):
    """Every double comes back bit-exact (sign of zero, subnormals, the
    extremes) at nesting depths 1-3 — depth 3 is the PQ codebooks — and
    the optimized plan holds one folded Literal, not the JSON parse."""
    vals = EDGE_DOUBLES
    for depth in (1, 2, 3):
        df = spark.range(1).select(F.expr(D.sql_array_literal(vals)).alias("v"))
        got = df.collect()[0]["v"]
        assert got == vals, depth
        assert [x.hex() for x in _flat(got)] == [x.hex() for x in _flat(vals)], depth
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.projectList().size() == 1
        assert plan.projectList().apply(0).child().getClass().getSimpleName() == "Literal"
        assert "json" not in plan.toString().lower(), plan.toString()
        vals = [vals, _scaled(vals, -0.5)]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_sql_array_literal_rejects_non_finite(bad):
    with pytest.raises(ValueError, match="non-finite"):
        D.sql_array_literal([[1.0, 2.0], [3.0, bad]])
