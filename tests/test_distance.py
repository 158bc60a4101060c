"""Distance/norm expressions: HOF and unrolled families agree with
pure-Python reference values (SURVEY.md §2.2 P4-P7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from apachebeamkmeans_spark.functions import distance as D

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
    assert _val(row, D.l1_unrolled(F.col("a"), B)) == pytest.approx(expected)


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


def test_sql_array_literal_round_trips(spark):
    vals = [[0.1, -2.5e-300], [1e300, 3.0]]
    lit = D.sql_array_literal(vals)
    assert lit.startswith("array(array(0.1D, ")
    assert spark.range(1).select(F.expr(lit).alias("v")).collect()[0]["v"] == vals


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_sql_array_literal_rejects_non_finite(bad):
    with pytest.raises(ValueError, match="non-finite"):
        D.sql_array_literal([[1.0, 2.0], [3.0, bad]])
