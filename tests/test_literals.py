"""Float-array constants enter a plan one way: `distance.lit_array`, one
folded literal checked for finite values before any Spark job."""

from __future__ import annotations

import ast
import math
from pathlib import Path

import pytest

import apachebeamkmeans_spark
from apachebeamkmeans_spark.operators import similarity as SIM

PACKAGE = Path(apachebeamkmeans_spark.__file__).parent


def _is_f(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _is_float_arg(node: ast.AST) -> bool:
    return (isinstance(node, ast.Constant) and isinstance(node.value, float)) or (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "float"
    )


def _element_wise_literals(tree: ast.AST):
    """`F.lit(<list>)`, `F.lit([… for …])`, `F.lit(list(…))` and
    `F.array(*[F.lit(float(…)) for …])` calls in `tree`."""
    for node in ast.walk(tree):
        if _is_f(node, "lit") and node.args:
            arg = node.args[0]
            if isinstance(arg, (ast.List, ast.ListComp)) or (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id == "list"
            ):
                yield node
        elif _is_f(node, "array"):
            for arg in node.args:
                if (
                    isinstance(arg, ast.Starred)
                    and isinstance(arg.value, ast.ListComp)
                    and _is_f(arg.value.elt, "lit")
                    and arg.value.elt.args
                    and _is_float_arg(arg.value.elt.args[0])
                ):
                    yield node


def test_no_element_wise_array_literals():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}: {ast.unparse(node)[:80]}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in _element_wise_literals(ast.parse(path.read_text()))
    ]
    assert not found, "build array constants with distance.lit_array:\n" + "\n".join(found)


def test_cosine_topk_rejects_nan_query_before_any_job(spark):
    sc = spark.sparkContext
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "id long, features array<double>"
    )
    group = "test_literals.nan_query"
    sc.setJobGroup(group, "cosine_topk over a NaN query")
    try:
        with pytest.raises(ValueError, match="non-finite"):
            SIM.cosine_topk(vecs, [[1.0, 0.0], [math.nan, 1.0]], k=1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
