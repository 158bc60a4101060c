"""The IVF probe rule, the nearest-center struct, the IVF-PQ layout
frame and the ADC sum each have one definition: `similarity.probe_cells`
is the Column twin of `nearest_centers`, the inline IVF-PQ searches
prune before they encode, and no module re-derives the probe sort or
the nearest center (`lloyd.nearest_center`) or wraps `_adc_expr`."""

from __future__ import annotations

import ast
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import apachebeamkmeans_spark
from apachebeamkmeans_spark.operators import similarity as SIM

PACKAGE = Path(apachebeamkmeans_spark.__file__).parent

CENTERS = [[0.0, 0.0], [2.0, 0.0], [0.0, 2.0], [2.0, 2.0], [1.0, -3.0]]


def _rows() -> list[tuple[int, list[float]]]:
    rnd = random.Random(7)
    rows = [
        (0, [1.0, 0.0]),   # equidistant from cells 0 and 1 (and 2 from 3)
        (1, [1.0, 1.0]),   # equidistant from cells 0..3
        (2, [0.0, 1.0]),   # equidistant from cells 0 and 2
    ]
    rows += [
        (i, [round(rnd.uniform(-3, 3), 3), round(rnd.uniform(-3, 3), 3)])
        for i in range(3, 40)
    ]
    return rows


@pytest.mark.parametrize("nprobe", [1, 2, len(CENTERS)])
def test_probe_cells_equals_nearest_centers(spark, nprobe):
    rows = _rows()
    df = spark.createDataFrame(rows, "id long, f array<double>")
    got = {
        r["id"]: list(r["probes"])
        for r in df.select(
            "id", SIM.probe_cells(F.col("f"), CENTERS, nprobe).alias("probes")
        ).collect()
    }
    want = {i: SIM.nearest_centers(v, CENTERS, nprobe) for i, v in rows}
    assert got == want
    # ties go to the lower cell
    assert got[0][:2] == [0, 1][:nprobe]
    assert got[2][:2] == [0, 2][:nprobe]


def _node(line: str) -> str:
    return line.lstrip(" :+-")


def _filtered_before_encode(df) -> bool:
    """In the optimized plan (children print below their parent), the
    first non-Project node under the PQ encode projection is the
    `coarse_id` filter."""
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    enc = [i for i, ln in enumerate(lines) if "array_position(" in ln]
    assert len(enc) == 1, "\n".join(lines)
    below = next(
        _node(ln) for ln in lines[enc[0] + 1:] if not _node(ln).startswith("Project")
    )
    return below.startswith("Filter") and "coarse_id" in below


def test_inline_ivfpq_prunes_below_the_encode(spark):
    """The inline searches probe the IVF-PQ layout frame: the
    `coarse_id IN (...)` filter must land below the encode projection,
    so only probed cells are encoded."""
    rnd = random.Random(3)
    dim, m = 4, 2
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(60)],
        "id long, features array<double>",
    )
    centers = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
               [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    books = [[[rnd.uniform(-1, 1) for _ in range(dim // m)] for _ in range(4)]
             for _ in range(m)]
    queries = [[1.0, 0.0, 0.0, 0.0]]  # unit: the batch path normalizes
    lit = SIM.ivfpq_topk(vecs, queries, centers, books, k=3, nprobe=1, refine=10)
    assert _filtered_before_encode(lit)
    qtab = spark.createDataFrame([(0, queries[0])], "qid long, qvec array<double>")
    batch = SIM.ivfpq_batch_topk(vecs, qtab, centers, books, k=3, nprobe=1,
                                 refine=10)
    assert _filtered_before_encode(batch)
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, lit.collect()))


# ---------------------------------------------------------------- AST guard


def _is_call(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, (ast.Attribute, ast.Name))
        and (node.func.attr if isinstance(node.func, ast.Attribute)
             else node.func.id) == attr
    )


def _is_center_transform(node: ast.AST) -> bool:
    """`F.transform(<lit_array(...)>, ...)`: a map over a center literal."""
    return (
        _is_call(node, "transform")
        and bool(node.args)
        and _is_call(node.args[0], "lit_array")
    )


def _over_center_literal(tree: ast.AST, fn: str, owner: str | None = None) -> list[ast.Call]:
    """`fn` calls over a transform of a center literal, directly or
    through a name bound to one in the same top-level definition,
    outside the top-level function `owner`."""
    found = []
    for top in getattr(tree, "body", []):
        if isinstance(top, ast.FunctionDef) and top.name == owner:
            continue
        bound = {
            t.id
            for n in ast.walk(top)
            if isinstance(n, ast.Assign) and _is_center_transform(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(top):
            if _is_call(n, fn) and n.args and (
                _is_center_transform(n.args[0])
                or (isinstance(n.args[0], ast.Name) and n.args[0].id in bound)
            ):
                found.append(n)
    return found


def probe_sorts(tree: ast.AST) -> list[ast.Call]:
    """Copies of the probe sort outside `probe_cells`."""
    return _over_center_literal(tree, "array_sort", owner="probe_cells")


def nearest_center_copies(tree: ast.AST) -> list[ast.Call]:
    """Column-form copies of `lloyd.nearest_center`: `array_min` over a
    transform of a center literal."""
    return _over_center_literal(tree, "array_min")


def adc_closures(tree: ast.AST) -> list[ast.FunctionDef]:
    """Nested `def _adc` wrappers around `_adc_expr`."""
    nested = {
        inner
        for outer in ast.walk(tree)
        if isinstance(outer, (ast.FunctionDef, ast.AsyncFunctionDef))
        for inner in ast.walk(outer)
        if inner is not outer
        and isinstance(inner, ast.FunctionDef)
        and inner.name == "_adc"
    }
    return sorted(nested, key=lambda n: n.lineno)


def _sites(package: Path, finder) -> list[str]:
    return [
        f"{path.relative_to(package.parent)}:{node.lineno}"
        for path in sorted(package.rglob("*.py"))
        for node in finder(ast.parse(path.read_text()))
    ]


def test_probe_rule_has_one_definition():
    sites = _sites(PACKAGE, probe_sorts)
    assert not sites, "probe cells with similarity.probe_cells:\n" + "\n".join(sites)


def test_nearest_center_has_one_definition():
    sites = [s for s in _sites(PACKAGE, nearest_center_copies)
             if not s.startswith("apachebeamkmeans_spark/operators/kmeans/lloyd.py:")]
    assert not sites, "find the nearest center with lloyd.nearest_center:\n" + "\n".join(sites)


def test_adc_sum_has_no_wrappers():
    sites = _sites(PACKAGE, adc_closures)
    assert not sites, "call similarity._adc_expr directly:\n" + "\n".join(sites)
