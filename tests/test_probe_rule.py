"""The nearest-center kernel, the IVF-PQ layout frame and the ADC sum
each have one definition: `lloyd.assign_probes` is the lazy twin of
`similarity.nearest_centers`, the inline IVF-PQ searches prune before
they encode, and no module re-derives the nearest center — no Column
fold over a center literal outside `lloyd.nearest_center`, no call of
`nearest_center` outside `lloyd.assign`, no numpy distance fold outside
`lloyd._batch_kernel` — or wraps `_adc_expr`."""

from __future__ import annotations

import ast
import random
from pathlib import Path

import pytest
import apachebeamkmeans_spark
from apachebeamkmeans_spark.operators import similarity as SIM
from apachebeamkmeans_spark.operators.kmeans import lloyd

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
        for r in lloyd.assign_probes(df, CENTERS, nprobe, "f").collect()
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


def _is_center_literal(node: ast.AST) -> bool:
    """`lit_array(...)` or `sql_array_literal(...)` of centers."""
    return (
        (_is_call(node, "lit_array") or _is_call(node, "sql_array_literal"))
        and bool(node.args)
        and "center" in ast.unparse(node.args[0]).lower()
    )


def _sql_transforms_center(node: ast.JoinedStr) -> bool:
    """SQL text `transform(<center literal>, ...)` in an f-string."""
    return any(
        isinstance(prev, ast.Constant)
        and str(prev.value).rstrip().endswith("transform(")
        and isinstance(cur, ast.FormattedValue)
        and _is_center_literal(cur.value)
        for prev, cur in zip(node.values, node.values[1:])
    )


def center_folds(top: ast.AST) -> list[ast.AST]:
    """Column-form nearest-center folds: `transform`, `array_min` or
    `array_sort` over a center literal — directly, through a transform
    of one, or through a name bound to either in the same top-level
    definition — and SQL text that transforms a center literal."""

    def center(n: ast.AST) -> bool:
        return _is_center_literal(n) or (
            _is_call(n, "transform") and bool(n.args) and center(n.args[0])
        )

    bound = {
        t.id
        for n in ast.walk(top)
        if isinstance(n, ast.Assign) and center(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return [
        n
        for n in ast.walk(top)
        if (
            any(_is_call(n, fn) for fn in ("transform", "array_min", "array_sort"))
            and n.args
            and (center(n.args[0])
                 or (isinstance(n.args[0], ast.Name) and n.args[0].id in bound))
        )
        or (isinstance(n, ast.JoinedStr) and _sql_transforms_center(n))
    ]


def nearest_center_calls(top: ast.AST) -> list[ast.Call]:
    """Calls of `nearest_center`, the Column form."""
    return [n for n in ast.walk(top) if _is_call(n, "nearest_center")]


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def distance_folds(top: ast.AST) -> list[ast.For]:
    """Per-dimension numpy distance folds: a `for v in range(...)` loop
    that indexes an array by `v`, indexes an array along several axes
    (`t[:, j]`, `x[j][:, None]`) and accumulates into a name (`acc +=`
    or `acc = acc + ...`)."""
    found = []
    for loop in ast.walk(top):
        if not (isinstance(loop, ast.For) and isinstance(loop.target, ast.Name)
                and _is_call(loop.iter, "range")):
            continue
        body = [n for stmt in loop.body for n in ast.walk(stmt)]
        subs = [n for n in body if isinstance(n, ast.Subscript)]
        accumulates = any(
            (isinstance(n, ast.AugAssign) and isinstance(n.op, ast.Add))
            or (isinstance(n, ast.Assign) and len(n.targets) == 1
                and isinstance(n.targets[0], ast.Name)
                and isinstance(n.value, ast.BinOp) and isinstance(n.value.op, ast.Add)
                and n.targets[0].id in _names(n.value.left))
            for n in body
        )
        if (accumulates and any(isinstance(n.slice, ast.Tuple) for n in subs)
                and any(loop.target.id in _names(n.slice) for n in subs)):
            found.append(loop)
    return found


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


def _sites(package: Path, finder, owner: tuple[str, str] | None = None) -> list[str]:
    """`path:line` of each node `finder` returns for a top-level
    statement, skipping the top-level function `owner` = (path, name)."""
    sites = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package.parent).as_posix()
        for top in ast.parse(path.read_text()).body:
            if owner != (rel, getattr(top, "name", None)):
                sites += [f"{rel}:{n.lineno}" for n in finder(top)]
    return sites


LLOYD = "apachebeamkmeans_spark/operators/kmeans/lloyd.py"


def test_probe_rule_has_one_definition():
    sites = _sites(PACKAGE, center_folds, owner=(LLOYD, "nearest_center"))
    assert not sites, (
        "find nearest centers with lloyd.assign or lloyd.assign_probes:\n"
        + "\n".join(sites)
    )


def test_nearest_center_has_one_definition():
    sites = _sites(PACKAGE, nearest_center_calls, owner=(LLOYD, "assign"))
    assert not sites, "assign with lloyd.assign:\n" + "\n".join(sites)


def test_distance_fold_has_one_definition():
    sites = _sites(PACKAGE, distance_folds, owner=(LLOYD, "_batch_kernel"))
    assert not sites, "fold distances with lloyd._batch_kernel:\n" + "\n".join(sites)


def test_adc_sum_has_no_wrappers():
    sites = _sites(PACKAGE, adc_closures)
    assert not sites, "call similarity._adc_expr directly:\n" + "\n".join(sites)
