"""Tooling law: the "k nearest by (dist, dst)" rule has two homes.

 - Spark side: ``operators/util.topk_merge``. No other package module
   builds a window partitioned by the query key and ordered by
   (distance, neighbour id) — ``Window.partitionBy("src").orderBy(<dist>,
   "dst")`` and its ``qid``/``vid``, ``q_id``/``c_id`` spellings.
 - NumPy side: ``functions/vector.py``. No other module defines an L2
   block top-k: a function that computes an L2 distance block
   (``pairwise_l2_sq`` or ``l2_topk_candidates``) and sorts or selects
   over it (``argsort``, ``lexsort``, ``argpartition``). A nearest-cell
   ``argmin`` is not a top-k.

A descending order key (cosine similarity, BM25) is a different rule
and is not matched."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pyspark_mrdf_spark")
MERGE_HOME = os.path.join(PACKAGE, "operators", "util.py")
KERNEL_HOME = os.path.join(PACKAGE, "functions", "vector.py")

QUERY_KEYS = {"src", "qid", "q_id"}
NEIGHBOUR_KEYS = {"dst", "vid", "c_id"}
DISTANCES = {"pairwise_l2_sq", "l2_topk_candidates"}
SELECTIONS = {"argsort", "lexsort", "argpartition"}

# (module, enclosing function) -> why its window is not the merge
KEPT_WINDOWS = {
    ("algorithms/mrdf.py", "_prefix_topk"): (
        "a running count, not a rank: one pass gives every prefix graph "
        "g_t of a wave and its changed-edge count (t0/out per edge)"
    ),
    ("operators/graph_search.py", "graph_knn_search"): (
        "the per-round beam: it picks the unexpanded frontier among the "
        "beam best, and reruns every round over a growing state"
    ),
}


def _key(node):
    """(column name, descending) of an order/partition key — name None
    for a variable — else None."""
    desc = False
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("asc", "desc")
        and not node.args
    ):
        desc = node.func.attr == "desc"
        node = node.func.value
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
        and len(node.args) == 1
    ):
        node = node.args[0]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value, desc
    if isinstance(node, ast.Name):  # a column name held in a variable
        return None, desc
    return None


def _chain(node):
    """{method: args} of a ``Window.m1(...).m2(...)`` chain, else None."""
    calls = {}
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        calls.setdefault(node.func.attr, node.args)
        node = node.func.value
    if isinstance(node, ast.Name) and node.id == "Window":
        return calls
    return None


def _is_topk_window(calls):
    part = [_key(a) for a in calls.get("partitionBy", [])]
    order = [_key(a) for a in calls.get("orderBy", [])]
    return (
        len(part) == 1
        and part[0] is not None
        and part[0][0] in QUERY_KEYS
        and len(order) >= 2
        and order[0] is not None
        and not order[0][1]
        and order[-1] is not None
        and order[-1][0] in NEIGHBOUR_KEYS
    )


def _functions(tree):
    """(function name, node) for every def, nested ones included, with
    each node's own body (nested defs excluded)."""
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = set()
            for sub in ast.walk(fn):
                if sub is not fn and isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    inner.update(id(n) for n in ast.walk(sub) if n is not sub)
            yield fn.name, [n for n in ast.walk(fn) if id(n) not in inner]


def topk_windows(source):
    """(line, enclosing function) of every (dist, dst) top-k window."""
    tree = ast.parse(source)
    owner = {}
    for name, nodes in _functions(tree):
        for n in nodes:
            owner.setdefault(id(n), name)
    inner = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            inner.add(id(n.func.value))
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and id(n) not in inner:
            calls = _chain(n)
            if calls is not None and _is_topk_window(calls):
                out.append((n.lineno, owner.get(id(n), "<module>")))
    return out


def _called(node):
    if isinstance(node.func, ast.Attribute):
        return node.func.attr
    if isinstance(node.func, ast.Name):
        return node.func.id
    return None


def l2_block_topks(source):
    """(line, name) of every function that selects over an L2 block."""
    out = []
    for name, nodes in _functions(ast.parse(source)):
        called = {_called(n) for n in nodes if isinstance(n, ast.Call)}
        if called & DISTANCES and called & SELECTIONS:
            fn = next(n for n in nodes if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)))
            out.append((fn.lineno, name))
    return out


def _package_files(skip):
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != skip:
                yield path, os.path.relpath(path, PACKAGE).replace(os.sep, "/")


_OLD_MERGE = (
    'wk = Window.partitionBy("src").orderBy("dist_sq", "dst")\n'
    'g.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= k)'
)
_OLD_KERNEL = (
    "def _exact_block(ids, mat, k):\n"
    "    cand, d2 = l2_topk_candidates(mat, mat, k + 1)\n"
    "    sel = np.argsort(d2, axis=1, kind='stable')[:, :k]\n"
)


@pytest.mark.parametrize(
    "source, n",
    [
        (_OLD_MERGE, 1),
        ('w = Window.partitionBy("q_id").orderBy("dist_sq", "c_id")', 1),
        ('w = Window.partitionBy("src").orderBy("dist", "dst")', 1),
        ('w = Window.partitionBy("src").orderBy(dist, "dst")', 1),
        ('w = Window.partitionBy(id_col).orderBy("dist", "dst")', 0),
        ('w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vid"))', 1),
        ('w = Window.partitionBy("src").orderBy("dist_sq", "dst").rowsBetween(a, b)', 1),
        ('w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")', 0),
        ('w = Window.partitionBy("user_id").orderBy("ts", "event_id")', 0),
        ('w = Window.partitionBy("src", "x").orderBy("dist_sq", "dst")', 0),
        ('"""Window.partitionBy("src").orderBy("dist_sq", "dst")"""', 0),
    ],
)
def test_window_detector(source, n):
    assert len(topk_windows(source)) == n


@pytest.mark.parametrize(
    "source, n",
    [
        (_OLD_KERNEL, 1),
        ("def f(q, x):\n    return np.argsort(pairwise_l2_sq(q, x), axis=1)[:, :3]\n", 1),
        ("def f(q, x):\n    return pairwise_l2_sq(q, x).argmin(axis=1)\n", 0),
        ("def f(x, c):\n    cand, d2 = l2_topk_candidates(x, c, 1, pad=0)\n    return d2.argmin(axis=1)\n", 0),
        ("def f(q, x):\n    def g():\n        return np.lexsort((x,))\n    return pairwise_l2_sq(q, x)\n", 0),
    ],
)
def test_kernel_detector(source, n):
    assert len(l2_block_topks(source)) == n


def test_one_spark_topk_merge():
    found, kept = [], set()
    for path, rel in _package_files(MERGE_HOME):
        with open(path, encoding="utf-8") as f:
            for line, fn in topk_windows(f.read()):
                if (rel, fn) in KEPT_WINDOWS:
                    kept.add((rel, fn))
                else:
                    found.append(f"{rel}:{line} in {fn}")
    assert not found, (
        "(dist, dst) top-k windows outside operators/util.topk_merge:\n"
        + "\n".join(found)
    )
    # an allowlist entry whose window is gone is stale: drop it
    assert kept == set(KEPT_WINDOWS)
    with open(MERGE_HOME, encoding="utf-8") as f:
        assert [fn for _, fn in topk_windows(f.read())] == ["topk_merge"]


def test_one_numpy_topk_kernel():
    found = []
    for path, rel in _package_files(KERNEL_HOME):
        with open(path, encoding="utf-8") as f:
            found += [f"{rel}:{line} {name}" for line, name in l2_block_topks(f.read())]
    assert not found, (
        "L2 block top-k kernels outside functions/vector.py:\n" + "\n".join(found)
    )
