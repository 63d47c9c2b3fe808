"""Tooling law: every lineage cut in the package goes through
``operators/util.checkpoint``. No module but ``operators/util.py`` may
call ``.localCheckpoint(...)`` or ``.checkpoint(...)`` itself, or the
``spark.graft.checkpoint.reliable`` flag stops reaching that cut.

Calls of ``checkpoint`` through a name bound to the util module
(``util.checkpoint(df)``) are the policy, not a bypass. Docstrings and
comments that mention ``localCheckpoint`` are not calls."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pyspark_mrdf_spark")
POLICY = os.path.join(PACKAGE, "operators", "util.py")
UTIL_MODULE = "pyspark_mrdf_spark.operators.util"
CUTS = ("localCheckpoint", "checkpoint")


def _dotted(node):
    """``a.b.c`` for a Name/Attribute chain, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


def _util_aliases(tree):
    """Names an import statement binds to the util module itself."""
    names = {UTIL_MODULE}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == UTIL_MODULE and alias.asname:
                    names.add(alias.asname)
        elif isinstance(node, ast.ImportFrom) and node.module == "pyspark_mrdf_spark.operators":
            for alias in node.names:
                if alias.name == "util":
                    names.add(alias.asname or "util")
    return names


def direct_cuts(source, filename="<string>"):
    """(line, call text) of every checkpoint call that bypasses the util
    module."""
    tree = ast.parse(source, filename=filename)
    util = _util_aliases(tree)
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in CUTS
            and not (node.func.attr == "checkpoint" and _dotted(node.func.value) in util)
        ):
            out.append((node.lineno, ast.unparse(node.func)))
    return out


def _package_files():
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != POLICY:
                yield path


@pytest.mark.parametrize(
    "source, n",
    [
        ("df.localCheckpoint(eager=False)", 1),
        ("df.select('a').checkpoint(eager=True)", 1),
        ("f(x).localCheckpoint()", 1),
        ('def f(df):\n    """runs ``df.localCheckpoint(eager=False)``"""\n', 0),
        ("from pyspark_mrdf_spark.operators.util import checkpoint\ncheckpoint(df)", 0),
        ("df.transform(checkpoint)", 0),
        ("from pyspark_mrdf_spark.operators import util\nutil.checkpoint(df)", 0),
        ("from pyspark_mrdf_spark.operators import util as U\nU.checkpoint(df, eager=True)", 0),
        ("import pyspark_mrdf_spark.operators.util as U\nU.checkpoint(df)", 0),
        ("pyspark_mrdf_spark.operators.util.checkpoint(df)", 0),
        ("from pyspark_mrdf_spark.operators import util\nutil.localCheckpoint(df)", 1),
        ("other.checkpoint(df)", 1),
    ],
)
def test_detector_classifies_calls(source, n):
    assert len(direct_cuts(source)) == n


def test_no_checkpoint_outside_util():
    found = []
    for path in _package_files():
        with open(path, encoding="utf-8") as f:
            for line, call in direct_cuts(f.read(), path):
                found.append(f"{os.path.relpath(path, ROOT)}:{line}: {call}(...)")
    assert not found, (
        "lineage cuts that bypass operators.util.checkpoint (and so ignore "
        "spark.graft.checkpoint.reliable):\n" + "\n".join(found)
    )
