"""Tooling law: every ``from pyspark_mrdf_spark... import name`` in the
repo resolves — function-local imports included. Scripts no test runs
(``scripts/scalability.py``) would otherwise keep a removed name
until someone next runs them."""

from __future__ import annotations

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("pyspark_mrdf_spark", "tests", "scripts", "bench.py", "__spark_entry__.py")


def _python_files():
    for src in SOURCES:
        path = os.path.join(ROOT, src)
        if os.path.isfile(path):
            yield path
            continue
        for dirpath, _dirs, files in os.walk(path):
            yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))


def _package_imports(path):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module == "pyspark_mrdf_spark" or node.module.startswith("pyspark_mrdf_spark.")
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def test_every_package_import_resolves():
    files = list(_python_files())
    assert len(files) > 50
    unresolved = []
    for path in files:
        for lineno, module, name in _package_imports(path):
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                unresolved.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module} ({e})")
                continue
            if name == "*" or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                unresolved.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{name}")
    if unresolved:
        pytest.fail("unresolved imports:\n" + "\n".join(unresolved))
