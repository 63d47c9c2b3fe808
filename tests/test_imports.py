"""Tooling law: every ``from pyspark_mrdf_spark... import name`` in the
repo resolves — function-local imports included — and so does every
attribute read off a package module bound by an import
(``from pyspark_mrdf_spark.operators import quantize as Q`` then
``Q.name``; ``import pyspark_mrdf_spark.x as m`` then ``m.name``).
Scripts no Tier-1 test runs (``scripts/scaling_probe.py``,
``scripts/explain_dump.py``) would otherwise keep a removed name until
someone next runs them."""

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


def _resolve(module, name):
    """True when ``module.name`` exists, as an attribute or a submodule."""
    if name == "*" or hasattr(importlib.import_module(module), name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _own_nodes(scope):
    """The nodes of one scope, without descending into nested scopes."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, _SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _import_bindings(node):
    """name -> package module for the names an import statement binds
    to a package module (``None`` for every other name it binds)."""
    if isinstance(node, ast.Import):
        for alias in node.names:
            if alias.asname:
                pkg = alias.name.startswith("pyspark_mrdf_spark.")
                yield alias.asname, alias.name if pkg else None
    elif isinstance(node, ast.ImportFrom):
        pkg = node.level == 0 and node.module and (
            node.module == "pyspark_mrdf_spark" or node.module.startswith("pyspark_mrdf_spark.")
        )
        for alias in node.names:
            module = None
            if pkg:
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                    module = f"{node.module}.{alias.name}"
                except ImportError:
                    pass
            yield alias.asname or alias.name, module


def _module_attribute_loads(path):
    """(lineno, module, attr) for every ``alias.attr`` load whose alias
    an import in an enclosing scope bound to a package module (a name
    the scope rebinds in any other way is not followed)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)

    def visit(scope, bound):
        bound = dict(bound)
        nodes = list(_own_nodes(scope))
        if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            for arg in ast.walk(scope.args):
                if isinstance(arg, ast.arg):
                    bound.pop(arg.arg, None)
        for node in nodes:
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                bound.pop(node.id, None)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bound.pop(node.name, None)
        for node in nodes:
            for name, module in _import_bindings(node):
                if module is None:
                    bound.pop(name, None)
                else:
                    bound[name] = module
        for node in nodes:
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                yield node.lineno, bound[node.value.id], node.attr
            elif isinstance(node, _SCOPES):
                yield from visit(node, bound)

    yield from visit(tree, {})


def test_every_package_import_resolves():
    files = list(_python_files())
    assert len(files) > 50
    unresolved = []
    for path in files:
        for lineno, module, name in _package_imports(path):
            try:
                ok = _resolve(module, name)
            except ImportError as e:
                unresolved.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module} ({e})")
                continue
            if not ok:
                unresolved.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{name}")
    if unresolved:
        pytest.fail("unresolved imports:\n" + "\n".join(unresolved))


def test_every_package_module_attribute_resolves():
    files = list(_python_files())
    unresolved = [
        f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{attr}"
        for path in files
        for lineno, module, attr in _module_attribute_loads(path)
        if not _resolve(module, attr)
    ]
    if unresolved:
        pytest.fail("unresolved module attributes:\n" + "\n".join(unresolved))
