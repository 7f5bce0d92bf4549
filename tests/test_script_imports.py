"""bench.py, scale_check.py and the scripts under plans/ are run by hand,
not imported by the suite, so a renamed or deleted package name would
break them silently.  Walk every ``from hive_serde_schema_gen_spark…
import …`` (and ``import hive_serde_schema_gen_spark…``, and the plans
scripts' ``from bench import …``) in each script, at any depth — most sit
inside functions — and check that each module imports and each name
resolves.  No Spark session is needed: the package starts none on
import."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hive_serde_schema_gen_spark"
# the repo-root modules a script may import, besides the package
ROOT_MODULES = (PKG, "bench")
PLAN_SCRIPTS = sorted(
    os.path.relpath(path, ROOT)
    for path in glob.glob(os.path.join(ROOT, "plans", "r18", "*.py"))
) + [os.path.join("plans", "r17", "isolate.py")]


def _package_imports(script):
    """(line, module, name) for every package import in ``script``, and
    for every ``alias.name`` read through a module bound by ``import …
    as alias`` or ``from … import submodule as alias``; name is None for
    a plain ``import``."""
    with open(os.path.join(ROOT, script)) as f:
        tree = ast.parse(f.read(), script)
    modules = {}  # alias -> dotted module path
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] in ROOT_MODULES:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
                    if alias.asname:
                        modules[alias.asname] = f"{node.module}.{alias.name}"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None
                    if alias.asname:
                        modules[alias.asname] = alias.name
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in modules):
            module = modules[node.value.id]
            if importlib.util.find_spec(module) is not None:
                yield node.lineno, module, node.attr


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def _broken(script, found):
    return [
        f"{script}:{line}: from {module} import {name}"
        for line, module, name in found
        if not _resolves(module, name)
    ]


@pytest.mark.parametrize("script", ["bench.py", "scale_check.py"])
def test_script_package_imports_resolve(script):
    found = list(_package_imports(script))
    assert len(found) > 10, found  # the walk reaches the nested imports
    assert _broken(script, found) == []


@pytest.mark.parametrize("script", PLAN_SCRIPTS)
def test_plan_script_imports_resolve(script):
    found = list(_package_imports(script))
    assert found
    assert _broken(script, found) == []


def test_bench_headline_table():
    """bench.py's one table of the callables it times, which the plans
    scripts import: every headliner has a query, and nothing else."""
    import bench

    queries = bench.headline_queries()
    assert sorted(queries) == sorted(bench.HEADLINE)
    assert all(callable(q) for q in queries.values())


def _unused_relative_imports():
    """``module:line: name`` for every module-level ``from .x import name``
    in the package that its module neither reads nor lists in
    ``__all__``: such a name is a re-export, and a re-export façade keeps
    a second spelling of every import path alive."""
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            listed = set()
            for node in tree.body:
                if isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__"
                    for t in node.targets
                ):
                    listed |= {e.value for e in node.value.elts}
            for node in tree.body:
                if isinstance(node, ast.ImportFrom) and node.level > 0:
                    for alias in node.names:
                        name = alias.asname or alias.name
                        if name not in read and name not in listed:
                            rel = os.path.relpath(path, ROOT)
                            yield f"{rel}:{node.lineno}: {name}"


def test_package_has_no_reexport_facades():
    assert list(_unused_relative_imports()) == []
