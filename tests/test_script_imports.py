"""bench.py and scale_check.py are run by hand, not imported by the suite,
so a renamed or deleted package name would break them silently.  Walk
every ``from hive_serde_schema_gen_spark… import …`` (and ``import
hive_serde_schema_gen_spark…``) in both scripts, at any depth — most sit
inside functions — and check that each module imports and each name
resolves.  No Spark session is needed: the package starts none on
import."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hive_serde_schema_gen_spark"


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
            if (node.module or "").split(".")[0] == PKG:
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


@pytest.mark.parametrize("script", ["bench.py", "scale_check.py"])
def test_script_package_imports_resolve(script):
    found = list(_package_imports(script))
    assert len(found) > 10, found  # the walk reaches the nested imports
    broken = [
        f"{script}:{line}: from {module} import {name}"
        for line, module, name in found
        if not _resolves(module, name)
    ]
    assert broken == []


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
