"""The scripts' package imports resolve.

Each ``scripts/*.py`` names package modules and their top-level
definitions: ``from pkg.mod import name``, ``from pkg import mod as M``
followed by ``M.name``, and ``import pkg.mod``. Deleting package code must
not strand a script, so this resolves every such name against the package
source by AST. No script runs.
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

import pytest

from tests.test_registry_surface import _PKG_NAME, _REPO, _bound_names, _top_level

_SCRIPTS = sorted((_REPO / "scripts").glob("*.py"))


def _module_path(module: str) -> Path | None:
    rel = Path(*module.split("."))
    for path in (_REPO / rel.with_suffix(".py"), _REPO / rel / "__init__.py"):
        if path.is_file():
            return path
    return None


@lru_cache(maxsize=None)
def _top_names(module: str) -> frozenset[str]:
    """Names a module binds at top level: definitions and imports."""
    names: set[str] = set()
    for stmt in _top_level(ast.parse(_module_path(module).read_text()).body):
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in stmt.names)
        else:
            names.update(_bound_names(stmt))
    return frozenset(names)


def _unresolved(source: str) -> list[str]:
    """Dotted package names ``source`` uses that the package does not define."""
    tree = ast.parse(source)
    modules: dict[str, str] = {}  # local alias -> package module
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != _PKG_NAME:
                    continue
                if _module_path(a.name) is None:
                    missing.append(a.name)
                elif a.asname:
                    modules[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == _PKG_NAME:
            if _module_path(node.module) is None:
                missing.append(node.module)
                continue
            for a in node.names:
                if _module_path(f"{node.module}.{a.name}") is not None:
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
                elif a.name not in _top_names(node.module):
                    missing.append(f"{node.module}.{a.name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            mod = modules[node.value.id]
            if node.attr not in _top_names(mod) and _module_path(f"{mod}.{node.attr}") is None:
                missing.append(f"{mod}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", _SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    assert _unresolved(path.read_text()) == []


def test_unresolved_flags_deleted_names():
    pkg = _PKG_NAME
    assert _unresolved(
        f"from {pkg}.plans import extensions as E\n"
        f"from {pkg}.session import get_spark, no_such_fn\n"
        f"import {pkg}.no_such_module\n"
        "E.no_such_query(E.jsonl_corpus_stats)\n"
    ) == [
        f"{pkg}.session.no_such_fn",
        f"{pkg}.no_such_module",
        f"{pkg}.plans.extensions.no_such_query",
    ]
