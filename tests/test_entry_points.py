"""Every package name the entry points use must resolve.

``perfbench/``, ``scripts/``, ``bench*.py`` and ``__spark_entry__.py``
import much of ``namedis_spark`` lazily, inside functions, so deleting or
renaming a function they call breaks them only when that code path runs
(``perfbench/run.py --trace 1`` for the traced pipeline, for example). This
test walks their syntax trees instead and checks, without starting Spark:

* every ``from namedis_spark... import X``, function-local ones included;
* every ``m.X`` attribute read where ``m`` is bound to a ``namedis_spark``
  module by an import in the same or an enclosing scope.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "namedis_spark"

ENTRY_FILES = sorted(
    glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "bench*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py")]
)

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _is_module(name: str) -> bool:
    try:
        importlib.import_module(name)
    except ModuleNotFoundError:
        return False
    return True


def _uses(tree: ast.Module) -> list[tuple[str, str, int]]:
    """(module, name, line) for every package name the file reads."""
    uses: list[tuple[str, str, int]] = []

    def walk(node: ast.AST, bound: dict[str, str]) -> None:
        # module bindings made directly in this scope (not in nested ones)
        bound = dict(bound)
        for child in _scope_nodes(node):
            if isinstance(child, ast.Import):
                for a in child.names:
                    if a.name.split(".")[0] == PACKAGE:
                        if a.asname:
                            bound[a.asname] = a.name
            elif isinstance(child, ast.ImportFrom):
                mod = child.module or ""
                if child.level == 0 and mod.split(".")[0] == PACKAGE:
                    for a in child.names:
                        uses.append((mod, a.name, child.lineno))
                        if _is_module(f"{mod}.{a.name}"):
                            bound[a.asname or a.name] = f"{mod}.{a.name}"
        for child in _scope_nodes(node):
            if (
                isinstance(child, ast.Attribute)
                and isinstance(child.value, ast.Name)
                and child.value.id in bound
            ):
                uses.append((bound[child.value.id], child.attr, child.lineno))
            if isinstance(child, _SCOPES):
                walk(child, bound)

    walk(tree, {})
    return uses


def _scope_nodes(scope: ast.AST):
    """Nodes of ``scope`` down to (and including) nested scope roots."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, _SCOPES):
            stack.extend(ast.iter_child_nodes(n))


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    return hasattr(mod, name) or _is_module(f"{module}.{name}")


@pytest.mark.parametrize(
    "path", ENTRY_FILES, ids=[os.path.relpath(p, ROOT) for p in ENTRY_FILES]
)
def test_entry_point_names_resolve(path):
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    missing = [
        f"{os.path.relpath(path, ROOT)}:{line}: {module}.{name}"
        for module, name, line in _uses(tree)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolvable package names:\n" + "\n".join(missing)


def test_walker_sees_lazy_and_attribute_uses():
    """The traced benchmark's lazy imports and ``corpus.X`` reads are
    found, so the check above cannot pass by finding nothing."""
    with open(os.path.join(ROOT, "perfbench", "tracing.py")) as f:
        uses = {(m, n) for m, n, _ in _uses(ast.parse(f.read()))}
    assert ("namedis_spark.operators.scoring", "score_pairs_grouped") in uses
    assert ("namedis_spark.operators.corpus", "term_and_name_stats") in uses
