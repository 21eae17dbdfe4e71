"""Unused-import guard: every module-level import in ``ir_analyses_spark/``,
``tests/`` and the top-level ``*.py`` files must bind a name that its module
uses. The repo runs no linter, so this is the check that catches an import
left behind when the code that used it goes.

The check is an AST scan: a name counts as used when it occurs as a
``Name`` node anywhere in the module or is listed in ``__all__``.
``__init__.py`` files (re-exports), ``__future__`` imports and lines marked
``# noqa`` are skipped.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files():
    for sub in ("ir_analyses_spark", "tests"):
        for root, dirs, files in os.walk(os.path.join(REPO, sub)):
            dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
            for f in files:
                if f.endswith(".py") and f != "__init__.py":
                    yield os.path.join(root, f)
    for f in sorted(os.listdir(REPO)):
        if f.endswith(".py"):
            yield os.path.join(REPO, f)


def _imports(tree: ast.Module):
    """(bound name, line) of each name a module-level import binds."""
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], a.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    yield a.asname or a.name, a.lineno


def _used(tree: ast.Module) -> set[str]:
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names.update(
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return names


def test_every_module_level_import_is_used():
    unused = []
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            source = fh.read()
        lines = source.splitlines()
        tree = ast.parse(source)
        used = _used(tree)
        for name, line in _imports(tree):
            if "# noqa" not in lines[line - 1] and name not in used:
                unused.append(f"{os.path.relpath(path, REPO)}:{line} {name}")
    assert not unused, "imported but never used:\n  " + "\n  ".join(sorted(unused))
