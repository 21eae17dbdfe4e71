"""Dead-code guard: every module, top-level function and top-level class in
``ir_analyses_spark/`` must be named in some ``*.py`` file outside
``tests/`` other than its own definition. A name that only tests mention is
code with no production caller — delete it (and its tests), or record why it
stays in ``KEEP``.

The check is textual (whole-word match), so a name used only in a string
such as a registry key or a lazy import still counts as used.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "ir_analyses_spark")

#: names that stay although no file outside tests/ names them
KEEP = {
    "company_selection_list": "the reference UI's read surface over the "
    "companies dim (queries/summary.py)",
    "train_quality_classifier": "the only producer of the model file that "
    "curatectl.py --quality-model loads",
    "py_clean_text": "the pure-Python reference implementation that the "
    "curation property tests compare clean_text against",
}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        rel = os.path.relpath(root, REPO)
        top = rel.split(os.sep)[0]
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        if top == "tests":
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _definitions(path: str, source: str):
    """(name, first line, last line) of the module itself and of each
    top-level function and class; line spans are 1-based and inclusive."""
    stem = os.path.splitext(os.path.basename(path))[0]
    if stem != "__init__":
        yield stem, 1, len(source.splitlines())
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def test_every_engine_definition_has_a_caller_outside_tests():
    word = re.compile(r"\w+")
    sources, files_naming = {}, {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()
        for w in set(word.findall(sources[path])):
            files_naming.setdefault(w, set()).add(path)

    dead = []
    for path, source in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        lines = source.splitlines()
        for name, first, last in _definitions(path, source):
            if name in KEEP:
                continue
            elsewhere = files_naming.get(name, set()) - {path}
            rest = lines[: first - 1] + lines[last:]
            if not elsewhere and name not in word.findall("\n".join(rest)):
                dead.append(f"{os.path.relpath(path, REPO)}:{first} {name}")

    assert not dead, (
        "defined in ir_analyses_spark/ but named by no file outside tests/ "
        "(delete it, or add it to KEEP with a reason):\n  " + "\n  ".join(sorted(dead))
    )


def test_keep_entries_are_still_defined():
    defined = set()
    for path in _py_files():
        if path.startswith(PACKAGE + os.sep):
            with open(path, encoding="utf-8") as fh:
                defined.update(n for n, _, _ in _definitions(path, fh.read()))
    assert not set(KEEP) - defined, sorted(set(KEEP) - defined)
