"""Dead-code guard: every module, top-level function and top-level class in
``ir_analyses_spark/`` must be named in some ``*.py`` file outside
``tests/`` other than its own definition. A name that only tests mention is
code with no production caller — delete it (and its tests), or record why it
stays in ``KEEP``.

The check is textual (whole-word match), so a name used only in a string
such as a registry key or a lazy import still counts as used. An attribute
of another library does not: ``<alias>.<name>`` is not a use of ``<name>``
when the file binds ``<alias>`` by importing from outside
``ir_analyses_spark`` (``pq.write_table`` names pyarrow's function), and
a comment or docstring, in any file, is not a use either.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize
from collections import Counter

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
    # curation operators that only their own module's docstring named;
    # whether each joins a curation pipeline or goes with its tests is a
    # decision about the LLM operators, not about this guard
    "bloom_decontaminate_filter_packed": "the zero-shuffle form of "
    "bloom_decontaminate_filter, kept as the measured alternative its "
    "docstring and SCALE.md compare (the streaming-friendly form)",
    "strip_tags_df": "the JVM fast-path HTML stripper beside extract_text_df, "
    "held to its DuckDB twin strip_tags_sql by tests/test_html_extract.py",
    "strip_tags_sql": "the DuckDB twin of strip_tags_df",
    "global_frequent_units": "the corpus-wide unit frequency table that "
    "explains remove_global_duplicate_units' cut (llm/linedup.py)",
    "nfkc_normalize_df": "the full-NFKC tier of llm/textnorm.py, which the "
    "JVM clean_text_expr tier cannot express",
    "clean_text_sql": "the DuckDB twin of clean_text_df, which "
    "tests/test_textnorm.py holds clean_text_df to",
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


def _foreign_aliases(source: str) -> set[str]:
    """The names a file binds by importing from outside ``ir_analyses_spark``."""
    out = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != "ir_analyses_spark":
                    out.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] != "ir_analyses_spark":
                out.update(a.asname or a.name for a in node.names)
    return out


def _code_lines(source: str) -> list[str]:
    """``source``'s lines with every comment cut off and every docstring
    line blanked: what is left is what the code names."""
    docs = set()
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list) and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            docs.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = source.split("\n")  # the lines tokenize numbers
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return ["" if i in docs else line for i, line in enumerate(lines, 1)]


def _named(source: str, aliases: set[str]) -> set[str]:
    """Words of ``source``, less those that occur only as
    ``<alias>.<word>`` for one of ``aliases``."""
    words = Counter(re.findall(r"\w+", source))
    if aliases:
        pattern = r"\b(?:%s)\s*\.\s*(\w+)" % "|".join(map(re.escape, aliases))
        words.subtract(Counter(re.findall(pattern, source)))
    return {w for w, n in words.items() if n > 0}


def test_every_engine_definition_has_a_caller_outside_tests():
    sources, code, aliases, files_naming = {}, {}, {}, {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            sources[path] = fh.read()
        code[path] = _code_lines(sources[path])
        aliases[path] = _foreign_aliases(sources[path])
        for w in _named("\n".join(code[path]), aliases[path]):
            files_naming.setdefault(w, set()).add(path)

    dead = []
    for path, source in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for name, first, last in _definitions(path, source):
            if name in KEEP:
                continue
            elsewhere = files_naming.get(name, set()) - {path}
            # within its own file, only code outside the definition counts
            rest = "\n".join(
                line for i, line in enumerate(code[path], 1)
                if not first <= i <= last
            )
            if not elsewhere and name not in _named(rest, aliases[path]):
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
