"""Gopher/RefinedWeb-style document quality rules for training-data
curation (SURVEY §2B LLM ext — quality scoring, extended).

Implements the public heuristic rule families from Gopher (Rae et al.
2021, arXiv:2112.11446 §A1.1) and RefinedWeb (Penedo et al. 2023,
arXiv:2306.01116): per-document scalar signals (word counts, mean word
length, symbol/word ratio, bullet/ellipsis line ratios, alphabetic-word
fraction, stopword presence) and repetition signals (duplicate
line/paragraph fractions by count and by character mass).

Scale posture: the suite is ONE projection over the corpus — every
signal is a native column expression (split / filter / aggregate
higher-order functions, all JVM-side), no shuffle, no UDF, no collect.
At 100 TB it remains a linear scan.

Exactness: every fraction is an exact-integer numerator and denominator
divided once as DOUBLE, so the DuckDB twins (*_SQL below) reproduce the
values bit-for-bit — the same cross-engine-exactness discipline as
`llm/textstats.py`.

New module per the evidence-ledger rule (new operators never land in
certified modules). Not in the driver registry (growth frozen at 150
this round); verified by `tests/test_quality_rules.py` DuckDB parity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..io.sources import load_table

#: The Gopher stopword list (arXiv:2112.11446 §A1.1): a document must
#: contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: Symbols counted against words (Gopher: hash and ellipsis).
_SYMBOL_PATTERN = r"#|\.\.\.|…"
_BULLET_PATTERN = r"^\s*[-*•]"
_ELLIPSIS_END_PATTERN = r"(…|\.\.\.)\s*$"

#: Default accept thresholds (Gopher §A1.1 values).
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stopwords_present": 2,
    "max_dup_line_frac": 0.3,
    "max_dup_para_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    "max_dup_para_char_frac": 0.2,
}


def _nonempty(arr: Column) -> Column:
    return F.filter(arr, lambda x: x != F.lit(""))


def _nonblank(arr: Column) -> Column:
    """Keep only segments containing a non-whitespace character — a
    whitespace-only 'line' or 'paragraph' is not a line of content."""
    return F.filter(arr, lambda x: x.rlike(r"\S"))


def _sz(arr: Column) -> Column:
    """NULL-safe size: the engine runs non-ANSI, where size(NULL) is -1;
    a NULL document must report NULL counts (as DuckDB's len does)."""
    return F.when(arr.isNotNull(), F.size(arr))


def _char_sum(arr: Column) -> Column:
    """Total characters across an array of strings (exact int)."""
    return F.aggregate(
        F.transform(arr, lambda s: F.length(s)), F.lit(0), lambda a, x: a + x
    )


def _frac(num: Column, den: Column) -> Column:
    """Exact-int numerator/denominator → DOUBLE, NULL when den == 0 —
    the one place a float is produced, mirrored verbatim in SQL."""
    return F.when(den > 0, num.cast("double") / den)


#: Output + intermediate names a ``keep`` column may not shadow.
_SIGNAL_COLUMNS = frozenset(
    {
        "n_words", "mean_word_len", "symbol_word_ratio", "alpha_word_frac",
        "stopwords_present", "n_lines", "bullet_line_frac",
        "ellipsis_line_frac", "dup_line_frac", "dup_line_char_frac",
        "n_paras", "dup_para_frac", "dup_para_char_frac",
        # tier intermediates
        "words", "lines", "paras", "nonspace_chars", "symbol_hits",
        "alpha_words", "bullet_lines", "ellipsis_lines", "n_dist_lines",
        "n_dist_paras", "line_chars", "dist_line_chars", "para_chars",
        "dist_para_chars", "passes_gopher",
    }
)


def quality_signals_df(
    docs: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality signals over a (doc_id, text) frame.

    Single scan; see module docstring for the rule provenance. Line
    metrics ignore blank lines; paragraphs are runs split on blank
    lines. The select is deliberately STACKED (arrays → exact counts →
    fractions): each tier's aliases are non-cheap expressions referenced
    several times downstream, so CollapseProject keeps the tiers as
    separate Projects and the split/filter arrays are materialized ONCE
    per row instead of once per signal — at corpus scale that's the
    difference between ~4 and ~40 regex passes over every document.

    ``keep`` carries extra input columns through to the output
    unchanged (e.g. ``("text", "url")``) — signals stay join-free for
    consumers that need the document next to its scores, which is also
    what makes the gate streaming-safe (a projection needs no
    watermark; a self-join would).
    """
    bad = [k for k in keep if k in _SIGNAL_COLUMNS or k == "doc_id"]
    if bad:
        raise ValueError(f"keep columns collide with signal columns: {bad}")
    arrays = docs.select(
        "doc_id",
        *keep,
        _nonempty(F.split("text", r"\s+")).alias("words"),
        _nonblank(F.split("text", r"\n")).alias("lines"),
        _nonblank(F.split("text", r"\n{2,}")).alias("paras"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("nonspace_chars"),
        F.size(
            F.regexp_extract_all("text", F.lit(_SYMBOL_PATTERN), F.lit(0))
        ).alias("symbol_hits"),
    )
    w, li, pa = F.col("words"), F.col("lines"), F.col("paras")
    counts = arrays.select(
        "doc_id",
        *keep,
        "nonspace_chars",
        "symbol_hits",
        _sz(w).alias("n_words"),
        _sz(li).alias("n_lines"),
        _sz(pa).alias("n_paras"),
        _sz(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).alias("alpha_words"),
        sum(
            F.array_contains(w, F.lit(s)).cast("int") for s in GOPHER_STOPWORDS
        ).alias("stopwords_present"),
        _sz(F.filter(li, lambda l: l.rlike(_BULLET_PATTERN))).alias(
            "bullet_lines"
        ),
        _sz(F.filter(li, lambda l: l.rlike(_ELLIPSIS_END_PATTERN))).alias(
            "ellipsis_lines"
        ),
        _sz(F.array_distinct(li)).alias("n_dist_lines"),
        _sz(F.array_distinct(pa)).alias("n_dist_paras"),
        _char_sum(li).alias("line_chars"),
        _char_sum(F.array_distinct(li)).alias("dist_line_chars"),
        _char_sum(pa).alias("para_chars"),
        _char_sum(F.array_distinct(pa)).alias("dist_para_chars"),
    )
    c = F.col
    return counts.select(
        "doc_id",
        *keep,
        c("n_words"),
        _frac(c("nonspace_chars"), c("n_words")).alias("mean_word_len"),
        _frac(c("symbol_hits"), c("n_words")).alias("symbol_word_ratio"),
        _frac(c("alpha_words"), c("n_words")).alias("alpha_word_frac"),
        c("stopwords_present"),
        c("n_lines"),
        _frac(c("bullet_lines"), c("n_lines")).alias("bullet_line_frac"),
        _frac(c("ellipsis_lines"), c("n_lines")).alias("ellipsis_line_frac"),
        _frac(c("n_lines") - c("n_dist_lines"), c("n_lines")).alias(
            "dup_line_frac"
        ),
        _frac(c("line_chars") - c("dist_line_chars"), c("line_chars")).alias(
            "dup_line_char_frac"
        ),
        c("n_paras"),
        _frac(c("n_paras") - c("n_dist_paras"), c("n_paras")).alias(
            "dup_para_frac"
        ),
        _frac(c("para_chars") - c("dist_para_chars"), c("para_chars")).alias(
            "dup_para_char_frac"
        ),
    )


def quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals over the `documents` table."""
    return quality_signals_df(load_table(spark, "documents", sf_dir))


def gopher_flags_df(
    docs: DataFrame,
    thresholds: dict | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Signals + one boolean per Gopher rule + the conjunctive verdict.

    NULL signals (empty documents) fail their rule — a curation filter
    must quarantine empties, not pass them through a NULL comparison.
    ``keep`` passes input columns through (see
    :func:`quality_signals_df`) so gating stays join-free.
    """
    t = dict(GOPHER_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(t)
        if unknown:
            raise ValueError(f"unknown quality thresholds: {sorted(unknown)}")
        t.update(thresholds)
    s = quality_signals_df(docs, keep)

    def ok(cond: Column) -> Column:
        return F.coalesce(cond, F.lit(False))

    rules = {
        "ok_words": ok(
            (F.col("n_words") >= t["min_words"])
            & (F.col("n_words") <= t["max_words"])
        ),
        "ok_mean_word_len": ok(
            (F.col("mean_word_len") >= t["min_mean_word_len"])
            & (F.col("mean_word_len") <= t["max_mean_word_len"])
        ),
        "ok_symbols": ok(F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"]),
        "ok_bullets": ok(F.col("bullet_line_frac") <= t["max_bullet_line_frac"]),
        "ok_ellipsis": ok(
            F.col("ellipsis_line_frac") <= t["max_ellipsis_line_frac"]
        ),
        "ok_alpha": ok(F.col("alpha_word_frac") >= t["min_alpha_word_frac"]),
        "ok_stopwords": ok(
            F.col("stopwords_present") >= t["min_stopwords_present"]
        ),
        "ok_dup_lines": ok(
            (F.col("dup_line_frac") <= t["max_dup_line_frac"])
            & (F.col("dup_line_char_frac") <= t["max_dup_line_char_frac"])
        ),
        "ok_dup_paras": ok(
            (F.col("dup_para_frac") <= t["max_dup_para_frac"])
            & (F.col("dup_para_char_frac") <= t["max_dup_para_char_frac"])
        ),
    }
    out = s
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    verdict = None
    for name in rules:
        verdict = F.col(name) if verdict is None else (verdict & F.col(name))
    return out.withColumn("passes_gopher", verdict)


def gopher_flags(
    spark: SparkSession, sf_dir: str, thresholds: dict | None = None
) -> DataFrame:
    """Gopher rule flags over the `documents` table."""
    return gopher_flags_df(load_table(spark, "documents", sf_dir), thresholds)


def _stopword_sql_terms() -> str:
    return "\n         + ".join(
        f"CAST(list_contains(words, '{s}') AS INT)" for s in GOPHER_STOPWORDS
    )


#: DuckDB twin of :func:`quality_signals` — identical exact-int
#: numerators/denominators, single DOUBLE division, NULL on zero
#: denominator. ``__TABLE__`` is substituted with the documents
#: view/table name (plain replace — the SQL itself is full of braces).
QUALITY_SIGNALS_SQL_TEMPLATE = rf"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), w -> w != '') AS words,
         list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '\S')) AS lines,
         list_filter(regexp_split_to_array(text, '\n{{2,}}'), p -> regexp_matches(p, '\S')) AS paras,
         length(regexp_replace(text, '\s', '', 'g')) AS nonspace_chars,
         length(regexp_extract_all(text, '{_SYMBOL_PATTERN}')) AS symbol_hits
  FROM __TABLE__
), sized AS (
  SELECT *,
         len(words) AS n_words,
         len(lines) AS n_lines,
         len(paras) AS n_paras,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         {_stopword_sql_terms()} AS stopwords_present,
         len(list_filter(lines, l -> regexp_matches(l, '{_BULLET_PATTERN}'))) AS bullet_lines,
         len(list_filter(lines, l -> regexp_matches(l, '{_ELLIPSIS_END_PATTERN}'))) AS ellipsis_lines,
         len(list_distinct(lines)) AS n_dist_lines,
         len(list_distinct(paras)) AS n_dist_paras,
         COALESCE(list_aggregate(list_transform(lines, l -> length(l)), 'sum'), 0) AS line_chars,
         COALESCE(list_aggregate(list_transform(list_distinct(lines), l -> length(l)), 'sum'), 0) AS dist_line_chars,
         COALESCE(list_aggregate(list_transform(paras, p -> length(p)), 'sum'), 0) AS para_chars,
         COALESCE(list_aggregate(list_transform(list_distinct(paras), p -> length(p)), 'sum'), 0) AS dist_para_chars
  FROM base
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       CASE WHEN n_words > 0 THEN CAST(nonspace_chars AS DOUBLE) / n_words END AS mean_word_len,
       CASE WHEN n_words > 0 THEN CAST(symbol_hits AS DOUBLE) / n_words END AS symbol_word_ratio,
       CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words END AS alpha_word_frac,
       CAST(stopwords_present AS INT) AS stopwords_present,
       CAST(n_lines AS INT) AS n_lines,
       CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / n_lines END AS bullet_line_frac,
       CASE WHEN n_lines > 0 THEN CAST(ellipsis_lines AS DOUBLE) / n_lines END AS ellipsis_line_frac,
       CASE WHEN n_lines > 0 THEN CAST(n_lines - n_dist_lines AS DOUBLE) / n_lines END AS dup_line_frac,
       CASE WHEN line_chars > 0 THEN CAST(line_chars - dist_line_chars AS DOUBLE) / line_chars END AS dup_line_char_frac,
       CAST(n_paras AS INT) AS n_paras,
       CASE WHEN n_paras > 0 THEN CAST(n_paras - n_dist_paras AS DOUBLE) / n_paras END AS dup_para_frac,
       CASE WHEN para_chars > 0 THEN CAST(para_chars - dist_para_chars AS DOUBLE) / para_chars END AS dup_para_char_frac
FROM sized
"""


def quality_signals_sql(table: str = "documents") -> str:
    """DuckDB oracle for :func:`quality_signals_df` over ``table``."""
    if not re.fullmatch(r"\w+", table):
        raise ValueError(f"table must be an identifier, got {table!r}")
    return QUALITY_SIGNALS_SQL_TEMPLATE.replace("__TABLE__", table)
