"""Gopher quality-rule suite (llm/quality_rules.py): DuckDB parity on
the real corpus AND a crafted corpus that actually exercises every rule."""

from __future__ import annotations

import pandas as pd
import pytest

from ir_analyses_spark.llm.quality_rules import (
    gopher_flags_df,
    quality_signals,
    quality_signals_df,
    quality_signals_sql,
)
from tests.compare import assert_matches_oracle, duckdb_conn

SF = "/root/testdata/sf0.001"

# One document per rule-failure mode + clean passes; newlines, bullets,
# ellipses, symbols, repetition — everything the synthetic corpus lacks.
_GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the den because it must have dinner with that other fox tonight so "
    "they both walk along the river bank while the moon rises over the "
    "quiet hills and every small animal settles down to sleep until dawn"
)
CRAFTED = [
    (0, _GOOD),
    (1, ""),  # empty: every denominator zero
    (2, "   \n \n  "),  # whitespace-only
    (3, "short text only"),  # fails min_words
    (4, "# " * 60 + "the words be of and that have with more tokens here"),
    (5, "\n".join(f"- bullet number {i}" for i in range(19)) + "\nplain closing line"),
    (6, "first line…\nsecond line...\nthird keeps going\nfourth is fine"),
    (7, "dup line\ndup line\ndup line\nunique line"),
    (8, "para one\n\npara one\n\npara two"),
    (9, "12345 67890 !!! ??? 999 " * 12 + "the of and"),  # non-alpha words
    (10, "tok " * 80),  # no stopwords, heavy repetition
    (11, "ab " * 60 + "the of"),  # mean word length too low
    (12, "pneumonoultramicroscopic " * 55 + "the of"),  # too high
    (13, "the cat sat\n\n" + _GOOD + "\n\nthe cat sat\n\nthe end here"),
    (14, None),  # NULL text: every signal NULL in BOTH engines
]


@pytest.fixture(scope="module")
def crafted_spark(spark):
    return spark.createDataFrame(CRAFTED, "doc_id long, text string")


@pytest.fixture(scope="module")
def crafted_duck():
    import duckdb

    con = duckdb.connect()
    con.register(
        "crafted", pd.DataFrame(CRAFTED, columns=["doc_id", "text"])
    )
    return con


def test_signals_match_duckdb_on_real_corpus(spark):
    con = duckdb_conn(SF)
    assert_matches_oracle(
        quality_signals(spark, SF),
        con,
        quality_signals_sql("documents"),
        name="quality_signals sf0.001",
    )


def test_signals_match_duckdb_on_crafted_corpus(crafted_spark, crafted_duck):
    assert_matches_oracle(
        quality_signals_df(crafted_spark),
        crafted_duck,
        quality_signals_sql("crafted"),
        name="quality_signals crafted",
    )


def test_crafted_corpus_exercises_every_signal(crafted_spark):
    """Vacuity guard: each signal must take BOTH a passing and a failing
    value somewhere in the crafted corpus, else the parity test above
    proves nothing about that rule."""
    rows = {r["doc_id"]: r for r in gopher_flags_df(crafted_spark).collect()}
    flag_cols = [c for c in next(iter(rows.values())).asDict() if c.startswith("ok_")]
    for c in flag_cols + ["passes_gopher"]:
        vals = {rows[d][c] for d in rows}
        assert vals == {True, False}, f"{c} never varies: {vals}"
    assert rows[0]["passes_gopher"] is True
    assert rows[1]["passes_gopher"] is False  # empty doc must not pass


def test_flag_semantics_on_known_documents(crafted_spark):
    rows = {r["doc_id"]: r for r in gopher_flags_df(crafted_spark).collect()}
    assert rows[3]["ok_words"] is False
    assert rows[4]["ok_symbols"] is False
    assert rows[5]["ok_bullets"] is False and rows[5]["bullet_line_frac"] == 0.95
    assert rows[6]["ok_ellipsis"] is False and rows[6]["ellipsis_line_frac"] == 0.5
    assert rows[7]["ok_dup_lines"] is False and rows[7]["dup_line_frac"] == 0.5
    assert rows[8]["ok_dup_paras"] is False and rows[8]["dup_para_frac"] == 1 / 3
    assert rows[9]["ok_alpha"] is False
    assert rows[10]["ok_stopwords"] is False
    assert rows[11]["ok_mean_word_len"] is False
    assert rows[12]["ok_mean_word_len"] is False
    # empty/whitespace/NULL docs: every signal NULL → every flag False
    for d in (1, 2, 14):
        assert all(rows[d][c] is False for c in rows[d].asDict() if c.startswith("ok_"))


def test_threshold_override_and_unknown_key(crafted_spark):
    rows = {
        r["doc_id"]: r
        for r in gopher_flags_df(
            crafted_spark, thresholds={"min_words": 3}
        ).collect()
    }
    assert rows[3]["ok_words"] is True  # 3-word doc passes the lowered bar
    with pytest.raises(ValueError, match="unknown quality thresholds"):
        gopher_flags_df(crafted_spark, thresholds={"min_wordz": 1})
