"""Char n-gram LM scoring (llm/lm_score.py): exact-count DuckDB parity
for training, independent-Python reference for scores (1e-9 rel tol —
ln/sum order are not bit-portable), and the CCNet bucket semantics."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
import pytest

from ir_analyses_spark.llm.lm_score import (
    perplexity_buckets,
    score_with_lm,
    train_char_lm,
    train_counts_sql,
)

TRAIN = [
    (0, "the cat sat on the mat and the dog sat on the log"),
    (1, "the rain in spain stays mainly on the plain"),
    (2, "a stitch in time saves nine and the early bird gets the worm"),
]
SCORE = [
    (10, "the cat sat on the mat"),          # in-distribution
    (11, "zxq vvk jjw qqz xkcd zzz"),        # out-of-distribution garbage
    (12, "the rain in spain"),
    (13, "ab"),                               # shorter than n → NULL
    (14, ""),
]
N, K = 3, 1.0


def _py_model(train_texts, n):
    grams, ctx = Counter(), Counter()
    for t in train_texts:
        for i in range(len(t) - n + 1):
            grams[t[i : i + n]] += 1
    for g, c in grams.items():
        ctx[g[: n - 1]] += c
    v = len({ch for t in train_texts for ch in t}) + 1
    return grams, ctx, v


def _py_scores(train_texts, score_rows, n, k):
    grams, ctx, v = _py_model(train_texts, n)
    out = {}
    for d, t in score_rows:
        lps = [
            math.log(
                (grams.get(t[i : i + n], 0) + k)
                / (ctx.get(t[i : i + n - 1], 0) + k * v)
            )
            for i in range(len(t) - n + 1)
        ]
        out[d] = (len(lps), sum(lps) / len(lps) if lps else None)
    return out


@pytest.fixture(scope="module")
def lm(spark):
    train_df = spark.createDataFrame(TRAIN, "doc_id long, text string")
    return train_char_lm(train_df, n=N, k=K)


@pytest.fixture(scope="module")
def score_df(spark):
    return spark.createDataFrame(SCORE, "doc_id long, text string")


def test_vocab_size_matches_reference(lm):
    _, _, v = _py_model([t for _, t in TRAIN], N)
    assert lm.vocab_size == v


def test_train_counts_match_duckdb(spark, lm):
    import duckdb

    from tests.compare import assert_matches_oracle

    con = duckdb.connect()
    con.register("train_docs", pd.DataFrame(TRAIN, columns=["doc_id", "text"]))
    assert_matches_oracle(
        lm.grams, con, train_counts_sql("train_docs", N), name="lm counts"
    )


def test_scores_match_python_reference(lm, score_df):
    want = _py_scores([t for _, t in TRAIN], SCORE, N, K)
    got = {r["doc_id"]: r for r in score_with_lm(score_df, lm).collect()}
    assert set(got) == {d for d, _ in SCORE}
    for d, (n_grams, lp) in want.items():
        assert got[d]["n_grams"] == n_grams, d
        if lp is None:
            assert got[d]["logprob_per_char"] is None
            assert got[d]["perplexity"] is None
        else:
            assert got[d]["logprob_per_char"] == pytest.approx(lp, rel=1e-9)
            assert got[d]["perplexity"] == pytest.approx(
                math.exp(-lp), rel=1e-9
            )


def test_fluency_discrimination(lm, score_df):
    """The filter's reason to exist: in-distribution text scores far
    more fluent than keyboard mash."""
    ppl = {
        r["doc_id"]: r["perplexity"]
        for r in score_with_lm(score_df, lm).collect()
    }
    assert ppl[10] < ppl[11] / 2
    assert ppl[12] < ppl[11] / 2


def test_max_grams_cap_scores_dropped_as_unseen(spark, score_df):
    train_df = spark.createDataFrame(TRAIN, "doc_id long, text string")
    capped = train_char_lm(train_df, n=N, k=K, max_grams=5)
    assert capped.grams.count() == 5
    got = score_with_lm(score_df, capped).collect()
    # every in-range doc still scores, finitely
    for r in got:
        if r["n_grams"] > 0:
            assert r["perplexity"] is not None and r["perplexity"] > 0


def test_buckets_ccnet_semantics(lm, score_df):
    scored = score_with_lm(score_df, lm)
    b = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(scored).collect()}
    assert set(b) == {d for d, _ in SCORE}
    assert b[13] is None and b[14] is None  # unscorable keeps NULL bucket
    ranked = [b[10], b[12], b[11]]
    assert b[11] == 3  # garbage lands in the tail
    assert sorted(ranked) == ranked or b[10] <= b[11]  # fluent ≤ garbage
    assert {b[10], b[12]} <= {1, 2}


def test_invalid_args(spark, lm, score_df):
    train_df = spark.createDataFrame(TRAIN, "doc_id long, text string")
    with pytest.raises(ValueError, match="n must be"):
        train_char_lm(train_df, n=1)
    with pytest.raises(ValueError, match="k must be"):
        train_char_lm(train_df, k=0)
    with pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(score_with_lm(score_df, lm), 1)
    with pytest.raises(ValueError, match="identifier"):
        train_counts_sql("x; drop table y")


def test_charlm_unpersist_releases_cache(spark):
    """r7 ADVICE: sessions training many CharLMs must be able to release
    each model's persisted gram table."""
    docs = spark.createDataFrame([("abcabc",), ("bcabca",)], "text string")
    with train_char_lm(docs, n=2) as lm:
        assert lm.grams.storageLevel.useMemory  # persisted by training
        lm.grams.count()
    assert not lm.grams.storageLevel.useMemory  # context exit released it
    lm.unpersist()  # idempotent
