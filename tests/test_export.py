"""Training-set export (llm/export.py): layout invariants against an
independent Python model."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.llm.export import _KNUTH, training_layout

SEQ_LEN = 64
N_SHARDS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(5)
    rows = [
        (i * 7 + 1, " ".join(f"w{rng.randint(0, 50)}" for _ in range(rng.randint(1, 120))))
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _model_split(doc_id: int) -> str:
    """Independent model of the split hash: doc_id is reduced mod 100
    (floor mod — Python's %, Spark's pmod) BEFORE the KNUTH multiply.
    The pmod (not %) is the r7 ADVICE fix: Spark's % keeps the dividend
    sign, so negative xxhash64 doc_ids all fell into 'train'. The
    pre-reduction is the r8 ADVICE fix: a raw 64-bit product wraps in
    Spark but raises in DuckDB, so the formula stays under 2^38 and is
    exact in every engine."""
    cell = (doc_id % 100) * _KNUTH % 100
    return "train" if cell < 90 else ("val" if cell < 95 else "test")


def test_negative_doc_ids_split_to_documented_percents(spark):
    """r7 ADVICE regression: xxhash64-style signed doc_ids (half
    negative) must land ~90/5/5, not ~95/2.5/2.5."""
    ids = spark.range(20000).select(
        F.xxhash64(F.col("id").cast("string")).alias("doc_id"),
        F.lit("t").alias("text"),
    )
    laid = training_layout(ids, n_shards=4, seq_len=64)
    counts = {
        r["split"]: r["n"]
        for r in laid.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(counts.values())
    assert total == 20000
    assert abs(counts["train"] / total - 0.90) < 0.02
    assert abs(counts.get("val", 0) / total - 0.05) < 0.02
    assert abs(counts.get("test", 0) / total - 0.05) < 0.02
    # and every row agrees with the independent Python model
    for r in laid.select("doc_id", "split").collect():
        assert r["split"] == _model_split(r["doc_id"]), r["doc_id"]


def test_layout_invariants_match_python_model(corpus):
    laid = training_layout(
        corpus, n_shards=N_SHARDS, seq_len=SEQ_LEN
    ).collect()
    rows = {r["doc_id"]: r for r in laid}
    src = {r["doc_id"]: r["text"] for r in corpus.collect()}
    assert set(rows) == set(src)
    # per-(split, shard): offsets are a gapless prefix sum in doc_id order
    groups: dict = {}
    for r in laid:
        groups.setdefault((r["split"], r["shard"]), []).append(r)
    for (split, shard), g in groups.items():
        g.sort(key=lambda r: r["doc_id"])
        expect_start = 0
        for r in g:
            assert r["n_tokens"] == len(src[r["doc_id"]].split()), r["doc_id"]
            assert r["tok_start"] == expect_start, (split, shard, r["doc_id"])
            assert r["first_bin"] == r["tok_start"] // SEQ_LEN
            assert r["last_bin"] == (r["tok_start"] + r["n_tokens"] - 1) // SEQ_LEN
            expect_start += r["n_tokens"]
    # split assignment is the documented multiplicative hash
    for doc_id, r in rows.items():
        assert r["split"] == _model_split(doc_id), doc_id


def test_layout_deterministic(corpus):
    a = sorted(map(tuple, training_layout(corpus, N_SHARDS, SEQ_LEN).collect()))
    b = sorted(map(tuple, training_layout(corpus, N_SHARDS, SEQ_LEN).collect()))
    assert a == b


def test_invalid_args(corpus):
    with pytest.raises(ValueError, match="n_shards"):
        training_layout(corpus, 0)
    with pytest.raises(ValueError, match="seq_len"):
        training_layout(corpus, 4, 0)
    with pytest.raises(ValueError, match="split_percents"):
        training_layout(corpus, 4, 64, (95, 90))


def test_split_cell_exact_across_engines_for_fullrange_ids(spark):
    """r8 ADVICE: the split cell must pre-reduce doc_id mod 100 before
    the KNUTH multiply — the raw product overflows int64 for
    |doc_id| >= ~3.5e9 (Spark wraps two's-complement, DuckDB RAISES),
    so full-range xxhash64 ids diverged between the engines. Both the
    layout here and llm/training.dataset_split's oracle must now agree
    exactly on full-range ids."""
    import duckdb

    from ir_analyses_spark.llm.training import DATASET_SPLIT_SQL

    ids = spark.range(3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.lit("w w w").alias("text"),
    )
    laid = training_layout(ids.select("doc_id", "text"), n_shards=1)
    got = {r["doc_id"]: r["split"] for r in laid.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, 'xx')", [(i,) for i in got]
    )
    # the oracle must RUN (pre-fix it raised Out of Range) and agree
    want_counts = dict(
        (s, n) for s, _, n in con.execute(DATASET_SPLIT_SQL).fetchall()
    )
    got_counts: dict[str, int] = {}
    for s in got.values():
        got_counts[s] = got_counts.get(s, 0) + 1
    assert got_counts == want_counts
    # per-id agreement with the exact integer formula
    for i, s in got.items():
        cell = ((i % 100 + 100) % 100) * 2654435761 % 100
        want = "train" if cell < 90 else ("val" if cell < 95 else "test")
        assert s == want, i
