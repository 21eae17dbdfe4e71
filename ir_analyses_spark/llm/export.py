"""Training-set export for curated corpora (SURVEY §2B LLM ext — the
last mile: a curated (doc_id, text) corpus → deterministic train/val/
test splits, hashed shards and per-shard packing offsets, as the
(split, shard) columns a trainer's partitioned layout is keyed by).

Generalizes the registry's `llm/training.dataset_split` (multiplicative
-hash split) and `llm/sampling.sequence_packing` (per-shard prefix
sums) from the fixed `documents` table to ANY corpus frame — the shape
`llm/curate.py` produces.

Scale posture (inherited from the two registry operators it
generalizes): split and shard assignment are pure projections
(recomputable anywhere, no persisted split column); packing offsets
are a running sum windowed per (split, shard) — embarrassingly
parallel, never a global prefix sum; a write partitioned by (split,
shard) lets a trainer read its shard files with partition pruning.
Determinism: every assignment derives from doc_id alone, so
re-exports of the same corpus are byte-stable modulo parquet encoding.

New module per the evidence-ledger rule; verified by
`tests/test_export.py` (layout invariants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: Knuth's multiplicative constant — same family as the registry's
#: deterministic split (`llm/training.py`).
_KNUTH = 2654435761


#: re-export of the ONE cross-engine token boundary class (see
#: `llm/porthash.py` — a bare \s+ diverges on vertical tab between
#: Java and RE2); kept here because mixture/curation token accounting
#: historically imports it from this module
from .porthash import WS_CLASS  # noqa: E402


def whitespace_token_count(col):
    """Exact whitespace token count as a bigint column — THE token
    accounting shared by packing offsets here and the budget subsets in
    `llm/mixture.py` (one definition, so the two can never drift)."""
    return F.size(
        F.filter(F.split(col, WS_CLASS), lambda w: w != F.lit(""))
    ).cast("bigint")


def training_layout(
    corpus: DataFrame,
    n_shards: int = 16,
    seq_len: int = 2048,
    split_percents: tuple[int, int] = (90, 95),
    text_col: str = "text",
) -> DataFrame:
    """Corpus + (split, shard, n_tokens, tok_start, first_bin, last_bin).

    ``split_percents`` are the cumulative train/val cut points of the
    doc_id multiplicative hash mod 100 (defaults: 90/5/5).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    tr, va = split_percents
    if not (0 < tr < va <= 100):
        raise ValueError(f"split_percents must satisfy 0<train<val<=100, got {split_percents}")
    # pmod, not %: Spark's % keeps the dividend sign, so the negative
    # half of xxhash64-derived doc_ids (the ids curate.py produces)
    # would all land in cell < tr and starve val/test to ~half their
    # share (r7 ADVICE, measured ~95.3/2.3/2.4 vs the documented
    # 90/5/5). The id is reduced mod 100 BEFORE the multiply (r8
    # ADVICE): a raw id·KNUTH product overflows int64 for the same
    # full-range ids — Spark would wrap but a strict engine (and the
    # DuckDB oracle) raises; gcd(KNUTH mod 100, 100) = 1 keeps the
    # cell a permutation of 0..99. pmod matches the shard assignment.
    cell = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(100)) * F.lit(_KNUTH), F.lit(100)
    )
    split = (
        F.when(cell < tr, "train").when(cell < va, "val").otherwise("test")
    )
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
    n_tok = whitespace_token_count(F.col(text_col))
    base = corpus.select(
        "*",
        split.alias("split"),
        shard.alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = base.withColumn("tok_end", F.sum("n_tokens").over(w))
    return with_cum.select(
        *corpus.columns,
        "split",
        "shard",
        "n_tokens",
        (F.col("tok_end") - F.col("n_tokens")).alias("tok_start"),
        F.floor((F.col("tok_end") - F.col("n_tokens")) / seq_len).alias(
            "first_bin"
        ),
        F.floor((F.col("tok_end") - 1) / seq_len).alias("last_bin"),
    )
