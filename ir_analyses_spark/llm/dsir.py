"""DSIR-style importance weighting for data selection (LLM ext).

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023):
score every raw document by the log-likelihood ratio of a TARGET
distribution vs the RAW distribution over hashed n-gram features, then
sample proportionally. This module implements the scoring operator with
hashed-UNIGRAM features (the paper's feature family at n=1) and an
above-corpus-mean selection gate:

    w(doc) = Σ_tokens [ ln p_tgt(b(w)) − ln p_raw(b(w)) ]

with add-one smoothing per bucket, b(w) = md5_60(w) mod B — the repo's
portable cross-engine hash family, so the DuckDB oracle reproduces the
bucketing exactly.

Float discipline (this is the transcendental-log case
`ops/helpers.py` warns about): every ln is evaluated on an INTEGER
count — the same IEEE input in both engines — then the per-bucket term
``ln(c_tgt+1) − ln(c_raw+1)`` is rounded to 6 decimals and CAST TO
DECIMAL before any aggregation, so the per-doc sum is exact decimal
arithmetic, immune to partial-agg reordering (same posture as
``ROUND(LN(x),6)`` in `ops/relational.math_functions`). The selection
gate compares ``N·w_i > Σw`` in decimals — no float division anywhere.

Scale shape: bucket terms are a B-row table (B=64 here; 10^4–10^5 in
the paper) — broadcast; the token stream aggregates per (doc, bucket)
map-side before the join, so the heavy shuffle carries fixed-width
(doc_id, bucket, count) rows; two scalar totals ride a 1-row cross
join. At 100 TB the only growing state is the per-doc partial — the
classic two-level aggregate.

On the synthetic corpus the languages share a generator vocabulary, so
target (lang='en') enrichment is mild but real — the en selection rate
exceeds every other language's at both correctness SFs (pinned in
tests/test_dsir.py; a real multilingual corpus separates far harder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.sources import load_table
from ..ops.helpers import spread_narrow, table_bytes
from .bloomdecon import _md5_long


#: hashed feature buckets (paper uses 10^4-10^5; sized down to 64 so the
#: defining behavior of HASHED features — distinct words sharing a bucket —
#: is actually exercised on the synthetic 31-word vocabulary: 31 words map
#: to 24 buckets, 7 collisions, pinned in tests/test_dsir.py)
_B = 64
#: decimal type for exact term aggregation
_DEC = "decimal(20,6)"


def dsir_weights(
    docs: DataFrame,
    target_lang: str = "en",
    approx_input_bytes: int | None = None,
) -> DataFrame:
    """(doc_id, lang, n_tokens, logweight, selected) — importance
    log-weights of every doc against the ``lang == target_lang`` target
    distribution, selection-gated at the corpus mean.

    ``approx_input_bytes`` (the corpus' on-disk size, when the caller
    knows it) lets the now-single token pass fan out over the cluster:
    with the r15 derived-totals shape the whole explode+md5 runs ONCE —
    but a dimension-sized parquet arrives as one split, so that one
    pass would run on one core (the old four-pass form accidentally
    parallelized by running its redundant branches concurrently).
    ``spread_narrow`` REBALANCEs the pre-explode rows only when the
    estimated split count is below the parallelism (guide §2.5/§2.6;
    no-op at scale). Safe: every downstream consumer is an
    order-insensitive aggregation (integer counts, decimal sums)."""
    src = docs.select("doc_id", "lang", "text")
    if approx_input_bytes is not None:
        src = spread_narrow(src, approx_input_bytes)
    toks = src.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", "lang", (_md5_long("w", 1) % _B).alias("b"))
    # r15 (guide §2.4, VERDICT r14 item 5): raw/tgt/totals used to
    # aggregate the TOKEN stream directly — four explode+md5 passes
    # over the corpus in one plan. Every one of them is an exact sum of
    # doc_bucket's integer counts (Σ per-(doc,lang,b) longs ≡ the token
    # count, same 64-bit values), so they now derive from doc_bucket /
    # the bucket rollup and the physical plan REUSES those exchanges:
    # the corpus is exploded and md5-hashed exactly once (pinned by the
    # executed-plan test below). Two reuse-breakers matter here:
    # (a) a tgt-side `lang = target` filter would be pushed BELOW the
    #     doc_bucket aggregate, re-creating a separate corpus pass — so
    #     the target split lives INSIDE the bucket rollup as a
    #     conditional sum (identical integers: Σ when(lang=tgt, c) over
    #     a bucket ≡ the filtered COUNT; no-target buckets coalesce to
    #     the 0 the old LEFT JOIN supplied);
    # (b) the terms join infers `isnotnull(b)` on its doc_bucket leg —
    #     making that filter explicit keeps every consumer's subtree
    #     canonical-identical. It is a data no-op: b = md5(w) % B of a
    #     never-null token (explode emits no null elements).
    doc_bucket = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("b").isNotNull())
    )
    # per-bucket term table (≤ B rows): ln on integer counts only, then
    # round→decimal so every downstream sum is exact
    buckets = doc_bucket.groupBy("b").agg(
        F.sum("c").alias("c_raw"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == target_lang, F.col("c"))),
            F.lit(0),
        ).alias("c_tgt"),
    )
    terms = buckets.select(
        "b",
        F.round(
            F.log(F.col("c_tgt") + F.lit(1))
            - F.log(F.col("c_raw") + F.lit(1)),
            6,
        )
        .cast(_DEC)
        .alias("term"),
    )
    # normalizing constant ln(T_raw) − ln(T_tgt) from the two scalar
    # totals (+B smoothing mass), as a 1-row broadcast — derived from
    # the bucket rollup (its exchange is reused); COALESCE keeps the
    # empty-corpus totals at the smoothing mass B, exactly what COUNT
    # produced
    totals = buckets.agg(
        (F.coalesce(F.sum("c_raw"), F.lit(0)) + F.lit(_B)).alias("t_raw"),
        (F.coalesce(F.sum("c_tgt"), F.lit(0)) + F.lit(_B)).alias("t_tgt"),
    ).select(
        F.round(F.log("t_raw") - F.log("t_tgt"), 6).cast(_DEC).alias("norm")
    )
    weights = (
        doc_bucket.join(F.broadcast(terms), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            (
                F.sum(F.col("c") * F.col("term"))
                + F.sum("c") * F.first("norm")
            ).alias("w_dec"),
        )
    )
    gate = weights.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w_dec").alias("w_total"),
    )
    return (
        weights.crossJoin(F.broadcast(gate))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.col("w_dec").cast("double").alias("logweight"),
            (F.col("n_docs") * F.col("w_dec") > F.col("w_total")).alias(
                "selected"
            ),
        )
    )


def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: DSIR log-weights + mean-gated selection over the
    documents table, target = English."""
    return dsir_weights(
        load_table(spark, "documents", sf_dir),
        approx_input_bytes=table_bytes(sf_dir, "documents"),
    )


def dsir_gate(
    docs: DataFrame,
    target_docs: DataFrame,
    approx_input_bytes: int | None = None,
) -> DataFrame:
    """Funnel gate form (r11 VERDICT item 7): keep the documents whose
    DSIR importance log-weight sits above the corpus mean, where the
    TARGET distribution comes from a separate target-domain corpus
    (``target_docs`` needs a ``text`` column — the paper's actual
    deployment shape: target = Wikipedia/books, raw = the crawl; the
    registry twin's lang-split target is the self-contained certificate
    of the same algebra). ``docs`` needs (doc_id, text) plus any
    passthrough columns — all preserved via one left_semi join. A doc
    with NO token rows gets no ``weights`` row at all (the bucket join
    is inner), so the final ``left_semi`` drops it unconditionally —
    un-scoreable docs can never be in ``keep``, even when the corpus
    mean weight is negative (unlike ``novelty_gate``'s documented KEEP
    for short docs). In practice only null-text docs can hit this:
    ``split("") → [""]`` is one token, so every non-null text scores.
    The oracle (``DSIR_GATE_DOCS_SQL``) replays the same inner-join
    semantics.

    Same float discipline as :func:`dsir_weights`: ln only on integer
    counts, round(·,6)→decimal before aggregation, the gate compares
    ``N·w_i > Σw`` in decimals. Same scale shape: the B-row term table
    broadcasts, the heavy shuffle carries fixed-width (doc_id, bucket,
    count) rows, the target corpus contributes one bounded aggregate.
    ``approx_input_bytes``: see :func:`dsir_weights` — fans the single
    r15 token pass out when the raw corpus arrives as fewer splits than
    the parallelism (no-op at scale, aggregation-only consumers).
    """
    src = docs.select("doc_id", "text")
    if approx_input_bytes is not None:
        src = spread_narrow(src, approx_input_bytes)
    toks = src.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", (_md5_long("w", 1) % _B).alias("b"))
    # r15 (guide §2.4, VERDICT r14 item 5): raw/totals derive from
    # doc_bucket / the b-rollup (Σ of integer counts ≡ the token
    # counts) so each corpus is exploded and hashed ONCE — the plan
    # reuses the aggregates' exchanges. The explicit isnotnull(b)
    # filters (a data no-op: b = md5(w) % B of never-null tokens) keep
    # every consumer's subtree canonical-identical to the join legs,
    # where Spark infers that filter — without them the inference
    # breaks exchange reuse and the explode pass silently duplicates.
    doc_bucket = (
        toks.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("b").isNotNull())
    )
    raw = doc_bucket.groupBy("b").agg(F.sum("c").alias("c_raw"))
    tsrc = target_docs.select("text")
    if approx_input_bytes is not None:
        # the raw-side bytes are an upper bound for the target subset —
        # the gate errs toward fanning out, which only REBALANCEs a
        # narrow text frame, and still no-ops at scale
        tsrc = spread_narrow(tsrc, approx_input_bytes)
    tgt_toks = tsrc.select(
        F.explode(F.split("text", " ")).alias("w")
    ).select((_md5_long("w", 1) % _B).alias("b"))
    tgt = (
        tgt_toks.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
        .filter(F.col("b").isNotNull())
    )
    terms = raw.join(tgt, "b", "left").select(
        "b",
        F.round(
            F.log(F.coalesce("c_tgt", F.lit(0)) + F.lit(1))
            - F.log(F.col("c_raw") + F.lit(1)),
            6,
        )
        .cast(_DEC)
        .alias("term"),
    )
    # scalar totals likewise derive from the two b-rollups already in
    # the plan (raw, tgt) instead of re-exploding either corpus;
    # COALESCE keeps the empty-corpus total at the smoothing mass B,
    # exactly what COUNT produced
    totals = (
        raw.agg(
            (F.coalesce(F.sum("c_raw"), F.lit(0)) + F.lit(_B)).alias(
                "t_raw"
            )
        )
        .crossJoin(
            tgt.agg(
                (F.coalesce(F.sum("c_tgt"), F.lit(0)) + F.lit(_B)).alias(
                    "t_tgt"
                )
            )
        )
        .select(
            F.round(F.log("t_raw") - F.log("t_tgt"), 6).cast(_DEC).alias("norm")
        )
    )
    weights = (
        doc_bucket.join(F.broadcast(terms), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("c") * F.col("term"))
                + F.sum("c") * F.first("norm")
            ).alias("w_dec")
        )
    )
    gate = weights.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w_dec").alias("w_total"),
    )
    keep = (
        weights.crossJoin(F.broadcast(gate))
        .filter(F.col("n_docs") * F.col("w_dec") > F.col("w_total"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def dsir_gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the funnel-gate form certified end to end — the
    external target corpus is the en-language subset handed in as a
    SEPARATE text-only frame, so the gate's two-corpus plumbing (target
    aggregate, raw aggregate, cross-frame normalizer) is what the
    oracle checks; the kept set provably equals the registry twin's
    ``selected`` rows (pinned in tests/test_dsir.py)."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text"
    )
    return dsir_gate(
        docs,
        docs.filter(F.col("lang") == "en").select("text"),
        approx_input_bytes=table_bytes(sf_dir, "documents"),
    )


DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % {_B} AS b
  FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
        FROM documents)
),
doc_bucket AS (
  SELECT doc_id, lang, b, COUNT(*) AS c FROM toks GROUP BY 1, 2, 3
),
tgt AS (SELECT b, COUNT(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY 1),
raw AS (SELECT b, COUNT(*) AS c_raw FROM toks GROUP BY 1),
terms AS (
  SELECT r.b,
         CAST(ROUND(LN(COALESCE(t.c_tgt, 0) + 1) - LN(r.c_raw + 1), 6)
              AS DECIMAL(20,6)) AS term
  FROM raw r LEFT JOIN tgt t ON r.b = t.b
),
norm AS (
  SELECT CAST(ROUND(
           LN((SELECT COUNT(*) FROM toks) + {_B})
           - LN((SELECT COUNT(*) FROM toks WHERE lang = 'en') + {_B}), 6)
         AS DECIMAL(20,6)) AS norm
),
weights AS (
  SELECT d.doc_id, d.lang, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
         SUM(d.c * te.term) + SUM(d.c) * (SELECT norm FROM norm) AS w_dec
  FROM doc_bucket d JOIN terms te ON d.b = te.b
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_tokens,
       CAST(w_dec AS DOUBLE) AS logweight,
       (SELECT COUNT(*) FROM weights) * w_dec
         > (SELECT SUM(w_dec) FROM weights) AS selected
FROM weights
"""

#: the gate replayed in SQL: same bucket/term/norm algebra as DSIR_SQL
#: (target = en tokens, raw = all tokens), weights per doc_id only,
#: then a semi join keeps above-mean docs with passthrough columns
DSIR_GATE_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % {_B} AS b
  FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
        FROM documents)
),
doc_bucket AS (
  SELECT doc_id, b, COUNT(*) AS c FROM toks GROUP BY 1, 2
),
tgt AS (SELECT b, COUNT(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY 1),
raw AS (SELECT b, COUNT(*) AS c_raw FROM toks GROUP BY 1),
terms AS (
  SELECT r.b,
         CAST(ROUND(LN(COALESCE(t.c_tgt, 0) + 1) - LN(r.c_raw + 1), 6)
              AS DECIMAL(20,6)) AS term
  FROM raw r LEFT JOIN tgt t ON r.b = t.b
),
norm AS (
  SELECT CAST(ROUND(
           LN((SELECT COUNT(*) FROM toks) + {_B})
           - LN((SELECT COUNT(*) FROM toks WHERE lang = 'en') + {_B}), 6)
         AS DECIMAL(20,6)) AS norm
),
weights AS (
  SELECT d.doc_id,
         SUM(d.c * te.term) + SUM(d.c) * (SELECT norm FROM norm) AS w_dec
  FROM doc_bucket d JOIN terms te ON d.b = te.b
  GROUP BY d.doc_id
),
keep AS (
  SELECT doc_id FROM weights
  WHERE (SELECT COUNT(*) FROM weights) * w_dec
          > (SELECT SUM(w_dec) FROM weights)
)
SELECT d.doc_id, d.lang, d.text
FROM documents d SEMI JOIN keep k ON d.doc_id = k.doc_id
"""

QUERIES = {
    "dsir_importance_select": dsir_importance_select,
    "dsir_gate_docs": dsir_gate_docs,
}
ORACLES = {
    "dsir_importance_select": DSIR_SQL,
    "dsir_gate_docs": DSIR_GATE_DOCS_SQL,
}
