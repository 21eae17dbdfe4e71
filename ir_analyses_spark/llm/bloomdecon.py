"""Bloom-filter benchmark decontamination (LLM-pipeline ext).

`sampling.benchmark_decontaminate` broadcasts the *exact* benchmark
shingle set — the right certificate, but at real eval-suite sizes the
broadcast is O(#benchmark n-grams) strings. Production pipelines
(e.g. the Dolma toolkit's deduper, Soldaini et al. 2024, and CCNet-style
decontamination) replace the set with a **Bloom filter**: a fixed m-bit
array whose broadcast cost is O(m) regardless of how many n-grams went
in, at the price of a tunable false-positive rate and zero false
negatives. This module implements that operator Spark-first and makes
the whole filter — bit construction, membership probes, FP behavior —
deterministic integer arithmetic that a DuckDB oracle recomputes
bit-for-bit.

Design (all public):

- word 3-grams from the whitespace tokenization the rest of the repo
  uses (`llm/textstats.py` convention);
- double hashing g_j(x) = (h1(x) + j·h2(x)) mod m, the Kirsch–
  Mitzenmacher construction (ESA 2006: two hash functions suffice for
  Bloom filters) with h1/h2 taken from disjoint 60-bit slices of
  md5(x) — the repo's portable cross-engine hash family
  (`llm/dedup.simhash_fingerprints` precedent: both engines produce
  identical lowercase-hex md5, and 15 hex chars fit a signed 64-bit
  integer with headroom, so h1 + j·h2 never overflows for j < 8);
- membership = all k probe positions set; a probed n-gram that IS in
  the benchmark always reports member (no false negatives — the
  decontamination guarantee), and the `false_pos` column measures the
  false-positive mass the m/k choice buys.

Scale shape (the reason this operator exists at 100 TB): the bit table
is at most m rows of one integer — broadcast is bounded by the FILTER
SIZE, not the benchmark size, so the probe join is map-side against
the corpus n-gram stream no matter how many eval suites feed the
filter. The per-doc aggregation shuffles only fixed-width counts. The
`exact_hits` column (a second, set-based join) exists for the
certificate — production decisions use the Bloom verdict alone, and at
scale the exact twin runs only in audit tiers, exactly like the
quadratic verify tiers in `llm/dedup.py`.

Parameters here (m=4096, k=2, keep iff 10·bloom_hits < n) are sized so
the correctness SFs exercise every branch: false positives exist, the
keep and drop branches are both non-empty at sf0.001 and sf0.01
(pinned by tests/test_vacuity_guards.py), and the no-false-negative
invariant is asserted per n-gram in tests/test_bloomdecon.py.
Production sizing: m ≈ -n·ln(p)/(ln 2)² bits for target FP rate p —
a 1-billion-n-gram eval corpus at p=1% is ~1.2 GB of bits, still a
broadcast, still O(m).

Reference behavior anchor: the reference app has no decontamination
surface (it is an IR analytics app, `app/app.py`); this operator is
part of the training-data-pipeline closure SURVEY §2B requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..io.sources import load_table

#: Bloom width in bits. Small on purpose at correctness SFs (false
#: positives must be observable — see module docstring); production
#: sizes by the -n·ln(p)/(ln 2)² formula.
_M_BITS = 4096
#: probes per key (Kirsch–Mitzenmacher double hashing)
_K_HASHES = 2
#: eval-set split: every 41st doc plays the benchmark corpus. Distinct
#: from sampling._BENCH_MOD (53) so the two decontamination operators
#: keep independent fixtures.
_BENCH_MOD = 41


def _md5_long(col: str | Column, start: int) -> Column:
    """15 hex chars of md5 from 1-based `start`, as a non-negative
    bigint (60 bits < 2^63). DuckDB twin:
    CAST('0x' || substring(md5(x), start, 15) AS BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), start, 15), 16, 10).cast("bigint")


def word_ngrams(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, g) word n-grams over whitespace tokens, per-doc DISTINCT
    by default.

    Explodes the POSITION sequence then assembles the gram — the same
    shape note as `llm/dedup.shingles`: transform(sequence(...)) would
    materialize every doc's gram array in one row before exploding.
    Docs with fewer than n tokens contribute nothing (documented
    contract; the probe output simply has no row for them).

    ``distinct=False`` hands back the raw map-side stream so consumers
    that dedup on a DERIVED key (`llm/novelty.py` hashes the gram to a
    60-bit long first) can keep the gram STRING out of the shuffle —
    the same consumer-pays-for-distinct split as `llm/dedup.shingles`.
    """
    w = F.split("text", " ")
    toks = docs.select("doc_id", w.alias("w")).filter(F.size("w") >= n)
    pos = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at("w", F.col("i") + j) for j in range(n)]
    )
    out = pos.select("doc_id", gram.alias("g"))
    return out.distinct() if distinct else out


def _with_probes(grams: DataFrame) -> DataFrame:
    """Attach h1/h2 (disjoint md5 slices) to a (doc_id?, g) frame."""
    return grams.withColumn("h1", _md5_long("g", 1)).withColumn(
        "h2", _md5_long("g", 17)
    )


def bloom_bits(bench_grams: DataFrame) -> DataFrame:
    """The filter: DISTINCT probe positions of every benchmark n-gram.
    ≤ _M_BITS rows of one long — the broadcastable representation whose
    size is bounded by the FILTER, not the benchmark."""
    hashed = _with_probes(bench_grams.select("g").distinct())
    pos = F.explode(
        F.array(
            *[
                (F.col("h1") + F.lit(j) * F.col("h2")) % _M_BITS
                for j in range(_K_HASHES)
            ]
        )
    )
    return hashed.select(pos.alias("pos")).distinct()


def bloom_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc Bloom decontamination stats + keep verdict.

    Columns: doc_id, n_ngrams (distinct 3-grams), bloom_hits (grams the
    filter reports as benchmark members), exact_hits (true members —
    the audit column), false_pos (= bloom_hits - exact_hits, ≥ 0 by the
    no-false-negative invariant), keep (10·bloom_hits < n_ngrams).
    """
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)

    bench_grams = word_ngrams(bench)
    bits = bloom_bits(bench_grams)
    bench_set = bench_grams.select("g").distinct()

    probes = _with_probes(word_ngrams(train))
    # k probe positions map-side; the (doc_id, g) distinct above already
    # hash-partitioned on both keys, so the membership re-group needs no
    # second exchange. The bits side is ≤ m rows — always broadcast.
    exploded = probes.select(
        "doc_id",
        "g",
        F.explode(
            F.array(
                *[
                    (F.col("h1") + F.lit(j) * F.col("h2")) % _M_BITS
                    for j in range(_K_HASHES)
                ]
            )
        ).alias("pos"),
    )
    member = (
        exploded.join(
            F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "g")
        .agg(
            (F.count("_set") == _K_HASHES).cast("int").alias("bloom_in")
        )
    )
    # audit column: exact membership (broadcast of the true set — the
    # certificate tier; production verdicts use bloom_in alone)
    scored = member.join(
        F.broadcast(bench_set.withColumn("_exact", F.lit(1))), "g", "left"
    ).select(
        "doc_id",
        "bloom_in",
        F.coalesce("_exact", F.lit(0)).alias("exact_in"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum("bloom_in").alias("bloom_hits"),
        F.sum("exact_in").alias("exact_hits"),
    )
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        "bloom_hits",
        "exact_hits",
        (F.col("bloom_hits") - F.col("exact_hits")).alias("false_pos"),
        (F.lit(10) * F.col("bloom_hits") < F.col("n_ngrams")).alias("keep"),
    )


def packed_bloom_words(bench_docs: DataFrame) -> list[int]:
    """The filter as ``_M_BITS // 64`` signed 64-bit words. The collect
    is bounded by the FILTER SIZE (≤ m/64 + m rows), a CONSTANT of the
    operator — never by the benchmark or the corpus — so this is legal
    at any scale (the whole point of a Bloom filter is that this
    materialization is small)."""
    bits = bloom_bits(
        word_ngrams(bench_docs.select(F.col("text")).withColumn("doc_id", F.lit(0)))
    )
    words = [0] * (_M_BITS // 64)
    for r in bits.collect():
        pos = int(r["pos"])
        words[pos // 64] |= 1 << (pos % 64)
    # wrap to signed for Spark long literals
    return [(w + 2**63) % 2**64 - 2**63 for w in words]


def _member_expr(words: list[int], permille: int) -> str:
    """keep-predicate SQL over a `text` column: per-row gram array →
    md5 probe pairs → packed-word bit tests — no join, no shuffle."""
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"

    def bit(pos_expr: str) -> str:
        return (
            f"((shiftright(element_at({arr}, "
            f"CAST(({pos_expr}) DIV 64 AS INT) + 1), "
            f"CAST(({pos_expr}) % 64 AS INT)) & 1) = 1)"
        )

    probes = " AND ".join(
        bit(f"(p.a + {j} * p.b) % {_M_BITS}") for j in range(_K_HASHES)
    )
    return f"""
    CASE WHEN size(split(text, ' ')) < 3 THEN true ELSE (
      WITH_GRAMS
    ) END
    """.replace(
        "WITH_GRAMS",
        f"""
        1000 * size(filter(
          transform(
            array_distinct(transform(
              sequence(1, size(split(text, ' ')) - 2),
              i -> concat_ws(' ',
                element_at(split(text, ' '), i),
                element_at(split(text, ' '), i + 1),
                element_at(split(text, ' '), i + 2)))),
            g -> named_struct(
              'a', CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT),
              'b', CAST(conv(substring(md5(g), 17, 15), 16, 10) AS BIGINT))),
          p -> {probes}))
        <= {permille} * size(array_distinct(transform(
              sequence(1, size(split(text, ' ')) - 2),
              i -> concat_ws(' ',
                element_at(split(text, ' '), i),
                element_at(split(text, ' '), i + 1),
                element_at(split(text, ' '), i + 2)))))
        """,
    )


def bloom_decontaminate_filter(
    docs: DataFrame,
    bench_docs: DataFrame,
    *,
    max_hit_permille: int = 100,
) -> DataFrame:
    """Production gate form (the funnel stage `llm/curate.py` wires):
    drop every doc whose Bloom-flagged 3-gram share exceeds
    ``max_hit_permille``/1000 of its distinct 3-grams — integer
    comparison, no float threshold. ``docs`` needs (doc_id, text) plus
    any passthrough columns (all preserved); ``bench_docs`` needs
    ``text``.

    Docs too short to have a 3-gram cannot hit the filter and are KEPT
    (the word-count rule owns short-doc judgement — same division of
    labor as the perplexity stage's NULL-keep).

    Scale difference vs the certificate query: the per-doc distinct
    here dedups on the (h1, h2) probe PAIR — 120 bits, computed at the
    scan — so the gram STRING never rides the shuffle (the
    `llm/novelty.py` discipline); the certificate keeps the string
    because its audit column needs the exact benchmark set.

    Two physical forms, both tested, MEASURED at 1M pages/local[32]
    (SCALE.md): this default is the codegen explode/join form (+14 s
    over the 44.5 s funnel baseline); the zero-shuffle packed form
    (:func:`bloom_decontaminate_filter_packed`) measured +31-36 s —
    higher-order-function lambdas run OUTSIDE whole-stage codegen, so
    trading a fixed-width shuffle for interpreted per-row lambdas LOSES
    single-node. Pick the packed form only where its statelessness is
    the point (streaming) or shuffle capacity is the binding
    constraint.
    """
    _check_permille(max_hit_permille)
    bits = bloom_bits(word_ngrams(bench_docs.select(F.col("text"))
                                  .withColumn("doc_id", F.lit(0))))
    probes = (
        _with_probes(word_ngrams(docs.select("doc_id", "text"), distinct=False))
        .select("doc_id", "h1", "h2")
        .distinct()
    )
    exploded = probes.select(
        "doc_id",
        "h1",
        "h2",
        F.explode(
            F.array(
                *[
                    (F.col("h1") + F.lit(j) * F.col("h2")) % _M_BITS
                    for j in range(_K_HASHES)
                ]
            )
        ).alias("pos"),
    )
    stats = (
        exploded.join(
            F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "h1", "h2")
        .agg((F.count("_set") == _K_HASHES).cast("int").alias("bloom_in"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("bloom_in").alias("_hits"),
        )
    )
    return (
        docs.join(stats, "doc_id", "left")
        .filter(
            F.col("_n").isNull()
            | (F.lit(1000) * F.col("_hits") <= F.lit(max_hit_permille) * F.col("_n"))
        )
        .drop("_n", "_hits")
    )


def bloom_decontaminate_filter_packed(
    docs: DataFrame,
    bench_docs: DataFrame,
    *,
    max_hit_permille: int = 100,
) -> DataFrame:
    """The zero-shuffle form of :func:`bloom_decontaminate_filter`: the
    filter packs into ``m/64`` long words (:func:`packed_bloom_words` —
    the collect is bounded by m, a constant) and the whole gate becomes
    ONE per-row predicate: gram array → md5 probe pair → packed-word
    bit tests. Zero joins, zero shuffles, zero state on the corpus side
    (plan-pinned), which makes the stage STREAMING-legal by
    construction: a stateless projection needs no state store.
    Identical keep set to the default form (tested).

    Honest measurement (1M pages, local[32], SCALE.md): SLOWER than the
    default single-node — the higher-order-function lambdas are
    interpreted, not codegen'd — so this form is for streaming and
    shuffle-bound clusters, not a drop-in upgrade.
    """
    _check_permille(max_hit_permille)
    words = packed_bloom_words(bench_docs)
    return docs.filter(F.expr(_member_expr(words, max_hit_permille)))


def _check_permille(v: int) -> None:
    # a permille outside [0, 1000] silently degenerates the gate (<0
    # drops every doc with any gram, >1000 keeps everything) — the same
    # silent-no-op class curatectl guards against for min_quality_prob
    if not 0 <= v <= 1000:
        raise ValueError(
            f"max_hit_permille must be in [0, 1000], got {v}"
        )


BLOOM_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
           || ' ' || w[CAST(i AS INT) + 2] AS g
  FROM toks, UNNEST(range(1, GREATEST(len(w) - 2, 0) + 1)) AS t(i)
),
hashed AS (
  SELECT doc_id, g,
         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h1,
         CAST(('0x' || substring(md5(g), 17, 15)) AS BIGINT) AS h2
  FROM grams
),
bench_bits AS (
  SELECT DISTINCT (h1 + j * h2) % {_M_BITS} AS pos
  FROM hashed, UNNEST(range(0, {_K_HASHES})) AS t(j)
  WHERE doc_id % {_BENCH_MOD} = 0
),
bench_g AS (
  SELECT DISTINCT g FROM hashed WHERE doc_id % {_BENCH_MOD} = 0
),
train_pos AS (
  SELECT doc_id, g, (h1 + j * h2) % {_M_BITS} AS pos
  FROM hashed, UNNEST(range(0, {_K_HASHES})) AS t(j)
  WHERE doc_id % {_BENCH_MOD} <> 0
),
member AS (
  SELECT tp.doc_id, tp.g,
         CASE WHEN COUNT(b.pos) = {_K_HASHES} THEN 1 ELSE 0 END AS bloom_in
  FROM train_pos tp LEFT JOIN bench_bits b ON tp.pos = b.pos
  GROUP BY 1, 2
),
scored AS (
  SELECT m.doc_id, m.bloom_in,
         CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END AS exact_in
  FROM member m LEFT JOIN bench_g bg ON m.g = bg.g
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_ngrams,
         CAST(SUM(bloom_in) AS BIGINT) AS bloom_hits,
         CAST(SUM(exact_in) AS BIGINT) AS exact_hits
  FROM scored GROUP BY 1
)
SELECT doc_id, n_ngrams, bloom_hits, exact_hits,
       bloom_hits - exact_hits AS false_pos,
       10 * bloom_hits < n_ngrams AS keep
FROM per_doc
"""

QUERIES = {"bloom_ngram_decontaminate": bloom_ngram_decontaminate}
ORACLES = {"bloom_ngram_decontaminate": BLOOM_DECONTAMINATE_SQL}
