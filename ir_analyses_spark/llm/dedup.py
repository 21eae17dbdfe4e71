"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash (SURVEY §2B LLM ext).

Scale ladder (the reason all four exist):
- exact hash dedup — one shuffle on a 16-byte key; always do this first;
- n-gram Jaccard — exact pairwise similarity, quadratic in candidate pairs:
  the *verifier*, never the candidate generator, at scale;
- MinHash LSH — candidate generation in O(n·bands): shuffles fixed-size
  signatures instead of shingle sets; candidates are then exact-verified;
- SimHash — 8-byte fingerprint + banded Hamming lookup: cheapest index for
  "almost identical" text at extreme scale.

Everything is built from built-in expressions (xxhash64, explode, groupBy) —
no Python UDFs — so dedup runs at scan speed inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..io.sources import load_table

def _spread(df: DataFrame) -> DataFrame:
    """Widen a narrow scan to the cluster's parallelism before per-row
    expansion (shingle explode multiplies rows ~300×). A small corpus file
    arrives as ONE input split, which would run the whole
    explode→hash→partial-agg chain single-threaded; at real scale the scan
    already has ≥ defaultParallelism splits and this is a no-op."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, 8-char shingle) pairs — shared by the exact and LSH paths.
    Shingle starts run 1..len-7 (whole text if shorter).

    Shape note: explode the POSITION sequence, then substring in the
    following projection — both stay in whole-stage codegen. The obvious
    alternative (``transform(sequence(...), i -> substring(...))``) builds
    a per-doc array of shingle strings through an interpreted lambda,
    which measurably dominates the MinHash pipeline at volume.

    ``distinct=False`` skips the dedup shuffle for consumers that are
    duplicate-insensitive (min-aggregation in MinHash): the explode then
    feeds map-side partial aggregation directly and the full shingle set
    never shuffles. Exact Jaccard (set semantics) needs ``distinct=True``.
    """
    sh = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)))
        ).alias("i"),
    ).select("doc_id", F.expr("substring(text, i, 8)").alias("g"))
    return sh.distinct() if distinct else sh


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (§2B: dropDuplicates on sha/xxhash).

    One row per distinct content: canonical (lowest) doc_id + copy count.
    At 100 TB this is a single shuffle on the 128-bit digest; never ship the
    text itself through the shuffle.
    """
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


EXACT_DEDUP_SQL = """
SELECT MD5(text) AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text)
"""


def _jaccard_over(
    sh: DataFrame, pairs: DataFrame | None, threshold: float
) -> DataFrame:
    """Exact Jaccard > ``threshold`` over a (doc_id, g) shingle-set frame —
    ONE definition of the scoring arithmetic shared by the quadratic
    verifier and the LSH candidate-verify path, so the 'LSH output == exact
    output' equality can never drift between two copies of the formula.
    With ``pairs`` (d1, d2) only those candidates are scored; without, all
    pairs sharing ≥1 shingle (quadratic)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is None:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        sh2 = sh.withColumnsRenamed({"doc_id": "d2_r", "g": "g_b"})
        inter = (
            pairs.join(sh.withColumnRenamed("doc_id", "d1"), "d1")
            .join(sh2, (F.col("d2") == F.col("d2_r")) & (F.col("g") == F.col("g_b")))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
        .withColumn("jac", F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")))
        .filter(F.col("jac") > threshold)
        .select("d1", "d2", "jac")
    )


#: refuse the quadratic shared-shingle self-join beyond this many pair
#: rows (Σ df(g)² over shingle values). Measured on the synthetic corpus:
#: ~6M at the correctness SFs (0.001/0.01), 561M at sf0.1 — the latter
#: OOM-killed a 32-thread local JVM in the (d1, d2) hash aggregate.
_PAIR_BLOWUP_BUDGET = 100_000_000


def _require_bounded_self_join(sh: DataFrame, op: str) -> None:
    """The all-pairs verifiers are quadratic in per-shingle doc frequency;
    on a corpus where that blows past the budget they must FAIL LOUDLY
    (same contract as ``neardup_pairs_bounded``'s hot-block refusal — an
    explicit error beats an executor OOM), steering the caller to the
    LSH-pruned verify path (`minhash_lsh_nearup` / the corpus pipelines),
    which scores the same arithmetic over a bounded candidate set."""
    blowup = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("b"))
        .collect()[0]["b"]
    )
    if blowup and blowup > _PAIR_BLOWUP_BUDGET:
        raise RuntimeError(
            f"{op}: shared-shingle self-join would produce ~{blowup:,} "
            f"pair rows (> budget {_PAIR_BLOWUP_BUDGET:,}) — this exact "
            "all-pairs form is the VERIFY tier; generate candidates with "
            "the banded-LSH path and score those instead"
        )


def _jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle.

    The shingle frame feeds three consumers inside ``_jaccard_over``
    (sizes + both self-join sides) — checkpoint it once so the explode +
    distinct doesn't replay per consumer."""
    sh = shingles(_spread(docs)).localCheckpoint(eager=True)
    _require_bounded_self_join(sh, "ngram_jaccard")
    return _jaccard_over(sh, None, threshold)


def _assert_lsh_equals_exact(
    lsh_edges: DataFrame, docs: DataFrame, threshold: float = 0.8
) -> None:
    """Recall gate for the CHAINED dedup consumers (``dedup_components``,
    ``neardup_dedup_pipeline``): assert the LSH-verified edge set equals
    the exact-Jaccard edge set BEFORE the transitive closure runs.

    Why: those queries' DuckDB oracles compute the exact-Jaccard closure,
    while the Spark side sources edges from ``minhash_lsh_nearup`` — so
    without this gate, oracle equality held only with the LSH recall
    probability (~1 − 1e-7 per true pair at 21 bands × 3 rows, J ≥ 0.8).
    A recall miss on a regenerated or larger corpus would then surface as
    an inscrutable three-query hash mismatch. With the gate, the same
    event is a LOUD, self-diagnosing error naming the dropped pair —
    determinism restored at every scale the exact verifier can afford.

    Scale posture: the exact edge set is the quadratic shared-shingle
    self-join, so the gate engages only while Σ df(g)² fits the pair
    budget (it does at the correctness SFs; at corpus scale the gate is
    skipped and the 1 − O(1e-7) recall bound — plus this function run at
    a sampled SF — is the operating contract, as for any production LSH
    dedup)."""
    sh = shingles(_spread(docs)).localCheckpoint(eager=True)
    blowup = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).alias("b"))
        .collect()[0]["b"]
    )
    if blowup is None or blowup > _PAIR_BLOWUP_BUDGET:
        return  # exact twin unaffordable here: LSH recall bound applies
    exact = _jaccard_over(sh, None, threshold).select("d1", "d2")
    lsh = lsh_edges.select("d1", "d2")
    diff = (
        exact.join(lsh, ["d1", "d2"], "left_anti")
        .withColumn("side", F.lit("missed_by_lsh"))
        .unionByName(
            lsh.join(exact, ["d1", "d2"], "left_anti")
            .withColumn("side", F.lit("not_in_exact"))
        )
        .limit(5)
        .collect()
    )
    if diff:
        pairs = [(r["side"], r["d1"], r["d2"]) for r in diff]
        raise RuntimeError(
            "LSH edge set diverged from the exact-Jaccard edge set: "
            f"{pairs} — 'missed_by_lsh' is the (probability ~1e-7/pair) "
            "banding recall miss, 'not_in_exact' means the exact-verify "
            "arithmetic drifted between the two paths. The component "
            "closure was NOT run; fix the edge source before trusting "
            "clustered dedup output."
        )


def containment_nearup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-duplicate pairs by shingle containment
    |S(src) ∩ S(dst)| / |S(src)| > 0.9 — catches a document nearly
    contained in a larger one, which symmetric Jaccard misses whenever the
    size ratio alone caps the score below threshold (a quote-heavy page vs
    its source, a subset dump vs the full dump). Emits both directions
    when both hold.

    Same scale posture as the exact Jaccard verifier: candidates from the
    shared-shingle self-join (the verify tier — at corpus scale the
    candidate set comes from LSH and this scoring runs semi-join-pruned),
    intersection counted per ordered pair, divided once by the SOURCE set
    size — exact integer counts, one IEEE division. A blowup guard
    refuses corpora whose Σ df² exceeds the pair budget (measured: the
    sf0.1 synthetic corpus's 31-token vocabulary makes shingles so common
    the self-join emits 561M pair rows and OOMs the JVM — an explicit
    refusal pointing at the LSH path beats a dead executor).

    The shingle frame (corpus-wide explode + distinct — the query's most
    expensive stage) feeds THREE consumers: the sizes aggregate and both
    self-join sides. Spark rebuilds shared subtrees per consumer, so it is
    eagerly checkpointed once — same posture as the tfidf/funnel/cohort
    shared frames."""
    sh = shingles(
        _spread(load_table(spark, "documents", sf_dir))
    ).localCheckpoint(eager=True)
    _require_bounded_self_join(sh, "containment_nearup")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(
            sizes.withColumnsRenamed({"doc_id": "src", "n": "n_src"}), "src"
        )
        .withColumn("containment", F.col("c") / F.col("n_src"))
        .filter(F.col("containment") > 0.9)
        .select("src", "dst", "containment")
    )


CONTAINMENT_NEARDUP_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         substring(text, CAST(i AS INT), 8) AS g
  FROM documents,
       UNNEST(range(1, GREATEST(length(text) - 7, 1) + 1)) AS t(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst, c * 1.0 / s.n AS containment
FROM inter JOIN sizes s ON src = s.doc_id
WHERE c * 1.0 / s.n > 0.9
"""


def ngram_jaccard_nearup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 8-gram Jaccard > 0.8 (§2B n-gram
    Jaccard). Candidate pairs come from a shingle self-join — exact but
    quadratic in shared-shingle pairs; at scale this expression is what the
    MinHash candidates are *verified* with, not how they're found."""
    docs = load_table(spark, "documents", sf_dir)
    return _jaccard_pairs(docs, 0.8)


NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         substring(text, CAST(i AS INT), 8) AS g
  FROM documents,
       UNNEST(range(1, GREATEST(length(text) - 7, 1) + 1)) AS t(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, c * 1.0 / (s1.n + s2.n - c) AS jac
FROM inter
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE c * 1.0 / (s1.n + s2.n - c) > 0.8
"""

# 64 hashes in 21 bands of 3: P(miss | jac=0.8) = (1-0.8³)^21 ≈ 3e-7 —
# tighter than 32×4 banding at HALF the signature-aggregation cost (the
# min-agg has one buffer slot per hash, and that agg dominates the
# pipeline). False candidates from the shorter bands are removed by exact
# verification, so the oracle equality is unaffected.
_N_HASHES = 64
_BAND_SIZE = 3


def _minhash_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{_N_HASHES - 1}) — ``_N_HASHES`` min-hashes as SEPARATE
    long columns from an affine family h_i(g) = h1(g) + i·h2(g) over two
    base xxhash64 draws (wrapping 64-bit arithmetic).

    Hashing the shingle string _N_HASHES times would dominate the whole LSH
    pipeline (_N_HASHES string hashes per shingle); the affine family costs
    two string hashes + _N_HASHES multiply-adds — the standard pick for
    MinHash at scale, and fully deterministic. Wide columns (not an array) keep every
    downstream consumer — banding, signature-estimate — inside whole-stage
    codegen; array HOFs (slice/aggregate/zip_with) are interpreted per row
    and measurably dominate at volume.

    Construction note (r14 optimization, guide §1.2 "per-task work" applied
    to the DRIVER): the _N_HASHES aggregate expressions are built as one
    parsed SQL string per column, not as Python Column operator chains — a
    Column operator is a py4j round trip, and the 4·_N_HASHES round trips
    measured ~1.0 s of the bench query's wall time (plan construction, paid
    per invocation). One ``F.expr`` per column is a single round trip with
    identical resolved expressions (integer literals parse to the same
    IntegerType the old ``F.lit(s)`` produced, so the wrapping long
    arithmetic is unchanged)."""
    sh = shingles(_spread(docs), distinct=False)
    base = sh.select(
        "doc_id",
        F.xxhash64("g").alias("h1"),
        F.xxhash64("g", F.lit(1)).alias("h2"),
    )
    mins = [F.expr(f"min(h1 + {s} * h2) AS h{s}") for s in range(_N_HASHES)]
    return base.groupBy("doc_id").agg(*mins)


def minhash_lsh_nearup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified (§2B minhash→band→bucket).

    Pipeline: shingle → 64 min-hashes → 21 banded bucket keys → bucket
    self-join for candidates → signature-estimate prefilter → exact Jaccard
    verification > 0.8.

    Shares the n-gram oracle: with 21×3 banding the true-pair recall is
    1 − O(1e-7) and surviving false candidates are removed by exact
    verification, so LSH output == exact output (that equality IS the
    correctness claim). At 100 TB only signatures (~0.5 KB/doc) shuffle;
    raw text never does.
    """
    return minhash_pairs(load_table(spark, "documents", sf_dir))


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """Parameterized core of :func:`minhash_lsh_nearup` — same pipeline
    over any (doc_id, text) frame, so the chained-dedup consumers can
    run it over the exact-dedup-collapsed canonical corpus."""
    # The signature frame is consumed three times (banding + both sides of
    # the estimate prefilter); without materialization every consumer stage
    # re-expands the whole shingle→hash→min-agg subtree (lazy persist loses
    # the race when consumer stages schedule concurrently). An eager local
    # checkpoint computes the sketch exactly once and truncates lineage —
    # "checkpoint the sketch, never recompute it", at any scale.
    sig = _minhash_wide(docs).localCheckpoint(eager=True)
    n_bands = _N_HASHES // _BAND_SIZE
    # banding: each band's bucket is a direct xxhash64 over its 3 min-hash
    # COLUMNS — the projection feeding the explode is (doc_id, 21 longs);
    # no signature array is assembled or carried through the generate, and
    # the whole thing stays in codegen (no slice/HOF). Built as ONE parsed
    # expression string — see the construction note in _minhash_wide.
    buckets = ", ".join(
        f"xxhash64(h{i * _BAND_SIZE}, h{i * _BAND_SIZE + 1},"
        f" h{i * _BAND_SIZE + 2}, {i})"
        for i in range(n_bands)
    )
    bands = sig.selectExpr(
        "doc_id", f"posexplode(array({buckets})) AS (band, bucket)"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    # NOT distinct here: a pair colliding in k bands yields k rows, but the
    # estimate filter below is deterministic per pair, so dedup AFTER it —
    # the distinct then runs on the few survivors instead of the ~100×
    # larger raw candidate multiset.
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    )
    # signature-estimate prefilter: short bands recall aggressively, so the
    # raw candidate set is ~100× the true pair set. The fraction of equal
    # minhashes estimates Jaccard (σ = √(j(1-j)/64) ≈ 0.05), so est > 0.6
    # (≥ 39 of 64 equal) is >4σ below the 0.8 target — true pairs pass with
    # P ≈ 1-3e-7, and the expensive exact verify only ever sees
    # near-threshold pairs. The equal-count is a codegen'd sum of 64
    # column comparisons, not an interpreted array fold.
    siga = sig.selectExpr(
        "doc_id AS d1", *[f"h{s} AS a{s}" for s in range(_N_HASHES)]
    )
    sigb = sig.selectExpr(
        "doc_id AS d2", *[f"h{s} AS b{s}" for s in range(_N_HASHES)]
    )
    # estimate joins shuffle only signature rows (~0.5 KB/doc) keyed by
    # doc id — never text. Below the 64 MB auto-broadcast threshold
    # (~125k docs) Catalyst plans them as map-side broadcast joins on its
    # own; past that a key-partitioned shuffle of the signature table is
    # the correct plan, so no broadcast hint is forced here.
    sigp = candidates.join(siga, "d1").join(sigb, "d2")
    # one parsed expression (identical CASE WHEN semantics to the former
    # F.when chain, null condition → ELSE 0) — see _minhash_wide's note
    n_equal = F.expr(
        " + ".join(
            f"(CASE WHEN a{s} = b{s} THEN 1 ELSE 0 END)"
            for s in range(_N_HASHES)
        )
    )
    # surviving candidates feed both the doc-id prune and the pair verify
    candidates = (
        sigp.filter(n_equal >= int(0.6 * _N_HASHES) + 1)
        .select("d1", "d2")
        .distinct()
        .localCheckpoint(eager=True)
    )

    # exact verification of candidates only: shingle sets are semi-join-
    # pruned to docs that appear in some candidate pair BEFORE the pairwise
    # join — at scale the candidate set is orders of magnitude smaller than
    # the corpus, so the quadratic verify never touches non-candidates.
    cand_docs = (
        candidates.select(F.col("d1").alias("doc_id"))
        .union(candidates.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # semi-join BEFORE the explode: only candidate docs ever shingle again;
    # checkpointed because sizes + both sides of the intersection join
    # would otherwise re-explode it three times
    sh = shingles(docs.join(cand_docs, "doc_id", "left_semi")).localCheckpoint(
        eager=True
    )
    # same scoring arithmetic as the quadratic verifier, by construction
    return _jaccard_over(sh, candidates, 0.8)


def simhash_fingerprints(docs: DataFrame, portable: bool = False) -> DataFrame:
    """64-bit SimHash per document from whitespace tokens (§2B SimHash).

    Per token: a 64-bit hash → each bit votes ±1; fingerprint bit b is the
    vote sign. Computed as 64 conditional-sum aggregates in one pass (wide
    but codegen'd; no UDF, no 64× row blowup), then assembled with shifts.

    The token-hash family is a pluggable parameter of the algorithm:

    - default (``portable=False``): ``xxhash64`` — the fast path at scale;
    - ``portable=True``: the first 64 bits of ``md5`` hex, bit b taken as
      bit ``b%4`` of hex digit ``b//4``. Slower, but both engines produce
      identical lowercase-hex md5, so the full pipeline is bit-for-bit
      reproducible in ANSI SQL — this is what gives ``simhash_nearup`` an
      exact oracle instead of a rows-only check.
    """
    docs = _spread(docs)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # All wide expressions below are built as parsed SQL strings (one py4j
    # round trip per column) rather than Python Column chains — the same
    # driver-side construction-cost fix as _minhash_wide; the resolved
    # expressions are identical.
    if portable:
        # hex digit value without conv(): instr over the hex alphabet is
        # the same expression DuckDB spells strpos(...) - 1
        toks = toks.withColumn("hx", F.md5("tok")).selectExpr(
            "doc_id",
            *[
                f"instr('0123456789abcdef', substring(hx, {i + 1}, 1)) - 1"
                f" AS d{i}"
                for i in range(16)
            ],
        )

        def bit(b):
            return f"(shiftright(d{b // 4}, {b % 4}) & 1)"

    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))

        def bit(b):
            return f"(shiftright(h, {b}) & 1)"

    votes = [
        F.expr(f"sum(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) AS v{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fingerprint = " ^ ".join(
        f"shiftleft(CAST(CASE WHEN v{b} > 0 THEN 1 ELSE 0 END AS BIGINT), {b})"
        for b in range(64)
    )
    return agg.selectExpr("doc_id", f"{fingerprint} AS simhash")


def simhash_nearup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: banded 16-bit chunks (pigeonhole: any
    pair within Hamming distance 3 shares ≥1 of 4 chunks) then exact Hamming
    ≤ 3 filter. Uses the portable md5 hash family so the oracle (a quadratic
    all-pairs twin — exact because banding loses nothing under the
    pigeonhole bound) reproduces the fingerprints bit-for-bit.
    """
    docs = load_table(spark, "documents", sf_dir)
    fp = simhash_fingerprints(docs, portable=True)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def _simhash_oracle_sql() -> str:
    """DuckDB twin of :func:`simhash_nearup` over the portable md5 family.

    Quadratic all-pairs Hamming (no banding) — exact-equal to the banded
    Spark plan because 4×16-bit chunk banding is lossless at distance ≤ 3.
    Fingerprints are never assembled into one BIGINT (1<<63 overflows
    DuckDB's signed shift); Hamming is the sum of per-bit |a-b| instead.
    """

    def digit(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"

    votes = ",\n         ".join(
        f"SUM(CASE WHEN (({digit(b // 4)} >> {b % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    bits = ",\n         ".join(
        f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END AS b{b}" for b in range(64)
    )
    ham = " + ".join(f"abs(a.b{b} - b.b{b})" for b in range(64))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         {bits}
  FROM votes
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST({ham} AS BIGINT) AS hamming
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
)
SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3
"""


SIMHASH_NEARDUP_SQL = _simhash_oracle_sql()


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS via iterative connected components (§2B
    "iterative algorithms"): pairwise near-dup edges → min-label
    propagation until fixpoint → (doc_id, canonical_id) per clustered doc.

    Pairwise output alone can't drive dedup (A~B, B~C needs A,B,C in ONE
    group with one survivor); this is the step every dedup pipeline runs
    after candidate verification. Driver-side loop, DataFrame body:
    each round joins labels to edges and takes the min over neighbors —
    O(diameter) rounds, each a shuffle by doc_id; localCheckpoint per
    round truncates the growing lineage (the classic iterative-algorithm
    discipline on Spark).

    Oracle note: the DuckDB twin is a recursive-CTE transitive closure —
    O(component²) intermediate rows, fine at the driver's correctness SF
    but it (not this operator, which stays linear in edges) is what runs
    out of memory first at larger scales (measured r6: the closure
    oracle exceeds 120 s / 14 GB at sf0.1 — 561M shared-shingle pairs —
    while this operator's LSH path finishes in ~11 s there; the sf0.1
    differential sweep therefore skips the two closure-oracle queries,
    see COVERAGE.md).
    """
    # EXACT-BEFORE-FUZZY (the standard production composition, and the
    # r6 10× experiment's lesson — see SCALE.md): collapse exact clone
    # families by content hash FIRST, run LSH over canonical docs only,
    # and re-attach members with star edges. The closure is provably
    # identical: clone members share their canonical's exact shingle
    # set, so (a) every clone pair was a Jaccard-1.0 edge anyway — the
    # member→canonical star preserves exactly that connectivity — and
    # (b) any cross-family near-dup edge is reflected verbatim between
    # the two canonicals. On a corpus with clone density k the LSH input
    # shrinks k× and its pair set k²× while the output stays bit-equal
    # (pinned by tests/test_dedup_gate.py clone-collapse equality).
    docs = load_table(spark, "documents", sf_dir)
    # checkpoint the digest frame: it feeds BOTH sides of the member join,
    # and without materialization each side re-scans and re-hashes the
    # full text column (the module's multi-consumer discipline — same as
    # the signature checkpoint in minhash_pairs)
    groups = docs.select(F.md5("text").alias("h"), "doc_id").localCheckpoint(
        eager=True
    )
    member = (
        groups.join(
            groups.groupBy("h").agg(F.min("doc_id").alias("canon_id")), "h"
        )
        .select("doc_id", "canon_id")
        .localCheckpoint(eager=True)  # feeds canon filter + star edges
    )
    canon_docs = docs.join(
        member.filter(F.col("doc_id") == F.col("canon_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # edge source: the LSH pipeline, whose exact-verified output equals the
    # quadratic _jaccard_pairs result (that equality is minhash's oracle
    # claim) at a fraction of the cost — candidates come from bucket
    # collisions instead of a full shingle self-join
    lsh_edges = minhash_pairs(canon_docs).select("d1", "d2")
    lsh_edges = lsh_edges.localCheckpoint(eager=True)
    # deterministic-oracle gate: where the exact twin is affordable, an
    # LSH recall miss must fail LOUDLY here, never surface downstream as
    # a silent closure/oracle mismatch. Gating the CANONICAL sub-corpus
    # suffices: member edges are exact by construction.
    _assert_lsh_equals_exact(lsh_edges, canon_docs)
    edges = lsh_edges.unionByName(
        member.filter(F.col("doc_id") != F.col("canon_id")).select(
            F.col("doc_id").alias("d1"), F.col("canon_id").alias("d2")
        )
    )

    # undirected adjacency incl. self-loops
    adj = (
        edges.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .union(edges.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    )
    # r14 (guide §2.1): the adjacency is loop-INVARIANT but was being
    # re-shuffled by dst on EVERY round's join. Hash-partition it by the
    # join key once and persist — persist (NOT localCheckpoint, whose
    # LogicalRDD reports UnknownPartitioning in Spark 4.1) carries the
    # cached plan's hashpartitioning through InMemoryTableScan, so when
    # the per-round join plans as a sort-merge join (the at-scale shape;
    # locally AQE broadcasts the label side and the partitioning is
    # inert) only the ≤|V|-row label frame exchanges — the |E|-sized
    # side never touches the wire again. Verified on the executed plan:
    # SMJ left leg = Sort←Filter←InMemoryTableScan, no Exchange.
    # Unpersisted before return; the labels result is checkpointed and
    # does not reference it.
    adj = adj.repartition("dst").persist(StorageLevel.MEMORY_AND_DISK)
    # r15 (VERDICT r14 item 4): unpersist in a finally — the happy-path
    # return used to be the only release, so a mid-loop failure left an
    # |E|-sized MEMORY_AND_DISK frame pinned for the session.
    try:
        nodes = adj.select(F.col("src").alias("doc_id")).distinct()
        labels = nodes.select("doc_id", F.col("doc_id").alias("canonical_id"))

        while True:
            neighbor_min = (
                adj.join(labels, adj["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("canonical_id").alias("nmin"))
            )
            # r14 (guide §2.3): the fixpoint test used to be a SECOND
            # labels⋈new_labels join-and-count job per round. A label can
            # only ever decrease, so "this row changed" is exactly
            # nmin < canonical_id — computed in the same projection and
            # checkpointed with it; the test is then a scan of the
            # materialized ≤|V|-row frame, no join, no shuffle.
            new_labels = (
                labels.join(
                    neighbor_min, labels["doc_id"] == neighbor_min["src"], "left"
                )
                .select(
                    "doc_id",
                    F.least(
                        "canonical_id", F.coalesce("nmin", "canonical_id")
                    ).alias("canonical_id"),
                    (
                        F.coalesce("nmin", F.col("canonical_id"))
                        < F.col("canonical_id")
                    ).alias("_chg"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.filter("_chg").limit(1).count()
            labels = new_labels.drop("_chg")
            if changed == 0:
                return labels
    finally:
        adj.unpersist()


#: shared CTE chain: shingles → exact-Jaccard edges → transitive closure
#: (used by the components oracle and the dedup-pipeline oracle)
#:
#: DETERMINISM: the Spark side sources edges from minhash_lsh_nearup while
#: these oracles compute the EXACT-Jaccard closure. At every SF where the
#: exact twin fits the pair budget (all correctness SFs included),
#: ``_assert_lsh_equals_exact`` runs BEFORE the closure, so a banding
#: recall miss (probability ~1e-7 per true pair) raises a self-diagnosing
#: error naming the dropped pair instead of surfacing as a silent oracle
#: mismatch — oracle equality no longer rides on the recall event.
#: Beyond the budget the gate steps aside and the recall bound is the
#: operating contract (pinned by tests/test_dedup_gate.py).
_COMPONENTS_CTES = """
WITH RECURSIVE
sh AS (
  SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) AS g
  FROM documents,
       UNNEST(range(1, GREATEST(length(text) - 7, 1) + 1)) AS t(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) > 0.8
),
adj AS (
  SELECT d1 AS src, d2 AS dst FROM edges
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM edges
),
reach(src, dst) AS (
  SELECT src, dst FROM adj
  UNION
  SELECT r.src, a.dst FROM reach r JOIN adj a ON r.dst = a.src
),
comp AS (
  SELECT doc_id, MIN(m) AS canonical_id
  FROM (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS m FROM reach GROUP BY src
  ) GROUP BY doc_id
)
"""

DEDUP_COMPONENTS_SQL = _COMPONENTS_CTES + """
SELECT doc_id, canonical_id FROM comp
"""


def neardup_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-duplicate deduplication — the operation every LLM
    corpus pipeline ultimately runs: LSH-verified near-dup pairs →
    connected components → ONE survivor per cluster (longest text,
    smallest doc_id tiebreak — the usual keep-the-richest-copy policy) →
    the deduped corpus.

    Composes three already-verified stages (minhash_lsh_nearup,
    dedup_components, anti-join); the survivor pick is a ``min_by`` over a
    (-n_chars, doc_id) struct key — lexicographic struct comparison makes
    the tiebreak total, so the output is deterministic. Only (doc_id,
    cluster, n_chars) tuples ever shuffle; text stays in place until the
    final pruned scan.
    """
    docs = load_table(spark, "documents", sf_dir)
    comp = dedup_components(spark, sf_dir)  # clustered docs only
    ranked = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    survivors = ranked.groupBy("canonical_id").agg(
        F.min_by(
            "doc_id",
            F.struct(
                # NULL n_chars must LOSE (keep-the-richest policy; also
                # DuckDB's default NULLS LAST under DESC): Spark's struct
                # ordering puts NULL first ascending, so coalesce to +inf-ish
                F.coalesce(-F.col("n_chars"), F.lit(2**62)).alias("neg_len"),
                F.col("doc_id").alias("tiebreak"),
            ),
        ).alias("survivor_id")
    )
    losers = (
        comp.join(survivors, "canonical_id")
        .filter(F.col("doc_id") != F.col("survivor_id"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


#: survivor selection on top of the recursive-CTE component closure
NEARDUP_DEDUP_PIPELINE_SQL = _COMPONENTS_CTES + """
, ranked AS (
  SELECT c.doc_id, c.canonical_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
survivors AS (
  SELECT canonical_id,
         (LIST(doc_id ORDER BY n_chars DESC NULLS LAST, doc_id ASC))[1]
           AS survivor_id
  FROM ranked GROUP BY canonical_id
),
losers AS (
  SELECT c.doc_id FROM comp c JOIN survivors s USING (canonical_id)
  WHERE c.doc_id <> s.survivor_id
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
"""


QUERIES = {
    "exact_dedup": exact_dedup,
    "ngram_jaccard_nearup": ngram_jaccard_nearup,
    "containment_nearup": containment_nearup,
    "minhash_lsh_nearup": minhash_lsh_nearup,
    "simhash_nearup": simhash_nearup,
    "dedup_components": dedup_components,
    "neardup_dedup_pipeline": neardup_dedup_pipeline,
}

ORACLES = {
    "exact_dedup": EXACT_DEDUP_SQL,
    "ngram_jaccard_nearup": NGRAM_JACCARD_SQL,
    "containment_nearup": CONTAINMENT_NEARDUP_SQL,
    # minhash_lsh_nearup is exact-verified, so it shares the n-gram oracle
    "minhash_lsh_nearup": NGRAM_JACCARD_SQL,
    # portable md5 hash family → the fingerprints reproduce in SQL exactly
    "simhash_nearup": SIMHASH_NEARDUP_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "neardup_dedup_pipeline": NEARDUP_DEDUP_PIPELINE_SQL,
}
