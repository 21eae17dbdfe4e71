"""Batch retrieval primitives: inverted-index build + BM25 scoring.

The index-construction and ranked-retrieval side of a corpus pipeline
(Robertson & Walker SIGIR 1994 / the BM25 of Robertson & Zaragoza
2009, "The Probabilistic Relevance Framework"): build postings over
the documents table and score a fixed query against every document.
Index construction is the canonical big-batch IR job; scoring a query
set against a 100 TB corpus is how retrieval-augmented training data
gets mined.

Float discipline (the `llm/dsir.py` posture): BM25's idf is
transcendental, so it is algebraically rearranged onto INTEGER
arguments —

    idf = ln((N − df + 0.5)/(df + 0.5)) = ln(2N − 2df + 1) − ln(2df + 1)

(two lns of exact int64s — the same IEEE inputs in both engines). The
tf normalization with k1 = 1.2, b = 0.75 is cleared of float
constants by scaling through 10·T (T = total corpus tokens, avgdl =
T/N):

    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
      = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)

— ONE IEEE division of two exact int64 products (bounds: tf ≤ dl,
10·tf·T stays under int64 up to T ≈ 10^15 corpus tokens at dl ≤ 10^3;
past that, rescale the constant pair). The per-term product
idf·tf_component is two identically-computed doubles multiplied once,
then ROUND(·,6) → DECIMAL before the per-doc SUM, so aggregation
order can never move the hash (`ops/helpers.py` discipline).

Scale shape: the (term, df/idf) table is bounded by the QUERY length —
broadcast; document length and corpus totals are one partial-agg pass;
the only doc-cardinality shuffles carry fixed-width (doc_id, tf/dl)
rows. Postings construction shuffles (token, doc, positions-array)
grouped rows — the stopword token's posting string is the documented
hot key of the single-string certificate form
(:func:`inverted_postings`), whose per-token ``collect_list`` carries
unbounded state on one task at corpus scale. The PRODUCTION form is
:func:`inverted_postings_sharded` (r12 VERDICT item 2): postings are
segmented by doc_id range — ``segment = doc_id div seg_width`` — so
every aggregation key is (token, segment) and per-key state is bounded
by the segment's document population, whatever one token's global df.
A reader walks a token's list in global doc order by scanning segments
ascending (range segmentation preserves doc order across segments,
which modulo sharding would not). For sequential doc_ids ``seg_width``
bounds docs-per-segment directly; for hashed 64-bit doc_ids
(``xxhash64`` identity in the curation funnel) pick
``seg_width = 2^64 / S`` — uniform hashes populate the S value-range
segments evenly, and ``div``'s truncate-toward-zero matches DuckDB
``//`` exactly even on negative ids (pinned in tests).

Reference parity: the reference app has no retrieval surface at all
(pandas keyword filters at best); this module is LLM-pipeline
capability closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.sources import load_table
from ..ops.helpers import local_df

#: fixed certificate query — three mid-frequency corpus terms, so
#: matched/unmatched docs, multi-term and single-term matches all
#: exist at every correctness SF (pinned in tests/test_retrieval.py)
_QUERY = ("customer", "window", "filter")
_DEC = "decimal(20,6)"


#: int64 ceiling for the rescaled-BM25 overflow guard below
_I64_MAX = (1 << 63) - 1


def bm25_scores(docs: DataFrame, query_terms=_QUERY, _i64=_I64_MAX) -> DataFrame:
    """(doc_id, n_terms, score) for every doc matching ≥ 1 query term;
    k1 = 1.2, b = 0.75 via the integer-scaled rational form above.

    Overflow guard (r12 ADVICE): past the int64 bound Spark's non-ANSI
    arithmetic silently WRAPS ``10·tf·t_tokens`` while DuckDB promotes
    to HUGEINT — the engines would diverge silently at exactly the
    scale this module advertises. The 1-row totals frame therefore
    checks ``23·max_dl·t_tokens ≤ int64`` (a sufficient bound for both
    the numerator ``22·tf·T``, tf ≤ dl ≤ max_dl, and the denominator
    ``10·tf·T + 3·T + 9·dl·N ≤ 22·max_dl·T`` since N ≤ T), evaluated
    by integer division so the CHECK itself cannot wrap; exceeding it
    raises instead of scoring wrapped. ``_i64`` exists only so tests
    can shrink the ceiling and prove the guard fires."""
    return _term_scores(docs, query_terms, _i64).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        # exact decimal sum, then one representational cast (the
        # llm/dsir.py logweight convention)
        F.sum("s").cast("double").alias("score"),
    )


def _term_scores(docs: DataFrame, query_terms, _i64=_I64_MAX) -> DataFrame:
    """(doc_id, w, s): the per-(doc, term) BM25 partial scores shared by
    the single-query and the batched multi-query forms — decimal-cast
    after one ROUND(·,6), so any aggregation order downstream is
    hash-stable."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
        F.max("dl").alias("max_dl"),
    ).select(
        "n_docs",
        F.when(
            # empty corpus: the agg row carries NULL totals — pass it
            # through (nothing scores downstream) instead of letting
            # the NULL comparison fall into the raise branch with a
            # misleading overflow message
            F.col("t_tokens").isNull()
            | (
                F.col("t_tokens")
                <= F.expr(f"({_i64} div 23) div max_dl")
            ),
            F.col("t_tokens"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "bm25_scores: corpus exceeds the int64 rescale "
                        "bound (23 * max_dl * t_tokens > 2^63): t_tokens="
                    ),
                    F.col("t_tokens").cast("string"),
                    F.lit(", max_dl="),
                    F.col("max_dl").cast("string"),
                    F.lit(
                        "; shard the corpus or rescale the constant "
                        "pair (module docstring)"
                    ),
                )
            )
        )
        .alias("t_tokens"),
    )
    tf = (
        toks.filter(F.col("w").isin(*query_terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            (
                F.log(2 * F.col("n_docs") - 2 * F.col("df") + 1)
                - F.log(2 * F.col("df") + 1)
            ).alias("idf"),
        )
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("idf")
                * (
                    (22 * F.col("tf") * F.col("t_tokens"))
                    / (
                        10 * F.col("tf") * F.col("t_tokens")
                        + 3 * F.col("t_tokens")
                        + 9 * F.col("dl") * F.col("n_docs")
                    )
                ),
                6,
            )
            .cast(_DEC)
            .alias("s"),
        )
    )


def bm25_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: BM25 of the fixed certificate query over the
    documents table."""
    return bm25_scores(load_table(spark, "documents", sf_dir))


def inverted_postings(docs: DataFrame) -> DataFrame:
    """(token, df, total_tf, postings) — postings is
    ``doc:pos,pos;doc:pos`` with 1-based positions, docs ascending,
    positions ascending: the canonical positional index entry, built
    with two grouped aggregations (per (token, doc) position lists,
    then per token)."""
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "w"),
    ).select("doc_id", "w", (F.col("p0") + 1).alias("p"))
    per_doc = pos.groupBy("w", "doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("ps"),
        F.count(F.lit(1)).alias("tf"),
    )
    entries = per_doc.select(
        "w",
        "tf",
        "doc_id",
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.array_join(
                F.transform("ps", lambda x: x.cast("string")), ","
            ),
        ).alias("entry"),
    )
    return (
        entries.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                    lambda s: s["entry"],
                ),
                ";",
            ).alias("postings"),
        )
        .withColumnRenamed("w", "token")
    )


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: positional postings over the documents table."""
    return inverted_postings(load_table(spark, "documents", sf_dir))


#: default doc_ids-per-segment (by doc_id VALUE range) for the sharded
#: index — at the correctness SFs (sequential ids: 500 docs at sf0.01,
#: 5000 at sf0.1) this yields 2 / 20 segments, so multi-segment tokens,
#: single-segment tokens, and segment-boundary splits all exist in
#: every driver window (pinned in tests/test_retrieval.py)
_SEG_WIDTH = 256


def inverted_postings_sharded(
    docs: DataFrame, seg_width: int = _SEG_WIDTH
) -> DataFrame:
    """(token, segment, df_seg, total_tf, postings) — the scale-safe
    production twin of :func:`inverted_postings` (its oracle-exact
    certificate): identical entry encoding, but postings are segmented
    by doc_id range (``segment = doc_id div seg_width``), so the final
    aggregation groups on (token, segment) and NO key ever aggregates
    one token's full corpus-wide postings. Per-key state is bounded by
    the segment population; a stopword's index entry is many bounded
    rows instead of one multi-GB string built on one straggler task.
    Concatenating a token's ``postings`` over its segments ascending
    reproduces the certificate's string byte-for-byte (pinned in
    tests).

    Skew note: ``div`` truncates toward zero (the DuckDB-``//``-parity
    choice for hashed, negative-capable ids), so the two nominal
    widths either side of zero both land in segment 0 — the
    zero-straddling segment is exactly DOUBLE width, never more
    (measured at 5M hashed-id docs: max segment population ~2× mean;
    SCALE.md §r13). Runs needing exact evenness can pmod-shift ids
    before segmenting."""
    if seg_width < 1:
        # div-by-zero segments are NULL in non-ANSI mode — every row
        # would silently collapse into one null segment, resurrecting
        # exactly the unbounded key this form exists to remove
        raise ValueError(f"seg_width must be >= 1, got {seg_width}")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "w"),
    ).select("doc_id", "w", (F.col("p0") + 1).alias("p"))
    per_doc = pos.groupBy("w", "doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("ps"),
        F.count(F.lit(1)).alias("tf"),
    )
    entries = per_doc.select(
        "w",
        "tf",
        "doc_id",
        F.expr(f"doc_id div {int(seg_width)}").alias("seg"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.array_join(
                F.transform("ps", lambda x: x.cast("string")), ","
            ),
        ).alias("entry"),
    )
    return (
        entries.groupBy("w", "seg")
        .agg(
            F.count(F.lit(1)).alias("df_seg"),
            F.sum("tf").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                    lambda s: s["entry"],
                ),
                ";",
            ).alias("postings"),
        )
        .withColumnRenamed("w", "token")
        .withColumnRenamed("seg", "segment")
    )


def inverted_index_postings_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry: segmented positional postings over the documents
    table (the production form; ``inverted_index_postings`` is its
    single-string certificate)."""
    return inverted_postings_sharded(load_table(spark, "documents", sf_dir))


#: fixed certificate phrase — a mid-frequency adjacent pair at every
#: correctness SF, with multi-occurrence docs (n_occurrences = 2) and
#: docs containing the first term WITHOUT the phrase, so adjacency
#: (not mere co-occurrence) is what the oracle hashes
_PHRASE = ("part", "filter")


def _parse_positions(index: DataFrame, tokens) -> DataFrame:
    """(token, segment, doc_id, p): the query tokens' postings strings
    parsed back to one row per position — the shared read head of every
    position-consuming query (phrase, proximity). The token filter is
    applied BEFORE any postings string is parsed, so over a stored
    index it reaches the parquet scan as PushedFilters and the parse
    touches ~the query tokens' rows."""
    return (
        index.filter(F.col("token").isin(*tokens))
        .select(
            "token",
            "segment",
            F.explode(F.split("postings", ";")).alias("entry"),
        )
        .select(
            "token",
            "segment",
            F.split("entry", ":")[0].cast("long").alias("doc_id"),
            F.explode(
                F.transform(
                    F.split(F.split("entry", ":")[1], ","),
                    lambda x: x.cast("int"),
                )
            ).alias("p"),
        )
    )


def _parse_tf(index: DataFrame, tokens) -> DataFrame:
    """(w, doc_id, tf): term frequencies parsed from the query tokens'
    postings entries WITHOUT unrolling positions (tf = position-list
    length — the same integer the from-text scorer counts). The
    doc-frequency shape of the shared read head: fixed-width rows,
    token filter pushed below the parse."""
    return (
        index.filter(F.col("token").isin(*tokens))
        .select(
            F.col("token").alias("w"),
            F.explode(F.split("postings", ";")).alias("entry"),
        )
        .select(
            "w",
            F.split("entry", ":")[0].cast("long").alias("doc_id"),
            F.size(F.split(F.split("entry", ":")[1], ","))
            .cast("long")
            .alias("tf"),
        )
    )


def phrase_search(index: DataFrame, t1: str, t2: str) -> DataFrame:
    """(doc_id, n_occurrences) of the exact phrase ``"t1 t2"`` computed
    by READING the segmented positional index — the reader-side proof
    that the sharded layout preserves the index semantics end to end.
    ``index`` is an :func:`inverted_postings_sharded` frame; the
    registry certificate builds it inline from the documents table and
    its DuckDB oracle computes the same phrase counts DIRECTLY FROM
    TEXT, so a hash match proves the text → postings-string → parse →
    position-join round trip is lossless, not merely self-consistent.

    Query-time scale shape: the token filter prunes the index to the
    two query tokens' (token, segment) rows BEFORE any postings string
    is parsed (and Catalyst pushes it below the inline build's
    aggregations when the index is constructed in the same plan —
    pinned in tests); the position join then carries only fixed-width
    (segment, doc_id, p) rows, joined on the segment-and-doc keys the
    index is already bucketed by. Adjacency is position arithmetic:
    an occurrence is a t1 position p with a t2 position p+1 in the
    same doc (t1 == t2 finds self-adjacent runs correctly — the same
    frame joins against its shifted self). Note the certificate's
    INLINE build is replayed in both join branches (self-join lineage
    — visible as the duplicated subtree in the plan); production reads
    the index from storage, where each branch is a pruned scan, so the
    duplication is an artifact of the self-contained certificate, not
    the operator."""
    return phrase_search_n(index, (t1, t2))


def phrase_search_n(index: DataFrame, tokens) -> DataFrame:
    """(doc_id, n_occurrences) of the exact n-token phrase — the
    general form :func:`phrase_search` is the n = 2 case of. An
    occurrence is a position p where ``tokens[i]`` sits at p + i for
    every i; the i-th join key shifts that token's positions by −i, so
    all n − 1 joins are equi-joins on the same (segment, doc_id, p)
    key the index is bucketed by. A token REPEATED inside the phrase
    ("data group group") joins the same parsed frame at two different
    offsets — the offsets, not token identity, carry the adjacency,
    so repeats cost nothing special.

    Scale shape: one pruned read of the n distinct tokens' (token,
    segment) rows, then n − 1 fixed-width position joins — rarest-term
    cardinality dominates, never the corpus. n < 2 raises (a 1-token
    "phrase" is a doc-frequency lookup — use :func:`boolean_search` or
    tf from :func:`_parse_tf`)."""
    tokens = tuple(tokens)
    if len(tokens) < 2:
        raise ValueError(
            f"a phrase needs >= 2 tokens, got {len(tokens)}: {tokens!r}"
        )
    e = _parse_positions(index, tuple(dict.fromkeys(tokens)))
    out = e.filter(F.col("token") == tokens[0]).select(
        "segment", "doc_id", "p"
    )
    for i, t in enumerate(tokens[1:], start=1):
        nxt = e.filter(F.col("token") == t).select(
            "segment", "doc_id", (F.col("p") - i).alias("p")
        )
        out = out.join(nxt, ["segment", "doc_id", "p"])
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


#: fixed certificate proximity pair + window — chosen so the distance
#: filter BITES at every correctness SF (sf0.01: 329 docs contain both
#: terms, only ~213 within d=6 — the oracle hash certifies the
#: distance arithmetic, not mere co-occurrence)
_PROX = ("part", "scan")
_PROX_D = 6


def proximity_search(
    index: DataFrame, t1: str, t2: str, d: int
) -> DataFrame:
    """(doc_id, n_pairs, min_dist): documents where ``t1`` and ``t2``
    co-occur within ≤ ``d`` token positions, answered by PARSING the
    segmented positional index — the unordered windowed generalization
    of :func:`phrase_search` (which is the ordered d = 1 special
    case). The shape behind co-occurrence features, collocation
    mining, and query expansion over an indexed corpus.

    ``n_pairs`` counts position pairs with ``0 < |p1 − p2| ≤ d``
    (ordered occurrences once each; for ``t1 == t2`` each unordered
    pair once, via ``p1 < p2``); ``min_dist`` is the smallest such
    distance. Query-time scale shape is phrase_search's: the token
    filter prunes the index to the two tokens' (token, segment) rows
    before any postings string is parsed, and the pair join carries
    fixed-width (segment, doc_id, p) rows on the keys the index is
    bucketed by. The pair join is per-doc tf₁×tf₂ — bounded by
    position counts inside ONE document, never corpus-cardinality."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    e = _parse_positions(index, (t1, t2))
    first = e.filter(F.col("token") == t1).select(
        "segment", "doc_id", F.col("p").alias("p1")
    )
    second = e.filter(F.col("token") == t2).select(
        "segment", "doc_id", F.col("p").alias("p2")
    )
    dist = F.abs(F.col("p1") - F.col("p2"))
    pair_ok = (
        (F.col("p1") < F.col("p2")) if t1 == t2 else dist > 0
    ) & (dist <= d)
    return (
        first.join(second, ["segment", "doc_id"])
        .filter(pair_ok)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(dist).cast("long").alias("min_dist"),
        )
    )


def proximity_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: windowed co-occurrence for the fixed certificate
    pair, answered from the segmented positional index built over the
    documents table; oracled directly against the raw text (the hash
    binds the text→index→parse→distance round trip, phrase-row
    precedent)."""
    index = inverted_postings_sharded(load_table(spark, "documents", sf_dir))
    return proximity_search(index, *_PROX, _PROX_D)


#: fixed certificate vocabulary prefix — 's' matches several corpus
#: tokens (scan, sort, small, spark, stream, slow, …) at every SF, so
#: the per-token regroup over multiple segments is exercised
_VOCAB_PREFIX = "s"


def vocab_prefix(index: DataFrame, prefix: str) -> DataFrame:
    """(token, df, total_tf) for every indexed token starting with
    ``prefix`` — the wildcard/prefix leg of the query surface (query
    expansion, vocabulary exploration, typo probing: "what does the
    corpus have under 'tokeniz…'?"). Postings strings are NEVER
    parsed: df and total_tf are the per-segment partial sums the index
    already carries, re-summed per token.

    Scale shape: over a stored index the prefix predicate reaches the
    parquet scan as ``StringStartsWith`` and the token-range-clustered
    layout prunes to ~the matching row groups (plan-pinned); the
    regroup is per (token) over its segment rows — bounded by segment
    count, not corpus size. An empty prefix would aggregate the whole
    vocabulary on purpose-defeating scale: raise instead."""
    if not prefix:
        raise ValueError(
            "vocab_prefix: empty prefix matches the whole vocabulary — "
            "scan the index directly if that is really intended"
        )
    return (
        index.filter(F.col("token").startswith(prefix))
        .groupBy("token")
        .agg(
            F.sum("df_seg").cast("long").alias("df"),
            F.sum("total_tf").cast("long").alias("total_tf"),
        )
    )


def vocab_prefix_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: prefix vocabulary stats over the documents
    table's segmented index; oracled directly against the raw text
    (the hash certifies the per-segment df/tf partial sums re-compose
    to the text's true per-token counts)."""
    index = inverted_postings_sharded(load_table(spark, "documents", sf_dir))
    return vocab_prefix(index, _VOCAB_PREFIX)


#: fixed certificate boolean query — two common must-terms AND a rare
#: NOT-term ('dup': df ≈ 5% of docs), chosen so at every correctness SF
#: the conjunction admits docs the exclusion then removes (sf0.01: 329
#: docs carry both must terms, 15 of them also carry 'dup' — the
#: oracle hash certifies the NOT actually bit, not mere AND)
_BOOL_MUST = ("customer", "filter")
_BOOL_NOT = ("dup",)


def boolean_search(index: DataFrame, must, must_not=()) -> DataFrame:
    """(doc_id, tf_sum): documents containing EVERY ``must`` token and
    NONE of the ``must_not`` tokens, answered from the segmented index
    — classic boolean retrieval (AND + NOT), the filter stage of a
    retrieval pipeline (candidate generation before ranking, corpus
    carving by required/banned vocabulary). ``tf_sum`` is the summed
    term frequency of the must tokens, parsed from position-list
    lengths, so the oracle hash certifies the index's tf payload, not
    just doc membership.

    Scale shape: the token filter prunes the index to the query
    tokens' (token, segment) rows before any postings string is parsed
    (pushed to the parquet scan over a stored index); the AND is one
    groupBy(doc_id) over fixed-width (w, doc_id, tf) rows — cardinality
    bounded by the posting lists, never the corpus — keeping docs
    whose distinct-token count equals |must|; the NOT is a left-anti
    join against the must_not tokens' doc set. No window, no sort, no
    corpus scan.

    Guards: an empty ``must`` would make the AND vacuous (the whole
    corpus "matches") and a term in both lists is a contradiction that
    silently returns nothing — both raise instead."""
    must = tuple(dict.fromkeys(must))
    must_not = tuple(dict.fromkeys(must_not))
    if not must:
        raise ValueError("boolean_search: must-terms may not be empty")
    contradiction = set(must) & set(must_not)
    if contradiction:
        raise ValueError(
            f"boolean_search: terms in both must and must_not would "
            f"match nothing: {sorted(contradiction)}"
        )
    tf = _parse_tf(index, must + must_not)
    matched = (
        tf.filter(F.col("w").isin(*must))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("w").alias("n_must"),
            F.sum("tf").cast("long").alias("tf_sum"),
        )
        .filter(F.col("n_must") == len(must))
        .select("doc_id", "tf_sum")
    )
    if must_not:
        banned = tf.filter(F.col("w").isin(*must_not)).select("doc_id")
        matched = matched.join(banned, "doc_id", "left_anti")
    return matched


def boolean_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: boolean AND + NOT retrieval for the fixed
    certificate query, answered from the segmented positional index
    built over the documents table; oracled directly against the raw
    text (the hash binds text → index → tf parse → set algebra)."""
    index = inverted_postings_sharded(load_table(spark, "documents", sf_dir))
    return boolean_search(index, _BOOL_MUST, _BOOL_NOT)


#: fixed certificate KWIC term + half-window — 'line' is the one
#: corpus term where, at every correctness SF, multi-occurrence docs
#: (first-occurrence selection bites), first occurrences within the
#: first 4 tokens (left clamp bites) and within the last 4 (right
#: clamp bites) ALL exist — the oracle hash certifies the windowing
#: arithmetic at both edges, not just the happy middle
_KWIC_TERM = "line"
_KWIC_W = 4


def kwic_snippets(
    docs: DataFrame, index: DataFrame, term: str, width: int
) -> DataFrame:
    """(doc_id, p_first, snippet): a keyword-in-context window of
    ``width`` tokens either side of the FIRST occurrence of ``term``
    in every matching document — the result-rendering leg of retrieval
    (search-hit highlighting, context extraction for training-data
    inspection). The index supplies the hit position; only then is the
    document text touched.

    The first occurrence costs no position unroll: postings entries
    keep positions ascending and a doc's entry for a token lives in
    exactly ONE segment (segment = doc_id div seg_width), so element 0
    of the entry's position list IS the document-global first
    occurrence. The snippet is a clamped array slice of the split
    text: start = max(p−width, 1), end = min(p+width, dl) — 1-based,
    inclusive, matching the index's position convention.

    Scale shape: the index side is the pruned one-token read; the join
    back to text is doc_id-equi on exactly the matching docs (Spark
    prunes the text scan to (doc_id, text) — the only full-width rows
    that move are the hits'). No window function, no sort."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    return _kwic_render(docs, _kwic_first(index, term), width)


def _kwic_first(index: DataFrame, term: str) -> DataFrame:
    """(doc_id, p_first): the term's document-global first occurrence,
    read as element 0 of each postings entry's position list — no
    position unroll (see :func:`kwic_snippets`)."""
    return (
        index.filter(F.col("token") == term)
        .select(F.explode(F.split("postings", ";")).alias("entry"))
        .select(
            F.split("entry", ":")[0].cast("long").alias("doc_id"),
            F.split(F.split("entry", ":")[1], ",")[0]
            .cast("long")
            .alias("p_first"),
        )
    )


def _kwic_render(docs: DataFrame, first: DataFrame, width: int) -> DataFrame:
    """Join hit positions back to text and render the clamped window
    (the rendering half of :func:`kwic_snippets`)."""
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    start = F.greatest(F.col("p_first") - width, F.lit(1))
    end = F.least(F.col("p_first") + width, F.size("ws").cast("long"))
    return first.join(ws, "doc_id").select(
        "doc_id",
        "p_first",
        F.array_join(
            F.slice("ws", start, end - start + 1), " "
        ).alias("snippet"),
    )


def kwic_snippets_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: keyword-in-context snippets for the fixed
    certificate term over the documents table, hit positions from the
    segmented positional index; oracled directly against the raw text
    (the hash binds text → index → first-position parse → clamped
    slice → rendering)."""
    docs = load_table(spark, "documents", sf_dir)
    return kwic_snippets(
        docs, inverted_postings_sharded(docs), _KWIC_TERM, _KWIC_W
    )


#: fixed certificate query BATCH for the multi-query form — overlapping
#: vocabularies (so one doc scores for several queries), a single-term
#: query, and >k matching docs per query at every correctness SF
_QUERY_BATCH = {
    1: ("customer", "filter"),
    2: ("window", "join"),
    3: ("scan",),
}
_TOPK = 10
_SALT = 16


def _qterm_pairs(queries: dict[int, tuple]) -> list[tuple[int, str]]:
    """The (query_id, term) rows BOTH the Spark side and the DuckDB
    oracle score against. dict.fromkeys dedups a repeated term within
    one query — a duplicate (query_id, w) row would double-count that
    term's score through the join — and because the oracle's VALUES
    list is built from the same pairs (r13 ADVICE 3), the two sides
    share the dedup semantics by construction, not by the accident of
    a duplicate-free _QUERY_BATCH."""
    return [(qid, t) for qid, ts in queries.items() for t in dict.fromkeys(ts)]


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, tuple] = _QUERY_BATCH,
    k: int = _TOPK,
    salt: int = _SALT,
) -> DataFrame:
    """(query_id, rank, doc_id, n_terms, score): top-k docs per query
    for a BATCH of queries — the retrieval-augmented-training-data
    mining shape (score a query set against the corpus, keep each
    query's best k). Scoring shares :func:`_term_scores` (same integer
    rescaling, same overflow guard, same round→decimal discipline);
    the (query_id, term) map is bounded by total query length and
    broadcast.

    Ranking is a SALTED TWO-PHASE top-k, not one window per query: a
    single `row_number() over (partition by query_id)` sorts every
    scored doc of a query on ONE task — with few queries and a 100 TB
    corpus that is a straggler by construction. Phase 1 ranks within
    (query_id, pmod(hash(doc_id), salt)) — salt× parallel, keeps ≤ k
    per salt bucket (a global top-k member is top-k in any subset it
    belongs to, so phase 1 can never evict a true winner); phase 2
    ranks the ≤ salt·k survivors per query — a bounded frame whatever
    the corpus size. Ties break on doc_id ascending over the EXACT
    decimal score, so rank is deterministic and the DuckDB oracle
    (one plain window — the oracle replays semantics, not the physical
    strategy) hashes identically."""
    if k < 1 or salt < 1:
        # salt 0 makes pmod NULL: every doc lands in one null bucket
        # and phase 1 silently degenerates to the per-query global sort
        # this form exists to avoid
        raise ValueError(f"k and salt must be >= 1, got k={k} salt={salt}")
    spark = docs.sparkSession
    qterms = local_df(
        spark, _qterm_pairs(queries), "query_id int, w string"
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    scored = (
        _term_scores(docs, all_terms)
        .join(F.broadcast(qterms), "w")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("s").alias("sdec"),
        )
    )
    return _rank_topk(scored, k, salt)


def _rank_topk(scored: DataFrame, k: int, salt: int) -> DataFrame:
    """The salted two-phase rank shared by the from-text
    (:func:`bm25_topk`) and from-stored-index (:func:`bm25_topk_stored`)
    forms — one implementation so the two routes cannot drift.
    ``scored`` is (query_id, doc_id, n_terms, sdec)."""
    from pyspark.sql import Window

    w1 = (
        Window.partitionBy(
            "query_id", F.pmod(F.hash("doc_id"), F.lit(salt))
        )
        .orderBy(F.col("sdec").desc(), F.col("doc_id"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sdec").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "n_terms",
            F.col("sdec").cast("double").alias("score"),
        )
    )


def bm25_topk_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: batched top-10 BM25 for the fixed 3-query
    certificate batch over the documents table."""
    return bm25_topk(load_table(spark, "documents", sf_dir))


def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: exact-phrase match for the fixed certificate
    phrase, answered from the segmented positional index built over
    the documents table; oracled directly against the raw text."""
    index = inverted_postings_sharded(load_table(spark, "documents", sf_dir))
    return phrase_search(index, *_PHRASE)


#: fixed 3-token certificate phrase WITH A REPEATED TOKEN — 'group'
#: joins the same parsed frame at offsets 1 and 2, so the driver hash
#: certifies that the position offsets, not token identity, carry the
#: adjacency (a DISTINCT-token implementation would break here); the
#: phrase matches 4/4/8 docs at the three correctness SFs while its
#: tokens co-occur in most docs, so the double adjacency bites hard
_PHRASE3 = ("data", "group", "group")


def phrase_multi_search_postings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry: n-token exact-phrase match (n = 3 with a
    repeated token) answered from the segmented positional index;
    oracled directly against the raw text — the general-length twin of
    ``phrase_search_postings``."""
    index = inverted_postings_sharded(load_table(spark, "documents", sf_dir))
    return phrase_search_n(index, _PHRASE3)


# ---------------------------------------------------------------------------
# Stored-index production route (r13 VERDICT items 5/6): the registry
# certificates above build the index INLINE so the driver can oracle
# them self-contained; production builds the segmented index ONCE,
# writes it token-clustered to parquet, and answers phrase / top-k
# queries from storage — each query reads ~the query tokens' rows
# (PushedFilters In(token, …) against token-sorted row groups), never
# the corpus and never the full index.

#: bump when the on-disk index layout changes incompatibly
_INDEX_FORMAT_VERSION = 1

_META_SCHEMA = (
    "seg_width long, n_docs long, t_tokens long, max_dl long, "
    "format_version int, postings_rows long"
)


def _write_index_files(
    spark: SparkSession,
    postings: DataFrame,
    doclens: DataFrame,
    dest: str,
    seg_width: int,
) -> dict:
    """The ONE place the on-disk index layout is written — build,
    append and vacuum all stage through here (review-caught: three
    inline copies of this block meant the append == rebuild and
    vacuum == rebuild byte-identity pins held only while the copies
    stayed in lockstep). Postings are range-clustered and sorted by
    (token, segment) so parquet row-group statistics prune query token
    filters; the meta JSON is written LAST, so a crashed write leaves
    no ``_index_meta`` and readers report "no retrieval index", never
    a half-index."""
    cols = ["token", "segment", "df_seg", "total_tf", "postings"]
    (
        postings.select(*cols)
        .repartitionByRange(F.col("token"), F.col("segment"))
        .sortWithinPartitions("token", "segment")
        .write.mode("overwrite")
        .parquet(f"{dest}/postings")
    )
    doclens.select("doc_id", "dl").write.mode("overwrite").parquet(
        f"{dest}/doclens"
    )
    stats = (
        spark.read.parquet(f"{dest}/doclens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("t_tokens"),
            F.max("dl").alias("max_dl"),
        )
        .head()
    )
    meta = {
        "seg_width": int(seg_width),
        "n_docs": int(stats["n_docs"]),
        "t_tokens": int(stats["t_tokens"] or 0),
        "max_dl": int(stats["max_dl"] or 0),
        "format_version": _INDEX_FORMAT_VERSION,
        # footer-metadata count (count pushdown), not a data scan
        "postings_rows": spark.read.parquet(f"{dest}/postings").count(),
    }
    local_df(
        spark, [tuple(meta.values())], _META_SCHEMA
    ).coalesce(1).write.mode("overwrite").json(f"{dest}/_index_meta")
    return meta


def write_retrieval_index(
    docs: DataFrame, path: str, seg_width: int = _SEG_WIDTH
) -> dict:
    """Build the segmented positional index over ``docs`` and persist
    it for query-time reads. Layout:

    - ``<path>/postings`` — :func:`inverted_postings_sharded` rows,
      RANGE-CLUSTERED AND SORTED BY TOKEN before the write so parquet
      row-group min/max statistics prune a query's token filter down
      to ~the matching row groups (the pruned-scan plan pin in
      tests/test_retrieval.py is about exactly this read);
    - ``<path>/doclens`` — (doc_id, dl): the per-doc token counts BM25
      normalizes by (identical tokenization to the scorer: every
      space-split token counts, so text↔index parity holds on empty
      strings too);
    - ``<path>/_index_meta`` — one JSON row: seg_width, n_docs,
      t_tokens, max_dl, format_version. The corpus totals are frozen
      AT BUILD: a stored index answers queries with the statistics of
      the corpus it indexed, and the int64 overflow guard re-checks
      them at query time from the meta (cheap Python ints) exactly as
      :func:`_term_scores` checks them from the totals frame.

    Returns the meta dict (with ``postings_rows`` added) so callers
    can report the build without re-scanning. The meta write is LAST —
    a build that crashes mid-way leaves no ``_index_meta``, which
    readers report as "no retrieval index" (clean re-run), never a
    half-index that answers queries. That guarantee only holds for a
    FRESH directory, so building over an existing index RAISES: the
    old meta would survive a crash that already tore the postings
    down, and readers would answer from garbage believing it real —
    grow with :func:`append_retrieval_index`, or build to a new
    directory and swap."""
    spark = docs.sparkSession
    try:
        read_retrieval_index(spark, path)
    except (FileNotFoundError, ValueError):
        pass
    else:
        raise ValueError(
            f"retrieval index already exists at {path}: rebuilding in "
            f"place would leave the OLD meta over half-written postings "
            f"on a crash; append_retrieval_index grows it, or build to "
            f"a fresh directory and swap"
        )
    idx = inverted_postings_sharded(docs, seg_width)
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    return _write_index_files(spark, idx, dl, path, seg_width)


def _require_local(path: str, op: str) -> str:
    """Normalize Hadoop's local ``file:`` spellings to the plain path
    the os.rename-based maintenance ops operate on; refuse remote
    schemes and ``file://host/…`` (not local — canonical_scan_path's
    authority rule) loudly. Shared by append / delete / vacuum — the
    store-maintenance ops whose crash discipline is rename-based."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        if rest.startswith("//") and not rest.startswith("///"):
            raise ValueError(
                f"{op} requires a local index (rename-based promotion): "
                f"{path!r}"
            )
        path = "/" + rest.lstrip("/")
    if "://" in path:
        raise ValueError(
            f"{op} requires a local index (rename-based promotion): "
            f"{path!r}"
        )
    return path


def _index_data_root(path: str) -> str:
    """READ-ONLY resolution of where the index currently lives:
    normally ``path``; after an :func:`append_retrieval_index`
    promotion crashed between its two renames the only complete copy
    sits at ``<path>__old`` — read THAT, without repairing anything
    (repair is a write, done by the next append's recovery; reads must
    not race a live promotion — the `llm/substring_dedup`
    ``_store_data_dir`` discipline). Local-filesystem probes only; a
    remote path falls through untouched.

    Hadoop's local ``file:`` spellings normalize to the plain path
    FIRST (review-caught): the query routes resolve tombstones and the
    ``__old`` remnant through this function, and an unnormalized
    ``file:///data/ridx`` would probe the literal string, find no
    ``_tombstones``, and silently answer with deleted docs restored —
    the two spellings of one index must agree about deletions."""
    import os

    if path.startswith("file:"):
        rest = path[len("file:"):]
        if rest.startswith("//") and not rest.startswith("///"):
            # non-empty authority: not this machine's filesystem —
            # no local probe can be meaningful
            return path
        path = "/" + rest.lstrip("/")
    if "://" in path:
        return path
    old = path.rstrip("/") + "__old"
    if not os.path.isdir(os.path.join(path, "_index_meta")) and os.path.isdir(
        os.path.join(old, "_index_meta")
    ):
        return old
    return path


def read_retrieval_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """(postings, doclens, meta) for a store written by
    :func:`write_retrieval_index`. Raises ``FileNotFoundError`` on a
    missing index and ``ValueError`` on a format-version mismatch —
    silently querying a half-written or foreign directory would return
    empty results the operator believes are real misses."""
    from pyspark.errors import AnalysisException

    path = _index_data_root(path)
    try:
        row = spark.read.json(f"{path}/_index_meta").head()
    except AnalysisException:
        row = None
    if row is None:
        raise FileNotFoundError(f"no retrieval index at {path}")
    meta = row.asDict()
    v = meta.get("format_version")
    if v != _INDEX_FORMAT_VERSION:
        raise ValueError(
            f"retrieval index format_version {v} != supported "
            f"{_INDEX_FORMAT_VERSION}"
        )
    return (
        spark.read.parquet(f"{path}/postings"),
        spark.read.parquet(f"{path}/doclens"),
        meta,
    )


def append_retrieval_index(
    new_docs: DataFrame,
    path: str,
    batch_marker: str | None = None,
    bootstrap_seg_width: int | None = None,
) -> dict:
    """Merge a NEW batch into the stored index — the incremental form
    (the fingerprint store's batch discipline, applied to retrieval):
    the result is BYTE-IDENTICAL to a full rebuild over old ∪ new
    (pinned by test), so queries cannot tell how the index was grown.

    Merge shape: rows whose (token, segment) key exists in only one
    side pass through UNPARSED; only intersecting keys merge — df_seg
    and total_tf ADD (doc sets are disjoint, see the guard), and the
    two postings strings merge-sort their entries by the ``doc:``
    prefix (whole-column array ops, no explode — per-row state stays
    bounded by the segment population, the same bound as the build).
    The new batch's postings are a fresh
    :func:`inverted_postings_sharded` at the STORE's recorded
    seg_width, so segmentation is consistent by construction.

    Guards: a new doc_id already present in the index raises
    (interleaving duplicate entries would corrupt postings silently);
    seg_width/format come from the store meta, never from the caller.

    Crash safety: the merged index is staged COMPLETE (postings +
    doclens + meta) at ``<path>__staging`` and promoted with the
    staged swap in `io/sinks._swap_in`: a crash at
    any step leaves a complete old or complete new index on disk —
    readers resolve a between-renames remnant via
    :func:`_index_data_root`; the next append repairs it. Re-running a
    promoted append raises on the duplicate doc_ids instead of
    double-appending. SINGLE-WRITER by contract, local-filesystem
    renames (the store-maintenance scope): run appends in the gap
    between batches.

    EXACTLY-ONCE batches (``batch_marker``): the marker lands as
    ``<path>/_applied/<marker>`` INSIDE the staged index, so it
    commits in the SAME rename as the data (the `io/txn` streaming
    sink's one-publication rule) — a replay of an already-promoted
    batch short-circuits to a no-op at the marker check, a replay of
    a batch whose promotion never happened re-runs cleanly (its
    staging copy is discarded), and no crash point can commit the
    marker without the data or vice versa. ``bootstrap_seg_width``
    lets the FIRST batch create the index through the same
    staged-swap/marker machinery (a plain `write_retrieval_index` +
    separate marker would leave a crash window between them —
    `streaming` consumers: see `llm/retrieval_stream.py`)."""
    import os
    import re as _re

    from ..io.sinks import _recover_swap, _swap_in

    spark = new_docs.sparkSession
    if batch_marker is not None and not _re.fullmatch(
        r"[A-Za-z0-9._-]+", batch_marker
    ):
        raise ValueError(
            f"batch_marker must be a safe filename ([A-Za-z0-9._-]+): "
            f"{batch_marker!r}"
        )
    path = _require_local(path, "append_retrieval_index")
    _recover_swap(path.rstrip("/"))
    live = _index_data_root(path.rstrip("/"))
    if batch_marker is not None and os.path.isfile(
        os.path.join(live, "_applied", batch_marker)
    ):
        # replayed batch (checkpoint recovery): the marker committed in
        # the same rename as its data, so this is exactly the no-op the
        # exactly-once contract requires
        _, _, meta = read_retrieval_index(spark, path)
        meta["replayed_noop"] = True
        return meta
    try:
        postings, doclens, meta = read_retrieval_index(spark, path)
    except FileNotFoundError:
        if bootstrap_seg_width is None:
            raise
        # first batch: CREATE the index through the same staged-swap +
        # marker machinery (atomic bootstrap)
        staging = path.rstrip("/") + "__staging"
        if os.path.isdir(staging):
            import shutil

            shutil.rmtree(staging)
        out = write_retrieval_index(
            new_docs.select("doc_id", "text"), staging, bootstrap_seg_width
        )
        if batch_marker is not None:
            os.makedirs(os.path.join(staging, "_applied"), exist_ok=True)
            with open(
                os.path.join(staging, "_applied", batch_marker), "w"
            ) as fh:
                fh.write(batch_marker)
        _swap_in(staging, path.rstrip("/"))
        return out
    seg_width = int(meta["seg_width"])
    new_docs = new_docs.select("doc_id", "text")
    counts = new_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_ids"),
    ).head()
    if counts["n"] != counts["n_ids"]:
        raise ValueError(
            f"append_retrieval_index: the new batch repeats doc_ids "
            f"({counts['n']} rows, {counts['n_ids']} distinct) — merged "
            f"postings would interleave one doc's entries"
        )
    n_dup = new_docs.join(doclens, "doc_id", "left_semi").count()
    if n_dup:
        raise ValueError(
            f"append_retrieval_index: {n_dup} doc_ids of the new batch "
            f"are already indexed at {path} — appending them would "
            f"interleave duplicate postings entries; dedup the batch "
            f"(or rebuild) instead"
        )
    # r15 (guide §5 multi-consumer, VERDICT r14 item 3 "redundant
    # per-epoch actions"): new_idx feeds the intersection, the
    # untouched-new anti-join AND the merge leg — three consumers, each
    # re-running the batch's whole explode+aggregate build per epoch
    # (join-specific inferred filters defeat exchange reuse). The batch
    # index is micro-batch-sized by the sink's contract, so one eager
    # materialization per epoch is the documented budget; `shared`
    # (keys only) is likewise read three times. Values unchanged —
    # append == rebuild stays byte-identical (pinned).
    new_idx = inverted_postings_sharded(new_docs, seg_width).localCheckpoint(
        eager=True
    )
    keys = ["token", "segment"]
    shared = (
        postings.select(*keys)
        .join(new_idx.select(*keys), keys)
        .localCheckpoint(eager=True)
    )
    untouched_old = postings.join(shared, keys, "left_anti")
    untouched_new = new_idx.join(shared, keys, "left_anti")

    def _entry_structs(col):
        # "doc:p,p;doc:p" -> array<struct<doc_id, entry>> (prefix key
        # only; positions stay unparsed — the merge never rewrites them)
        return F.transform(
            F.split(col, ";"),
            lambda e: F.struct(
                F.split(e, ":")[0].cast("long").alias("doc_id"),
                e.alias("entry"),
            ),
        )

    o = postings.join(shared, keys, "left_semi").alias("o")
    n = new_idx.join(shared, keys, "left_semi").alias("n")
    merged = o.join(n, keys).select(
        "token",
        "segment",
        (F.col("o.df_seg") + F.col("n.df_seg")).alias("df_seg"),
        (F.col("o.total_tf") + F.col("n.total_tf")).alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.concat(
                        _entry_structs(F.col("o.postings")),
                        _entry_structs(F.col("n.postings")),
                    )
                ),
                lambda s: s["entry"],
            ),
            ";",
        ).alias("postings"),
    )
    cols = ["token", "segment", "df_seg", "total_tf", "postings"]
    all_rows = (
        untouched_old.select(*cols)
        .unionByName(untouched_new.select(*cols))
        .unionByName(merged.select(*cols))
    )
    staging = path.rstrip("/") + "__staging"
    if os.path.isdir(staging):
        import shutil

        shutil.rmtree(staging)  # stale crash remnant; staging is ours
    new_dl = new_docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    out = _write_index_files(
        spark, all_rows, doclens.unionByName(new_dl), staging, seg_width
    )
    # applied-batch ledger rides the SAME promotion rename as the data:
    # carry the existing markers into the staged copy, then add this
    # batch's — a crash before the swap discards both with the staging
    # dir, a crash after has committed both with the data
    applied_src = os.path.join(live, "_applied")
    applied_dst = os.path.join(staging, "_applied")
    os.makedirs(applied_dst, exist_ok=True)
    if os.path.isdir(applied_src):
        for m in os.listdir(applied_src):
            with open(os.path.join(applied_dst, m), "w") as fh:
                fh.write(m)
    if batch_marker is not None:
        with open(os.path.join(applied_dst, batch_marker), "w") as fh:
            fh.write(batch_marker)
    # pending tombstones survive an append: deletion is independent of
    # growth, and dropping the dir here would silently resurrect docs
    tombs_src = _tombstones_dir(live)
    if os.path.isdir(tombs_src):
        import shutil

        shutil.copytree(tombs_src, _tombstones_dir(staging))
    _swap_in(staging, path.rstrip("/"))
    return out


def _tombstones_dir(live: str) -> str:
    import os

    return os.path.join(live, "_tombstones")


def _read_tombstones(spark: SparkSession, live: str) -> DataFrame | None:
    """The deleted-doc set of a stored index as a (doc_id) frame, or
    ``None`` when no delete has ever landed — callers skip the masking
    join entirely in that case, so an undeleted index's query plans are
    byte-identical to the pre-delete era (the plan pins stay valid)."""
    import os

    d = _tombstones_dir(live)
    if not os.path.isdir(d):
        return None
    # only COMMITTED batch dirs: a delete that crashed mid-write leaves
    # a ``__tmp`` remnant whose parquet may be complete — reading it
    # would surface a batch whose delete call never returned
    batches = sorted(
        e.path
        for e in os.scandir(d)
        if e.is_dir() and not e.name.endswith("__tmp")
    )
    if not batches:
        return None
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(*batches)
        .select(F.col("doc_id").cast("long"))
        .distinct()
    )


def _mask_deleted(result: DataFrame, spark: SparkSession, live: str) -> DataFrame:
    """Drop tombstoned doc_ids from a per-doc query result. Query-time
    deletion semantics are Lucene's: a deleted doc stops MATCHING
    immediately, but corpus statistics (N, T, df) stay frozen at build
    until :func:`vacuum_retrieval_index` rewrites the postings — scores
    of surviving docs do not move when a neighbor is deleted, they move
    when the index is vacuumed. The mask is one anti-join on the
    (operator-batch-sized) tombstone set, after the query's own work —
    candidate generation never pays for deletion."""
    tombs = _read_tombstones(spark, live)
    if tombs is None:
        return result
    return result.join(tombs, "doc_id", "left_anti")


def delete_from_retrieval_index(
    spark: SparkSession, path: str, doc_ids, marker: str | None = None
) -> dict:
    """Tombstone documents out of a stored index — the retention /
    right-to-be-forgotten half of the index lifecycle (append grows it,
    delete shrinks it, :func:`vacuum_retrieval_index` reclaims it).
    ``doc_ids`` is a (doc_id) DataFrame or an iterable of ints.

    The tombstone batch lands as parquet under
    ``<index>/_tombstones/<marker>/`` via a write-then-rename (the
    single-rename atomicity of the ``_applied`` markers): a crash
    mid-write leaves only a ``__tmp`` remnant the next delete clears —
    no partial tombstone set is ever readable. Stored-index queries
    anti-join the set at result granularity (:func:`_mask_deleted`);
    a never-deleted index skips the join entirely.

    Guards: deleting a doc_id the index never held raises (a typo'd id
    silently "succeeding" is how an operator believes a record is gone
    when it is not); re-deleting an already-tombstoned id is an
    idempotent no-op (retried delete batches converge). A tombstoned
    id still refuses re-append until vacuum — its postings are masked,
    not gone, and appending would interleave duplicates.

    SINGLE-WRITER by contract, local filesystem (the rename-based
    maintenance scope, append's rule)."""
    import os
    import re as _re
    import shutil

    from ..io.sinks import _recover_swap

    path = _require_local(path, "delete_from_retrieval_index")
    if marker is not None and not _re.fullmatch(r"[A-Za-z0-9._-]+", marker):
        raise ValueError(
            f"marker must be a safe filename ([A-Za-z0-9._-]+): {marker!r}"
        )
    _recover_swap(path.rstrip("/"))
    live = _index_data_root(path.rstrip("/"))
    _, doclens, _ = read_retrieval_index(spark, path)
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = local_df(
            spark, [(int(i),) for i in doc_ids], "doc_id long"
        ).distinct()
    n_req = ids.count()
    if n_req == 0:
        raise ValueError("delete_from_retrieval_index: empty doc_id set")
    n_unknown = ids.join(doclens, "doc_id", "left_anti").count()
    if n_unknown:
        raise ValueError(
            f"delete_from_retrieval_index: {n_unknown} of {n_req} doc_ids "
            f"were never indexed at {path} — deleting them would report "
            f"success for records the index does not hold"
        )
    existing = _read_tombstones(spark, live)
    if existing is not None:
        ids = ids.join(existing, "doc_id", "left_anti")
    d = _tombstones_dir(live)
    os.makedirs(d, exist_ok=True)
    # clear crash remnants of a previous delete's parquet write
    for e in os.scandir(d):
        if e.name.endswith("__tmp"):
            shutil.rmtree(e.path, ignore_errors=True)
    n_new = ids.count()
    n_before = 0 if existing is None else existing.count()
    if n_new == 0:
        return {
            "deleted": 0,
            "n_tombstones": n_before,
            "replayed_noop": True,
        }
    if marker is None:
        n = sum(1 for e in os.scandir(d) if e.is_dir())
        while os.path.isdir(os.path.join(d, f"del-{n:06d}")):
            n += 1
        marker = f"del-{n:06d}"
    dst = os.path.join(d, marker)
    if os.path.isdir(dst):
        # the marker's batch already landed, yet n_new > 0 ids of THIS
        # request are still untombstoned — a true replay of the same
        # batch would have short-circuited at the n_new == 0 branch
        # above, so this is marker REUSE with a different doc set
        # (review-caught): a silent no-op would report success for
        # records that still match every query
        raise ValueError(
            f"delete_from_retrieval_index: marker {marker!r} was already "
            f"used by a different delete batch ({n_new} of the requested "
            f"doc_ids are not tombstoned) — replays of one batch are "
            f"no-ops, but a marker cannot name two different batches"
        )
    tmp = dst + "__tmp"
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, dst)
    return {"deleted": n_new, "n_tombstones": n_before + n_new}


def vacuum_retrieval_index(spark: SparkSession, path: str) -> dict:
    """Physically reclaim tombstoned documents: rewrite postings with
    the deleted docs' entries removed (df_seg / total_tf recomputed),
    drop their doclens, refresh the corpus statistics in the meta, and
    clear the tombstone set — the content of the vacuumed index equals
    a fresh build over exactly the surviving documents (pinned by
    test), so post-vacuum scores are what a rebuild would produce.

    Scale shape: entries explode to fixed-width (token, segment,
    doc_id, tf, entry) rows, anti-join the tombstone set, and regroup
    on (token, segment) — the same bounded aggregation key as the
    build, so no task ever holds one token's corpus-wide postings.
    Promotion is the append's staged swap: a crash leaves a complete
    old or complete new index, never a half-vacuumed one (tombstones
    clear in the SAME rename that publishes the rewritten postings —
    no crash point can drop the mask before the data, or vice versa)."""
    import os

    from ..io.sinks import _recover_swap, _swap_in

    path = _require_local(path, "vacuum_retrieval_index")
    _recover_swap(path.rstrip("/"))
    live = _index_data_root(path.rstrip("/"))
    postings, doclens, meta = read_retrieval_index(spark, path)
    tombs = _read_tombstones(spark, live)
    if tombs is None:
        return {**meta, "removed_docs": 0, "replayed_noop": True}
    n_t = tombs.count()
    e = postings.select(
        "token",
        "segment",
        F.explode(F.split("postings", ";")).alias("entry"),
    ).select(
        "token",
        "segment",
        F.split("entry", ":")[0].cast("long").alias("doc_id"),
        F.size(F.split(F.split("entry", ":")[1], ","))
        .cast("long")
        .alias("tf"),
        "entry",
    )
    survivors = e.join(tombs, "doc_id", "left_anti")
    new_postings = survivors.groupBy("token", "segment").agg(
        F.count(F.lit(1)).alias("df_seg"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                lambda s: s["entry"],
            ),
            ";",
        ).alias("postings"),
    )
    staging = path.rstrip("/") + "__staging"
    if os.path.isdir(staging):
        import shutil

        shutil.rmtree(staging)
    out = _write_index_files(
        spark,
        new_postings,
        doclens.join(tombs, "doc_id", "left_anti"),
        staging,
        int(meta["seg_width"]),
    )
    # the applied-batch ledger survives a vacuum (exactly-once replay
    # detection is about WHICH batches landed, not which docs remain);
    # the tombstone set does NOT — it is consumed by this rewrite
    applied_src = os.path.join(live, "_applied")
    if os.path.isdir(applied_src):
        applied_dst = os.path.join(staging, "_applied")
        os.makedirs(applied_dst, exist_ok=True)
        for m in os.listdir(applied_src):
            with open(os.path.join(applied_dst, m), "w") as fh:
                fh.write(m)
    _swap_in(staging, path.rstrip("/"))
    return {**out, "removed_docs": n_t}


def retrieval_index_stats(spark: SparkSession, path: str) -> dict:
    """Operator-facing stats for a stored index — the observability
    half of its lifecycle (the `fingerprint_store_stats` shape): the
    frozen build meta, live distinct-token / segment counts, the
    per-row postings payload distribution (max + p50/p99 — is one row
    carrying an outsized string?), the SEGMENT-SKEW signal (max vs
    mean (doc, token)-pairs per segment: the number that tells an
    operator whether their ``seg_width`` choice balanced the doc_id
    value range — ~2 is the documented zero-straddling artifact for
    hashed ids, ≫2 means the ids are NOT uniform over the range and
    the width needs rethinking), on-disk bytes, pending tombstones,
    and the applied-batch epoch count when the index is
    stream-maintained. Two aggregation passes over the postings
    (row-level, then per-segment). Read-only: resolves a crashed
    promotion's ``__old`` remnant via the same read-around as
    :func:`read_retrieval_index`, never repairs it."""
    import os

    from .substring_dedup import _dir_bytes

    postings, doclens, meta = read_retrieval_index(spark, path)
    live = _index_data_root(path.rstrip("/"))
    row = postings.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("token").alias("n_tokens"),
        F.countDistinct("segment").alias("n_segments"),
        F.max(F.length("postings")).alias("max_postings_chars"),
        F.percentile_approx(
            F.length("postings"), [0.5, 0.99]
        ).alias("postings_chars_p50_p99"),
    ).head()
    seg = (
        postings.groupBy("segment")
        .agg(F.sum("df_seg").alias("pairs"))
        .agg(
            F.max("pairs").alias("max_pairs"),
            F.avg("pairs").alias("mean_pairs"),
        )
        .head()
    )
    applied = os.path.join(live, "_applied")
    tombs = _read_tombstones(spark, live)
    n_tombstones = 0 if tombs is None else tombs.count()
    return {
        **{k: meta.get(k) for k in (
            "seg_width", "n_docs", "t_tokens", "max_dl",
            "format_version", "postings_rows",
        )},
        "live_rows": row["rows"],
        "n_tokens": row["n_tokens"],
        "n_segments": row["n_segments"],
        "max_postings_chars": row["max_postings_chars"],
        "postings_chars_p50": row["postings_chars_p50_p99"][0],
        "postings_chars_p99": row["postings_chars_p50_p99"][1],
        # (doc, token)-pairs in the fullest segment vs the mean — the
        # seg_width balance check (docstring)
        "max_segment_pairs": seg["max_pairs"],
        "segment_skew": (
            round(seg["max_pairs"] / seg["mean_pairs"], 2)
            if seg["mean_pairs"] else None
        ),
        "postings_bytes": _dir_bytes(os.path.join(live, "postings")),
        "doclens_bytes": _dir_bytes(os.path.join(live, "doclens")),
        "n_applied_batches": (
            len(os.listdir(applied)) if os.path.isdir(applied) else 0
        ),
        # deletion observability: pending tombstones, and the doc count
        # queries actually see (meta's n_docs is the frozen build stat)
        "n_tombstones": n_tombstones,
        "n_live_docs": int(meta.get("n_docs") or 0) - n_tombstones,
    }


def phrase_search_stored(
    spark: SparkSession, path: str, *terms: str
) -> DataFrame:
    """Exact-phrase match (any length ≥ 2, :func:`phrase_search_n`)
    answered from the STORED index: the token filter reaches the
    parquet scan (PushedFilters), so the read is ~the query tokens'
    (token, segment) rows whatever the index size — the production
    form of the :func:`phrase_search_postings` certificate (which
    builds the index inline in every join branch). Tombstoned docs are
    masked out (:func:`_mask_deleted`); an undeleted index skips the
    join."""
    postings, _, _ = read_retrieval_index(spark, path)
    live = _index_data_root(path.rstrip("/"))
    return _mask_deleted(phrase_search_n(postings, terms), spark, live)


def proximity_search_stored(
    spark: SparkSession, path: str, t1: str, t2: str, d: int
) -> DataFrame:
    """Windowed co-occurrence answered from the STORED index — the
    production form of :func:`proximity_search_postings` (same pruned
    two-token read as the phrase route); tombstone-masked."""
    postings, _, _ = read_retrieval_index(spark, path)
    live = _index_data_root(path.rstrip("/"))
    return _mask_deleted(proximity_search(postings, t1, t2, d), spark, live)


def vocab_prefix_stored(
    spark: SparkSession, path: str, prefix: str
) -> DataFrame:
    """Prefix vocabulary stats from the STORED index — the prefix
    predicate reaches the parquet scan as ``StringStartsWith`` over
    the token-sorted layout (plan-pinned), so the read is ~the
    matching tokens' rows. df/total_tf are the frozen index counts:
    tombstoned docs still count until vacuum (the corpus-stats rule —
    deletion masks documents, vacuum rewrites statistics)."""
    postings, _, _ = read_retrieval_index(spark, path)
    return vocab_prefix(postings, prefix)


def boolean_search_stored(
    spark: SparkSession, path: str, must, must_not=()
) -> DataFrame:
    """Boolean AND + NOT retrieval answered from the STORED index —
    the pruned read is the query tokens' rows only; tombstone-masked
    (a deleted doc stops matching immediately, vacuum reclaims it)."""
    postings, _, _ = read_retrieval_index(spark, path)
    live = _index_data_root(path.rstrip("/"))
    return _mask_deleted(
        boolean_search(postings, must, must_not), spark, live
    )


def kwic_snippets_stored(
    spark: SparkSession, path: str, docs: DataFrame, term: str, width: int
) -> DataFrame:
    """Keyword-in-context snippets with hit positions from the STORED
    index (one pruned token read) and text from the caller's corpus
    frame — the index stores positions, never text, so rendering joins
    back to the corpus; tombstone-masked BEFORE the text join (a
    deleted doc's text is never read, let alone rendered)."""
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    postings, _, _ = read_retrieval_index(spark, path)
    live = _index_data_root(path.rstrip("/"))
    first = _mask_deleted(_kwic_first(postings, term), spark, live)
    return _kwic_render(docs, first, width)


def bm25_topk_stored(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple] = _QUERY_BATCH,
    k: int = _TOPK,
    salt: int = _SALT,
    _i64: int = _I64_MAX,
) -> DataFrame:
    """Batched top-k BM25 answered FROM the stored index — identical
    output to :func:`bm25_topk` over the indexed corpus (test-pinned),
    without re-tokenizing a byte of text:

    - tf per (doc, term) parses from the query tokens' postings
      entries (position-list length — the same integer the scorer
      counts);
    - df per term is ``sum(df_seg)`` over the token's segments;
    - dl joins from the doclen sidecar; N / T come from the build-time
      meta, and the :func:`_term_scores` int64 overflow bound
      ``23·max_dl·t_tokens ≤ 2^63`` re-checks on those meta values
      (exact Python ints) before any scoring;
    - scoring reuses the exact integer-rational rescale + ROUND(·,6)
      → decimal discipline, and ranking is the SAME salted two-phase
      :func:`_rank_topk` the from-text form uses.

    Scale shape: the scan reads ~the query tokens' rows (pushed token
    filter over token-sorted row groups); the only doc-cardinality
    shuffle is the (doc_id, tf) ⋈ doclens join on fixed-width rows;
    idf and the (query_id, term) map broadcast.

    Deletion semantics (Lucene's): tombstoned docs are masked out of
    the CANDIDATE set BEFORE ranking — the next-best survivor takes
    the freed rank, never a k−1-row result — but df and the corpus
    stats stay frozen at build until vacuum, so surviving docs' scores
    do not move when a neighbor is deleted."""
    if k < 1 or salt < 1:
        raise ValueError(f"k and salt must be >= 1, got k={k} salt={salt}")
    postings, dl, meta = read_retrieval_index(spark, path)
    n_docs, t_tokens = int(meta["n_docs"]), int(meta["t_tokens"])
    max_dl = int(meta["max_dl"])
    if t_tokens and not t_tokens <= (_i64 // 23) // max(max_dl, 1):
        raise ValueError(
            "bm25_topk_stored: indexed corpus exceeds the int64 rescale "
            f"bound (23 * max_dl * t_tokens > 2^63): t_tokens={t_tokens}, "
            f"max_dl={max_dl}; shard the corpus or rescale the constant "
            "pair (module docstring)"
        )
    qterms = local_df(
        spark, _qterm_pairs(queries), "query_id int, w string"
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    hit = postings.filter(F.col("token").isin(*all_terms))
    tf = _mask_deleted(
        _parse_tf(postings, all_terms),
        spark,
        _index_data_root(path.rstrip("/")),
    )
    idf = (
        hit.groupBy(F.col("token").alias("w"))
        .agg(F.sum("df_seg").alias("df"))
        .select(
            "w",
            (
                F.log(2 * F.lit(n_docs) - 2 * F.col("df") + 1)
                - F.log(2 * F.col("df") + 1)
            ).alias("idf"),
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "w")
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("idf")
                * (
                    (22 * F.col("tf") * F.lit(t_tokens))
                    / (
                        10 * F.col("tf") * F.lit(t_tokens)
                        + 3 * F.lit(t_tokens)
                        + 9 * F.col("dl") * F.lit(n_docs)
                    )
                ),
                6,
            )
            .cast(_DEC)
            .alias("s"),
        )
        .join(F.broadcast(qterms), "w")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("s").alias("sdec"),
        )
    )
    return _rank_topk(scored, k, salt)


#: deterministic certificate delete set — doc_id ≡ 3 (mod 10) removes
#: a fixed tenth of the corpus, including phrase-matching docs at
#: every correctness SF (sf0.001: 2 of 45 matches; sf0.01: 5 of 44 —
#: the oracle hash certifies the mask actually removed hits)
_DEL_MOD, _DEL_REM = 10, 3


def retrieval_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-lifecycle certificate: build the stored index over the
    documents table via the REAL lifecycle ops (`write_retrieval_index`
    into a fresh tempdir), tombstone the fixed delete set through
    `delete_from_retrieval_index`, and answer the certificate phrase
    from the masked index. The DuckDB oracle recomputes phrase counts
    FROM RAW TEXT over the surviving docs only, so the driver hash
    binds build → delete → masked read end to end: a tombstone that
    fails to mask leaves extra rows, one that over-masks drops rows.

    Each run builds under a fresh ``tempfile.mkdtemp``; the returned
    DataFrame lazily reads from it, so cleanup is left to /tmp hygiene
    (the `fingerprint_store_compact` precedent)."""
    import tempfile

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="ridx_del_")
    write_retrieval_index(docs, idx)
    delete_from_retrieval_index(
        spark,
        idx,
        docs.filter(F.col("doc_id") % _DEL_MOD == _DEL_REM).select("doc_id"),
    )
    return phrase_search_stored(spark, idx, *_PHRASE)


_Q_SQL = ", ".join(f"'{t}'" for t in _QUERY)

BM25_SCORE_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks
  WHERE w IN ({_Q_SQL}) GROUP BY doc_id, w
),
idf AS (
  SELECT w, LN(2 * t.n_docs - 2 * df + 1) - LN(2 * df + 1) AS idf
  FROM (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), totals t
),
term_scores AS (
  SELECT tf.doc_id,
         CAST(ROUND(idf.idf * (
             (22 * tf.tf * t.t_tokens)
             / (10 * tf.tf * t.t_tokens + 3 * t.t_tokens
                + 9 * dl.dl * t.n_docs)
         ), 6) AS DECIMAL(20,6)) AS s
  FROM tf JOIN dl USING (doc_id) JOIN idf USING (w), totals t
)
SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(s) AS DOUBLE) AS score
FROM term_scores GROUP BY doc_id
"""

INVERTED_INDEX_POSTINGS_SQL = """
WITH pos AS (
  SELECT doc_id, w[CAST(i AS INT)] AS w, CAST(i AS INT) AS p
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
       UNNEST(range(1, LEN(w) + 1)) AS t(i)
),
per_doc AS (
  SELECT w, doc_id,
         doc_id || ':' || STRING_AGG(p, ',' ORDER BY p) AS entry,
         COUNT(*) AS tf
  FROM pos GROUP BY w, doc_id
)
SELECT w AS token, COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       STRING_AGG(entry, ';' ORDER BY doc_id) AS postings
FROM per_doc GROUP BY w
"""

INVERTED_INDEX_POSTINGS_SHARDED_SQL = f"""
WITH pos AS (
  SELECT doc_id, w[CAST(i AS INT)] AS w, CAST(i AS INT) AS p
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
       UNNEST(range(1, LEN(w) + 1)) AS t(i)
),
per_doc AS (
  SELECT w, doc_id, doc_id // {_SEG_WIDTH} AS seg,
         doc_id || ':' || STRING_AGG(p, ',' ORDER BY p) AS entry,
         COUNT(*) AS tf
  FROM pos GROUP BY w, doc_id
)
SELECT w AS token, seg AS segment, COUNT(*) AS df_seg,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       STRING_AGG(entry, ';' ORDER BY doc_id) AS postings
FROM per_doc GROUP BY w, seg
"""

# built from _qterm_pairs — the SAME rows bm25_topk joins against — so
# the oracle inherits the within-query term dedup by construction
# (r13 ADVICE 3): a future _QUERY_BATCH edit with a repeated term can
# no longer make the oracle double-count what the Spark side dedups
_QB_SQL = ", ".join(f"({qid}, '{t}')" for qid, t in _qterm_pairs(_QUERY_BATCH))
_QB_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for ts in _QUERY_BATCH.values() for t in ts})
)

# the oracle ranks with ONE plain window per query — it replays the
# SEMANTICS (exact-decimal order, doc_id tie-break), not the salted
# two-phase physical strategy
BM25_TOPK_QUERIES_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks
  WHERE w IN ({_QB_TERMS_SQL}) GROUP BY doc_id, w
),
idf AS (
  SELECT w, LN(2 * t.n_docs - 2 * df + 1) - LN(2 * df + 1) AS idf
  FROM (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), totals t
),
term_scores AS (
  SELECT tf.doc_id, tf.w,
         CAST(ROUND(idf.idf * (
             (22 * tf.tf * t.t_tokens)
             / (10 * tf.tf * t.t_tokens + 3 * t.t_tokens
                + 9 * dl.dl * t.n_docs)
         ), 6) AS DECIMAL(20,6)) AS s
  FROM tf JOIN dl USING (doc_id) JOIN idf USING (w), totals t
),
qterms(query_id, w) AS (VALUES {_QB_SQL}),
scored AS (
  SELECT q.query_id, ts.doc_id, COUNT(*) AS n_terms, SUM(ts.s) AS sdec
  FROM term_scores ts JOIN qterms q USING (w)
  GROUP BY q.query_id, ts.doc_id
)
SELECT CAST(query_id AS INT) AS query_id, rank, doc_id, n_terms,
       CAST(sdec AS DOUBLE) AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sdec DESC, doc_id
  ) AS rank FROM scored
) WHERE rank <= {_TOPK}
"""

# the oracle never sees the index: it recomputes phrase occurrences
# straight from the text (adjacent split positions), so the hash binds
# the whole text → index → parse → match round trip
PHRASE_SEARCH_POSTINGS_SQL = f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents)
SELECT doc_id, COUNT(*) AS n_occurrences
FROM w, UNNEST(range(1, LEN(ws))) AS t(i)
WHERE ws[CAST(i AS INT)] = '{_PHRASE[0]}'
  AND ws[CAST(i AS INT) + 1] = '{_PHRASE[1]}'
GROUP BY doc_id
"""

# raw-text oracle for the 3-token repeated-token phrase: a window of
# THREE consecutive split positions — the i+2 bound keeps full windows
PHRASE_MULTI_SEARCH_POSTINGS_SQL = f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents)
SELECT doc_id, COUNT(*) AS n_occurrences
FROM w, UNNEST(range(1, LEN(ws) - 1)) AS t(i)
WHERE ws[CAST(i AS INT)] = '{_PHRASE3[0]}'
  AND ws[CAST(i AS INT) + 1] = '{_PHRASE3[1]}'
  AND ws[CAST(i AS INT) + 2] = '{_PHRASE3[2]}'
GROUP BY doc_id
"""

# the oracle recomputes distances FROM RAW TEXT (1-based positions via
# UNNEST range), so the hash binds text → index → parse → |Δp| ≤ d —
# the phrase row's round-trip discipline, generalized to the window
PROXIMITY_SEARCH_POSTINGS_SQL = f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS p
  FROM w, UNNEST(range(1, LEN(ws) + 1)) AS t(i)
),
p1 AS (SELECT doc_id, p FROM pos WHERE tok = '{_PROX[0]}'),
p2 AS (SELECT doc_id, p FROM pos WHERE tok = '{_PROX[1]}')
SELECT p1.doc_id AS doc_id,
       COUNT(*) AS n_pairs,
       MIN(ABS(p1.p - p2.p)) AS min_dist
FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
WHERE ABS(p1.p - p2.p) BETWEEN 1 AND {_PROX_D}
GROUP BY p1.doc_id
"""

# the oracle recomputes per-token df/tf straight from the text for
# the prefix's tokens — a sharded index whose per-segment partial
# sums double-count or drop a segment breaks the value hash
VOCAB_PREFIX_POSTINGS_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
per_doc AS (
  SELECT w, doc_id, COUNT(*) AS tf FROM toks
  WHERE SUBSTR(w, 1, {len(_VOCAB_PREFIX)}) = '{_VOCAB_PREFIX}'
  GROUP BY w, doc_id
)
SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf
FROM per_doc GROUP BY w
"""

# the oracle recomputes the boolean algebra straight from the text —
# HAVING COUNT(DISTINCT w) = |must| is the AND, NOT IN the exclusion,
# and tf_sum the must-terms' occurrence count — so the hash binds
# text → index → tf parse → set algebra (NOT membership: a doc the
# index wrongly keeps or drops moves the row count; a wrong tf payload
# moves the value hash)
_BOOL_MUST_SQL = ", ".join(f"'{t}'" for t in _BOOL_MUST)
_BOOL_NOT_SQL = ", ".join(f"'{t}'" for t in _BOOL_NOT)

BOOLEAN_SEARCH_POSTINGS_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
matched AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf_sum
  FROM toks WHERE w IN ({_BOOL_MUST_SQL})
  GROUP BY doc_id
  HAVING COUNT(DISTINCT w) = {len(_BOOL_MUST)}
)
SELECT doc_id, tf_sum FROM matched
WHERE doc_id NOT IN (
  SELECT doc_id FROM toks WHERE w IN ({_BOOL_NOT_SQL})
)
"""

# the oracle recomputes the snippet straight from the text: MIN(pos)
# is the first occurrence, the slice bounds clamp at both edges
# (GREATEST/LEAST), and DuckDB's 1-based inclusive list slice matches
# the index's 1-based position convention — the hash binds
# text → index → first-position parse → clamped slice → rendering
KWIC_SNIPPETS_POSTINGS_SQL = f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
f AS (
  SELECT doc_id, MIN(CAST(i AS BIGINT)) AS p_first
  FROM w, UNNEST(range(1, LEN(ws) + 1)) AS t(i)
  WHERE ws[CAST(i AS INT)] = '{_KWIC_TERM}'
  GROUP BY doc_id
)
SELECT f.doc_id AS doc_id, f.p_first,
       array_to_string(
         w.ws[CAST(GREATEST(f.p_first - {_KWIC_W}, 1) AS INT)
              :CAST(LEAST(f.p_first + {_KWIC_W}, LEN(w.ws)) AS INT)],
         ' '
       ) AS snippet
FROM f JOIN w USING (doc_id)
"""

# the oracle recomputes phrase occurrences from RAW TEXT over the
# SURVIVING docs only — the stored-index side went through build →
# tombstone → masked read, so a mask that leaks or over-deletes breaks
# the row count, and any postings corruption breaks the value hash
RETRIEVAL_DELETE_SEARCH_SQL = f"""
WITH w AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
  WHERE doc_id % {_DEL_MOD} != {_DEL_REM}
)
SELECT doc_id, COUNT(*) AS n_occurrences
FROM w, UNNEST(range(1, LEN(ws))) AS t(i)
WHERE ws[CAST(i AS INT)] = '{_PHRASE[0]}'
  AND ws[CAST(i AS INT) + 1] = '{_PHRASE[1]}'
GROUP BY doc_id
"""

QUERIES = {
    "bm25_score_docs": bm25_score_docs,
    "inverted_index_postings": inverted_index_postings,
    "inverted_index_postings_sharded": inverted_index_postings_sharded,
    "phrase_search_postings": phrase_search_postings,
    "phrase_multi_search_postings": phrase_multi_search_postings,
    "proximity_search_postings": proximity_search_postings,
    "boolean_search_postings": boolean_search_postings,
    "kwic_snippets_postings": kwic_snippets_postings,
    "vocab_prefix_postings": vocab_prefix_postings,
    "bm25_topk_queries": bm25_topk_queries,
    "retrieval_delete_search": retrieval_delete_search,
}
ORACLES = {
    "bm25_score_docs": BM25_SCORE_DOCS_SQL,
    "inverted_index_postings": INVERTED_INDEX_POSTINGS_SQL,
    "inverted_index_postings_sharded": INVERTED_INDEX_POSTINGS_SHARDED_SQL,
    "phrase_search_postings": PHRASE_SEARCH_POSTINGS_SQL,
    "phrase_multi_search_postings": PHRASE_MULTI_SEARCH_POSTINGS_SQL,
    "proximity_search_postings": PROXIMITY_SEARCH_POSTINGS_SQL,
    "boolean_search_postings": BOOLEAN_SEARCH_POSTINGS_SQL,
    "kwic_snippets_postings": KWIC_SNIPPETS_POSTINGS_SQL,
    "vocab_prefix_postings": VOCAB_PREFIX_POSTINGS_SQL,
    "bm25_topk_queries": BM25_TOPK_QUERIES_SQL,
    "retrieval_delete_search": RETRIEVAL_DELETE_SEARCH_SQL,
}
