"""End-to-end crawl-curation pipeline (SURVEY §2B LLM ext — the
composition layer): WARC → HTTP/HTML gate → URL canonicalization,
blocklist, URL dedup, per-domain caps → text extraction → link-density
gate → unicode normalization → exact document dedup → line-level
boilerplate removal → Gopher quality gate.

This is the RefinedWeb/C4 preprocessing recipe expressed as one
declarative DataFrame chain. Every stage is one of the repo's tested
operators (`io/warc`, `llm/url_ops`, `llm/html_extract`,
`llm/linedup`, `llm/quality_rules`); this module only composes and
names them, so the pipeline inherits each stage's scale posture:
per-file WARC tasks, codegen URL/quality expressions, hash-keyed
broadcast anti-joins for blocklist and line dedup, and digest-keyed
shuffles (never text-keyed) for the dedups. The only corpus-wide
shuffles are the three the semantics require: global line frequency,
doc reassembly, and the final content-hash dedup.

``curation_stages`` exposes every intermediate DataFrame by name so
tests (and operators-in-notebooks users) can count/inspect per-stage
attrition — the funnel numbers a curation run reports.

New module per the evidence-ledger rule; verified end-to-end by
`tests/test_curate.py` on a synthesized multi-domain crawl.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..io.warc import read_warc, read_wet_documents
from .html_extract import extract_text_cols, extract_text_df
from .substring_dedup import (
    DEFAULT_K as _SUBSTRING_DEFAULT_K,
    DEFAULT_WINDOW as _SUBSTRING_DEFAULT_WINDOW,
)
from .linedup import dedup_units_within_doc, remove_global_duplicate_units
from .lm_score import perplexity_buckets, score_with_lm
from .quality_rules import gopher_flags_df
from .robots import filter_robots_disallowed, robots_rules_from_warc
from .textnorm import clean_text_expr
from .url_ops import (
    blocked_domain_pred,
    cap_per_domain,
    filter_blocked_domains,
    host_expr,
    normalize_url_expr,
    registered_domain_expr,
)


def _http_page_cond():
    """The HTTP-response page gate over a WARC records frame — ONE
    spelling shared by the stage graph and the one-pass funnel counts
    (pre URL-normalization; the url-not-null leg is applied after
    ``normalize_url_expr`` by both consumers)."""
    return (
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.lower(F.col("http_content_type")).startswith("text/html")
        & F.col("target_uri").isNotNull()
    )


def _page_doc_id():
    """The document-identity rule (xxhash64 over path#record_seq) —
    shared spelling, see io/warc for the canonicalization vintage."""
    return F.xxhash64(F.concat_ws("#", "path", "record_seq"))


def _read_warc_stream(
    spark: SparkSession, warc_path: str, permissive: bool
) -> DataFrame:
    """The record-bounded-memory WARC scan route (io/warc_datasource):
    same schema and strict/permissive contract as read_warc, per-task
    peak memory ONE record + a 64 KiB chunk. Registration idempotent."""
    from ..io.warc_datasource import WarcDataSource

    spark.dataSource.register(WarcDataSource)
    return (
        spark.read.format("warc")
        .option("path", warc_path)
        .option("parse_http", "true")
        .option("permissive", "true" if permissive else "false")
        .load()
    )


def curation_stages(
    spark: SparkSession,
    warc_path: str,
    *,
    blocked_domains: list[str] | None = None,
    max_pages_per_domain: int = 100_000,
    max_link_char_frac: float = 0.5,
    line_dedup_min_docs: int = 2,
    quality_thresholds: dict | None = None,
    permissive: bool = True,
    persist_intermediates: bool = True,
    enforce_robots: bool = False,
    perplexity_lm=None,
    max_ppl_bucket: int | None = None,
    quality_model=None,
    min_quality_prob: float = 0.5,
    input_format: str = "warc-stream",
    substring_dedup: bool = False,
    substring_dedup_k: int = _SUBSTRING_DEFAULT_K,
    substring_dedup_window: int = _SUBSTRING_DEFAULT_WINDOW,
    substring_store: str | None = None,
    substring_store_force_vintage: bool = False,
    decontaminate_bench: DataFrame | None = None,
    decontaminate_max_permille: int = 100,
    novelty_filter: bool = False,
    novelty_min_permille: int = 250,
    dsir_target: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The curation funnel as named stages (each a DataFrame).

    ``input_format="wet"`` reads Common Crawl's pre-extracted WET
    distribution instead (r7 VERDICT item 8): conversion records whose
    payload IS the page text, so the HTML-parse and link-density
    stages are SKIPPED entirely — the corpus shape most training-data
    runs actually start from never pays the extraction cost it doesn't
    need. The ``extracted``/``content_like`` keys are absent from a
    WET run (``title`` is NULL — WET carries no markup to take one
    from); every other stage applies unchanged. ``enforce_robots``
    raises for WET input: the text-only distribution contains no
    robots.txt response bodies to extract a policy from, and silently
    not enforcing a requested compliance filter is the one failure
    mode a curation run must not have.

    ``input_format="warc-stream"`` — the DEFAULT since r13 (r12
    VERDICT item 7) — reads the WARC distribution through the
    streaming Python DataSource
    (`io/warc_datasource.WarcDataSource`, r11 VERDICT item 4) instead
    of the binaryFile route: identical schema and record semantics
    (row-for-row pinned by tests), but per-task peak memory is ONE
    RECORD + a 64 KiB chunk instead of one whole decompressed shard —
    measured at 1M pages / 8×63 MB-gz shards: 3.41 vs 9.8 GiB peak
    scan RSS, funnel wall parity, byte-identical output including
    doc_id (the r12 path canonicalization makes identity
    route-independent; SCALE.md §"scan route"). At Common Crawl's
    ~1 GB shards the residency gap is what keeps 4 GB executors
    alive. ``input_format="warc"`` keeps the binaryFile route as the
    explicit option (~27% faster scan-only when memory is no
    constraint: whole-shard Arrow batches beat per-record Python
    framing). Every stage downstream is byte-identical; only the scan
    route changes.

    Keys, in order: ``records``, ``pages``, [``robots_allowed``,]
    ``unblocked``, ``url_deduped``, ``capped``, ``extracted``,
    ``content_like``, ``normalized``, ``exact_deduped``,
    ``line_deduped``, [``substring_deduped``,] [``decontaminated``,]
    [``novelty_filtered``,] [``dsir_selected``,] [``ppl_filtered``,]
    [``clf_filtered``,] ``final``.

    ``novelty_filter=True`` adds the first-seen n-gram novelty gate
    (`llm/novelty.novelty_gate`): a doc is dropped when fewer than
    ``novelty_min_permille``/1000 of its distinct word 3-grams are
    corpus-order firsts (integer threshold; sub-3-word docs are kept —
    the word-count rule owns short docs). ``dsir_target`` (a DataFrame
    with a ``text`` column — the target-domain corpus, e.g. a
    Wikipedia sample) adds DSIR importance selection
    (`llm/dsir.dsir_gate`): only docs whose importance log-weight
    against that target exceeds the corpus mean survive. Both sit
    after the dedup/decontamination stages and before the model gates
    — score what would ship, gate before the expensive models run.

    ``decontaminate_bench`` (a DataFrame with a ``text`` column — the
    eval/benchmark corpus) adds Bloom-filter benchmark decontamination
    (`llm/bloomdecon.bloom_decontaminate_filter`) right after the dedup
    stages: a doc is dropped when more than
    ``decontaminate_max_permille``/1000 of its distinct word 3-grams
    hit the benchmark's Bloom filter (integer threshold, no float cut;
    docs too short for a 3-gram are kept — the word-count rule owns
    short docs). The filter broadcast is O(m bits) however large the
    eval suite, so the stage is map-side against the funnel stream.

    ``substring_dedup=True`` runs the dedup ladder's bottom rung
    (`llm/substring_dedup.remove_duplicated_substrings`) right after
    line dedup: cross-document duplicated character runs of
    ≥ ``substring_dedup_window + substring_dedup_k − 1`` chars are cut
    from every occurrence except the corpus-wide smallest
    (doc_id, pos) one. It runs BEFORE the perplexity/classifier gates
    so the models score the text that would actually ship.
    ``substring_store`` (a path) makes the stage INCREMENTAL: when a
    versioned fingerprint store
    (`llm/substring_dedup.write_fingerprint_store`) exists there, the
    batch dedups against everything earlier batches exported
    (first-seen-wins across batches; the store's recorded k/window/
    hash-scheme must match or the stage raises); when nothing exists
    there yet, the batch-wide remover runs as usual. The funnel only
    READS the store — appending the shipped batch's fingerprints is
    the exporter's job AFTER its write lands (``curatectl
    --substring-store`` does both), so a crash in between leaves
    future batches keeping a duplicate rather than cutting text the
    corpus never shipped. A store stamped with an older doc-identity
    rendering vintage (or predating the stamp) fails AT LOAD with
    :class:`~.substring_dedup.FingerprintStoreIdentityMismatch`;
    ``substring_store_force_vintage=True`` (CLI:
    ``--force-store-vintage``) overrides after the operator has
    verified path-rendering stability (r13 VERDICT item 2).

    ``enforce_robots=True`` extracts the crawl's own robots.txt
    responses (`llm/robots.py`) and drops disallowed pages right after
    the HTTP gate. ``perplexity_lm`` (a trained `llm/lm_score.CharLM`)
    with ``max_ppl_bucket`` applies the CCNet filter after line dedup:
    documents land in perplexity terciles and only buckets ≤ the bound
    survive (bucket 1 = most fluent; NULL-scored short docs are kept —
    the word-count rule owns that judgement). ``quality_model`` (a
    fitted `llm/quality_clf` PipelineModel) with ``min_quality_prob``
    adds the model-based reference-likeness gate after the dedup (and
    perplexity, if enabled) stages — a map-only MLlib transform, no
    extra shuffle. NOTE: the tercile cutoffs
    are a two-pass computation, so enabling the perplexity stage runs a
    scoring job during THIS call (the funnel is otherwise lazy);
    ``persist_intermediates`` makes that pass reusable instead of a
    repeat of the whole upstream funnel per action.

    Exact content dedup runs BEFORE line-level dedup on purpose: two
    byte-identical pages would otherwise make every one of their lines a
    cross-document duplicate, and global line removal would hollow both
    out instead of keeping one.

    ``persist_intermediates`` (default on) persists the two most-reused
    frames (``capped`` — consumed by extraction AND joined back;
    ``exact_deduped`` — consumed three times by the line-dedup stage) at
    MEMORY_AND_DISK, so one action does not re-run the WARC decompress +
    HTML parse lineage once per downstream reference. Call
    ``.unpersist()`` on those stages when the run is done, or pass
    False for fully lazy plans.
    """
    if input_format not in ("warc", "wet", "warc-stream"):
        raise ValueError(
            f"input_format must be 'warc', 'warc-stream' or 'wet', "
            f"got {input_format!r}"
        )
    wet = input_format == "wet"
    if wet and enforce_robots:
        raise ValueError(
            "enforce_robots is unavailable for WET input: the text-only "
            "distribution carries no robots.txt response bodies to "
            "extract a policy from — run against the WARC distribution "
            "or pre-filter with an external rule table"
        )
    # WARC: full HTTP responses, HTML to extract. WET: pre-extracted
    # conversion records whose payload IS the text — no HTTP parse, no
    # HTML stage (the content column is already `text`). The WET path
    # goes through io/warc.read_wet_documents so the document-identity
    # rule (xxhash64(path#record_seq)) and the conversion-record filter
    # live in exactly one place (review-caught duplication).
    content_col = "text" if wet else "html"
    if wet:
        records = read_warc(
            spark, warc_path, parse_http=False, permissive=permissive,
            path_glob="*.warc.wet*",
        )
        pages = (
            read_wet_documents(
                spark, warc_path, permissive=permissive
            )
            .select(
                "doc_id",
                normalize_url_expr(F.col("url")).alias("url"),
                F.col("url").alias("raw_uri"),
                "text",
            )
            .filter(F.col("url").isNotNull())
        )
    else:
        if input_format == "warc-stream":
            # the record-bounded-memory scan route: same schema, same
            # strict/permissive contract as read_warc (row-for-row
            # pinned in tests/test_warc_datasource.py) — registration
            # is idempotent, and the path option takes object-store
            # URIs via the DataSource's pyarrow-FS routing
            records = _read_warc_stream(spark, warc_path, permissive)
        else:
            records = read_warc(
                spark, warc_path, parse_http=True, permissive=permissive
            )
        pages = (
            records.filter(_http_page_cond())
            .select(
                _page_doc_id().alias("doc_id"),
                normalize_url_expr(F.col("target_uri")).alias("url"),
                # raw URI kept alongside: robots prefixes match the path
                # AS CRAWLED — canonicalization collapses trailing
                # slashes, so 'Disallow: /private/' would silently miss
                # '/private/' if matched against the canonical form
                F.col("target_uri").alias("raw_uri"),
                F.col("body").cast("string").alias(content_col),
            )
            .filter(F.col("url").isNotNull())
        )
    robots_allowed = None
    if enforce_robots:
        # rule table is KB-sized but its lineage is the full crawl scan —
        # persist so every downstream action reuses it instead of
        # re-decompressing the corpus to rebuild a dimension
        rules = robots_rules_from_warc(records).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        robots_allowed = filter_robots_disallowed(pages, rules, url_col="raw_uri")
        pages_in = robots_allowed
    else:
        pages_in = pages
    pages_in = pages_in.drop("raw_uri")
    unblocked = (
        filter_blocked_domains(pages_in, blocked_domains)
        if blocked_domains
        else pages_in
    )
    # URL-level dedup: one fetch per canonical URL, deterministically the
    # lowest doc_id (min over (doc_id, html) structs — ordered by doc_id)
    url_deduped = (
        unblocked.groupBy("url")
        .agg(F.min(F.struct("doc_id", content_col)).alias("r"))
        .select("r.doc_id", "url", f"r.{content_col}")
    )
    capped = cap_per_domain(url_deduped, max_pages_per_domain)
    if persist_intermediates:
        capped = capped.persist(StorageLevel.MEMORY_AND_DISK)
    extracted = content_like = None
    if wet:
        # extraction already happened upstream (Common Crawl's WET
        # conversion); no markup means no title and no link density
        pre_norm = capped.withColumn("title", F.lit(None).cast("string"))
    else:
        extracted = extract_text_df(capped).join(
            capped.select("doc_id", "url"), "doc_id"
        )
        content_like = extracted.filter(
            F.col("link_char_frac").isNotNull()
            & (F.col("link_char_frac") <= max_link_char_frac)
        )
        pre_norm = content_like
    # unicode cleanup BEFORE hashing, so visually-identical re-crawls
    # (nbsp vs space, zero-width junk) hash identically downstream
    normalized = pre_norm.withColumn(
        "text", clean_text_expr(F.col("text"))
    )
    # exact content dedup, digest-keyed: the text never rides the shuffle
    exact_deduped = (
        normalized.withColumn("_h", F.md5("text"))
        .groupBy("_h")
        .agg(F.min(F.struct("doc_id", "url", "title", "text")).alias("r"))
        .select("r.doc_id", "r.url", "r.title", "r.text")
    )
    if persist_intermediates:
        exact_deduped = exact_deduped.persist(StorageLevel.MEMORY_AND_DISK)
    line_deduped = remove_global_duplicate_units(
        dedup_units_within_doc(exact_deduped.select("doc_id", "text"), "line"),
        "line",
        line_dedup_min_docs,
    ).join(exact_deduped.select("doc_id", "url", "title"), "doc_id")
    gate_in = line_deduped
    substring_deduped = None
    if substring_dedup:
        store_fps = store_meta = None
        if substring_store is not None:
            from .substring_dedup import read_fingerprint_store

            # raises FingerprintStoreIdentityMismatch AT LOAD on a
            # store built under an older doc-identity rendering
            # vintage (or predating the stamp) unless the operator
            # forces it — r13 VERDICT item 2
            store_fps, store_meta = read_fingerprint_store(
                spark,
                substring_store,
                allow_stale_identity=substring_store_force_vintage,
            )
        if store_fps is not None:
            from .substring_dedup import remove_substrings_against_store

            # incremental form: runs already EXPORTED by earlier
            # batches (the store's fingerprints) are cut from every
            # new occurrence — first-seen-wins across batches; the
            # store's recorded (k, window, hash scheme) must match or
            # this raises before any join
            cut, _ = remove_substrings_against_store(
                gate_in.select("doc_id", "text"),
                store_fps,
                k=substring_dedup_k,
                window=substring_dedup_window,
                store_meta=store_meta,
                allow_stale_identity=substring_store_force_vintage,
            )
        else:
            from .substring_dedup import remove_duplicated_substrings

            # ladder bottom rung: detection ships (fp, probe) rows at
            # winnowed density; the text rides only the final per-doc
            # rebuild join (see llm/substring_dedup's scale posture)
            cut = remove_duplicated_substrings(
                gate_in.select("doc_id", "text"),
                k=substring_dedup_k,
                window=substring_dedup_window,
            )
        substring_deduped = cut.join(
            gate_in.select("doc_id", "url", "title"), "doc_id"
        )
        gate_in = substring_deduped
    decontaminated = None
    if decontaminate_bench is not None:
        from .bloomdecon import bloom_decontaminate_filter

        # after the dedup stages (score/ship what survived them), before
        # the model gates — the standard late-pipeline placement for
        # eval-set decontamination
        decontaminated = bloom_decontaminate_filter(
            gate_in,
            decontaminate_bench,
            max_hit_permille=decontaminate_max_permille,
        )
        gate_in = decontaminated
    novelty_filtered = None
    if novelty_filter:
        from .novelty import novelty_gate

        # first-seen n-gram gate: hashed-gram longs only on the wire
        # (the text column rides just the final anti-join), integer
        # threshold, short docs kept — see llm/novelty.novelty_gate
        novelty_filtered = novelty_gate(
            gate_in, min_novelty_permille=novelty_min_permille
        )
        gate_in = novelty_filtered
    dsir_selected = None
    if dsir_target is not None:
        from .dsir import dsir_gate

        # DSIR above-mean importance selection against the target
        # corpus: B-row term table broadcast, fixed-width shuffles,
        # passthrough via one left_semi — see llm/dsir.dsir_gate
        dsir_selected = dsir_gate(gate_in, dsir_target)
        gate_in = dsir_selected
    ppl_filtered = None
    if perplexity_lm is not None:
        if max_ppl_bucket is None:
            raise ValueError("perplexity_lm requires max_ppl_bucket")
        # the tercile cutoffs are a two-pass computation: scoring runs a
        # job HERE, at graph-construction time. Persist the scored-side
        # input so that pass (and every later action) reuses one
        # materialization of the expensive upstream funnel.
        if persist_intermediates:
            gate_in = gate_in.persist(StorageLevel.MEMORY_AND_DISK)
        buckets = perplexity_buckets(
            score_with_lm(gate_in.select("doc_id", "text"), perplexity_lm)
        )
        keep_ids = buckets.filter(
            F.col("ppl_bucket").isNull()
            | (F.col("ppl_bucket") <= max_ppl_bucket)
        ).select("doc_id")
        ppl_filtered = gate_in.join(keep_ids, "doc_id", "left_semi")
        gate_in = ppl_filtered
    clf_filtered = None
    if quality_model is not None:
        if not (0.0 <= min_quality_prob <= 1.0):
            raise ValueError(
                f"min_quality_prob must be in [0, 1], got {min_quality_prob}"
            )
        from .quality_clf import filter_by_quality

        # map-only MLlib transform (JVM featurize + broadcast
        # coefficients — no shuffle, no Python rows); runs after the
        # dedup stages so the model scores the text that would ship
        clf_filtered = filter_by_quality(
            quality_model, gate_in, min_prob=min_quality_prob
        )
        gate_in = clf_filtered
    # keep= passthrough: the gate is a projection+filter, no join
    final = (
        gopher_flags_df(
            gate_in, quality_thresholds, keep=("url", "title", "text")
        )
        .filter("passes_gopher")
        .select("doc_id", "url", "title", "text")
    )
    out = {
        "records": records,
        "pages": pages,
        **({"robots_allowed": robots_allowed} if enforce_robots else {}),
        "unblocked": unblocked,
        "url_deduped": url_deduped,
        "capped": capped,
        **(
            {"extracted": extracted, "content_like": content_like}
            if not wet
            else {}
        ),
        "normalized": normalized,
        "exact_deduped": exact_deduped,
        "line_deduped": line_deduped,
        **(
            {"substring_deduped": substring_deduped}
            if substring_deduped is not None
            else {}
        ),
        **(
            {"decontaminated": decontaminated}
            if decontaminated is not None
            else {}
        ),
        **(
            {"novelty_filtered": novelty_filtered}
            if novelty_filtered is not None
            else {}
        ),
        **(
            {"dsir_selected": dsir_selected}
            if dsir_selected is not None
            else {}
        ),
        **({"ppl_filtered": ppl_filtered} if ppl_filtered is not None else {}),
        **({"clf_filtered": clf_filtered} if clf_filtered is not None else {}),
        "final": final,
    }
    return out


def funnel_counts(stages: dict[str, DataFrame]) -> dict[str, int]:
    """Row count per stage — the attrition report. Triggers one action
    per stage; meant for auditing runs, not the hot path. For the
    DEFAULT funnel shape, :func:`funnel_counts_onepass` computes the
    same dict in ONE job with no persist."""
    return {name: df.count() for name, df in stages.items()}


def funnel_counts_onepass(
    spark: SparkSession,
    warc_path: str,
    *,
    blocked_domains: list[str] | None = None,
    max_pages_per_domain: int = 100_000,
    max_link_char_frac: float = 0.5,
    line_dedup_min_docs: int = 2,
    quality_thresholds: dict | None = None,
    permissive: bool = True,
) -> dict[str, int]:
    """Every DEFAULT-funnel stage count in ONE Spark job (guide
    §2.3/§5.2; r14 VERDICT item 2): the counts ride the funnel's own
    aggregation tree as carried conditional aggregates instead of firing
    one count action per stage — which re-ran the WARC decompress+parse
    once per pre-shuffle stage and needed a corpus-sized ``pages``
    persist to cap the damage. Here the crawl is parsed exactly once,
    nothing is persisted, and the one action is a 1-row collect.

    Covers exactly the default ``curation_stages`` shape the funnel
    audit runs (warc-stream input, Python-list blocklist, no optional
    gates); the stage graph (``curation_stages`` + ``funnel_counts``)
    remains the general surface. Count equivalence is by construction,
    stage by stage:

    - ``records``/``pages``/``unblocked``: every record lands in
      exactly ONE url-group row of the first aggregation (non-page and
      blocked rows together under the NULL key), so the carried
      per-group sums total the stage counts; the page and blocklist
      predicates are the shared spellings (``_http_page_cond`` +
      ``normalize_url_expr`` null gate, ``blocked_domain_pred``) the
      stage graph itself filters with.
    - ``url_deduped``: count of non-NULL url groups ≡ COUNT(DISTINCT
      url) over unblocked pages; the group representative is the same
      ``min(struct(doc_id, html))``.
    - ``capped``: the cap window re-partitions by (is-url-group,
      registered domain) ordered by the representative doc_id, which
      RESTRICTED TO URL GROUPS is ``cap_per_domain``'s exact window
      (the single NULL-key row rides its own (false, NULL) partition
      and is never counted).
    - ``extracted``: ``extract_text_df`` is row-preserving by
      construction (mapInPandas emitting one row per input, then a 1:1
      join on the unique doc_id), so the stage count equals ``capped``;
      extraction here is the SAME per-row ``html_to_text`` via
      ``extract_text_cols``, fed NULL html for non-capped rows.
    - ``content_like``/``normalized``: the same link-density predicate
      over the extracted struct; normalization is a projection, so the
      counts coincide.
    - ``exact_deduped``: the same ``md5(clean_text_expr(text))`` key
      over content-like rows; non-survivors ride under the NULL key and
      only their carried sums are read. The representative is the same
      ``min(struct(doc_id, url, title, text))``.
    - ``line_deduped``/``final``: the UNMODIFIED stage operators
      (``dedup_units_within_doc`` → ``remove_global_duplicate_units`` →
      url/title join → ``gopher_flags_df``) run over the survivors,
      counted by one conditional aggregate; the exchange feeding the
      survivors is reused, not recomputed, because all consumers sit
      above the same aggregation.

    tests/test_funnel_onepass.py pins this dict equal to
    ``funnel_counts(curation_stages(...))`` on adversarial crawls.
    """
    if max_pages_per_domain < 1:
        raise ValueError("max_pages_per_domain must be >= 1")
    records = _read_warc_stream(spark, warc_path, permissive)
    url_norm = normalize_url_expr(F.col("target_uri"))
    is_page = F.coalesce(
        _http_page_cond() & url_norm.isNotNull(), F.lit(False)
    )
    if blocked_domains:
        is_unblocked = is_page & ~blocked_domain_pred(
            url_norm, blocked_domains
        )
    else:
        is_unblocked = is_page
    base = records.select(
        F.when(is_unblocked, url_norm).alias("url"),
        is_page.alias("_pg"),
        is_unblocked.alias("_ub"),
        F.when(
            is_unblocked,
            F.struct(
                _page_doc_id().alias("doc_id"),
                F.col("body").cast("string").alias("html"),
            ),
        ).alias("_r"),
    )
    # one aggregation = url dedup AND the carried record/page counts
    g = base.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_rec"),
        F.count_if(F.col("_pg")).alias("n_pg"),
        F.count_if(F.col("_ub")).alias("n_ub"),
        F.min("_r").alias("r"),
    )
    is_url = F.col("url").isNotNull()
    dom = registered_domain_expr(host_expr(F.col("url")))
    w = Window.partitionBy(is_url, dom).orderBy(F.col("r.doc_id"))
    g = g.select(
        "*",
        (
            is_url
            & (F.row_number().over(w) <= F.lit(max_pages_per_domain))
        ).alias("is_capped"),
    )
    ext = extract_text_cols(F.when(F.col("is_capped"), F.col("r.html")))
    g = g.select("*", ext.alias("ext"))
    is_cl = (
        F.col("is_capped")
        & F.col("ext.link_char_frac").isNotNull()
        & (F.col("ext.link_char_frac") <= F.lit(max_link_char_frac))
    )
    norm_text = clean_text_expr(F.col("ext.text"))
    g = g.select(
        "n_rec",
        "n_pg",
        "n_ub",
        is_url.alias("is_url"),
        "is_capped",
        is_cl.alias("is_cl"),
        F.when(is_cl, F.md5(norm_text)).alias("h"),
        F.when(
            is_cl,
            F.struct(
                F.col("r.doc_id").alias("doc_id"),
                F.col("url").alias("url"),
                F.col("ext.title").alias("title"),
                norm_text.alias("text"),
            ),
        ).alias("r2"),
    )
    # exact-content dedup AND the finalized upstream counts in one agg
    h = g.groupBy("h").agg(
        F.sum("n_rec").alias("records"),
        F.sum("n_pg").alias("pages"),
        F.sum("n_ub").alias("unblocked"),
        F.count_if(F.col("is_url")).alias("url_deduped"),
        F.count_if(F.col("is_capped")).alias("capped"),
        F.count_if(F.col("is_cl")).alias("content_like"),
        F.min("r2").alias("r2"),
    )
    s1 = h.agg(
        *[
            F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
            for c in (
                "records",
                "pages",
                "unblocked",
                "url_deduped",
                "capped",
                "content_like",
            )
        ],
        F.count_if(F.col("h").isNotNull()).alias("exact_deduped"),
    )
    surv = h.filter(F.col("h").isNotNull()).select(
        "r2.doc_id", "r2.url", "r2.title", "r2.text"
    )
    line_deduped = remove_global_duplicate_units(
        dedup_units_within_doc(surv.select("doc_id", "text"), "line"),
        "line",
        line_dedup_min_docs,
    ).join(surv.select("doc_id", "url", "title"), "doc_id")
    s2 = gopher_flags_df(
        line_deduped, quality_thresholds, keep=("url", "title", "text")
    ).agg(
        F.count(F.lit(1)).alias("line_deduped"),
        F.count_if(F.col("passes_gopher")).alias("final"),
    )
    row = s1.crossJoin(s2).collect()[0]
    return {
        "records": int(row["records"]),
        "pages": int(row["pages"]),
        "unblocked": int(row["unblocked"]),
        "url_deduped": int(row["url_deduped"]),
        "capped": int(row["capped"]),
        # extract_text_df emits one row per input row (and the 1:1
        # doc_id join drops none), so the stage count IS the cap count
        "extracted": int(row["capped"]),
        "content_like": int(row["content_like"]),
        # normalization is a projection over content_like
        "normalized": int(row["content_like"]),
        "exact_deduped": int(row["exact_deduped"]),
        "line_deduped": int(row["line_deduped"]),
        "final": int(row["final"]),
    }
