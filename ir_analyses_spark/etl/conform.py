"""Silver conformance: bronze filings → the 4 warehouse tables
(SURVEY §2A R5/R6, F1–F3, A1, C4–C5, C12–C13, J4; reference
utils/data_mapper.py:55-348).

The reference maps one filing at a time into ORM dicts, minting surrogate
ids through DB sequences and ``flush()`` (reference
utils/service/financial_service.py:177-240). Here every mapping is a
set-oriented transform over a multi-filing bronze frame keyed by
``filing_id``, and surrogate keys are deterministic ``xxhash64`` of natural
keys (SURVEY §7.3.1) — so the whole backfill is one DAG with no sequencing,
and reloading the same filings is idempotent.

Validation (reference raises ValueError per filing,
utils/data_mapper.py:142-151,255-283) becomes a data-quality gate: invalid
filings land in a quarantine DataFrame with a reason column instead of
aborting the other 15,999 filings in the batch.

Config-driven extraction: which XBRL elements feed which column stays data,
not code (reference config/config.toml:35-49) — pass a ``{column:
element_id}`` mapping; defaults mirror the reference's config.

Projections and aggregates are written as SQL expression strings
(``selectExpr`` / ``F.expr``): each one is a single parse on the JVM,
where a composed ``Column`` costs a py4j round trip per function call
(PySpark 4 also ships each call's call site), and a load plans these
frames on the driver between its Spark jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .standardize import FILING_ID, ROW_SEQ

#: reference config/config.toml:37-41
XBRL_COMPANY_MAPPING = {
    "edinet_code": "jpdei_cor:EDINETCodeDEI",
    "security_code": "jpdei_cor:SecurityCodeDEI",
    "industry_code": (
        "jpdei_cor:IndustryCodeWhenConsolidatedFinancialStatementsArePrepared"
        "InAccordanceWithIndustrySpecificRegulationsDEI"
    ),
    "company_name": "jpcrp_cor:CompanyNameCoverPage",
}

#: reference config/config.toml:44-49
XBRL_REPORT_MAPPING = {
    "document_type": "jpcrp_cor:DocumentTitleCoverPage",
    "fiscal_year_and_quarter": "jpcrp_cor:QuarterlyAccountingPeriodCoverPage",
    "fiscal_year_end": "jpdei_cor:CurrentPeriodEndDateDEI",
    "filing_date": "jpcrp_cor:FilingDateCoverPage",
}

#: financial-statement row selector (reference utils/data_mapper.py:174-176)
FINANCIAL_ELEMENT_PATTERN = "jppfs_cor:|jpigp_cor:"
_IS_FINANCIAL = f"element_id RLIKE '{FINANCIAL_ELEMENT_PATTERN}'"


def _quoted(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _scalar_string(row: str) -> str:
    """SQL of the reference's extraction-edge value rule over the struct
    column ``row`` (is_numeric, value, value_text): numerics become
    ``str(int(value))`` (decimal truncation toward zero), text passes
    through (reference utils/data_mapper.py:87-92). Only used at the cover
    extraction edge — never in the fact table (SURVEY §7.3.3)."""
    return (
        f"CASE WHEN {row}.is_numeric THEN CAST(CAST({row}.value AS BIGINT) AS STRING)"
        f" ELSE {row}.value_text END"
    )


def extract_cover_values(std: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """One row per filing with a column per mapping key — the set-oriented
    twin of ``{key: _get_value(df, element_id)}``
    (reference utils/data_mapper.py:137-141,247-250).

    One ``groupBy(filing_id)`` with one ``min_by`` per mapped element,
    ordered by ``_row_seq`` where the row carries that element and NULL
    elsewhere: ``min_by`` skips NULL orderings, so each column is the
    filing's earliest row for its element (the reference's first-match
    rule, made deterministic) and the aggregate stays bounded by the
    declared element list, never the full element_id domain
    (SURVEY §7.3.6).

    Every filing present in ``std`` gets an output row — a filing with NO
    rows matching any mapped element surfaces with all-NULL columns rather
    than vanishing, so the downstream required-field gate can quarantine it
    (the reference raises ValueError for such filings,
    reference utils/data_mapper.py:142-151; silently producing nothing
    would put it in neither the tables nor the rejects)."""
    first = std.groupBy(FILING_ID).agg(
        *[
            F.expr(
                "min_by(struct(is_numeric, value, value_text), CASE WHEN"
                f" element_id = {_sql_string(eid)} THEN {ROW_SEQ} END) AS {_quoted(k)}"
            )
            for k, eid in mapping.items()
        ]
    )
    return first.selectExpr(
        FILING_ID, *[f"{_scalar_string(_quoted(k))} AS {_quoted(k)}" for k in mapping]
    )


def _with_company_id(cov: DataFrame) -> DataFrame:
    """``cov`` plus ``_missing`` (the required company keys the filing
    lacks, comma-joined) and ``company_id`` (NULL when any is missing)."""
    return cov.selectExpr(
        "*",
        "concat_ws(',', CASE WHEN edinet_code IS NULL THEN 'edinet_code' END,"
        " CASE WHEN company_name IS NULL THEN 'company_name' END) AS _missing",
    ).selectExpr(
        "*", "CASE WHEN _missing = '' THEN xxhash64(edinet_code) END AS company_id"
    )


def _companies_from_cover(cov: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(companies, rejects): company dim rows keyed by
    ``xxhash64(edinet_code)``; filings missing required fields are
    quarantined with the reference's error message shape
    (reference utils/data_mapper.py:102-151)."""
    rejects = cov.filter("_missing != ''").selectExpr(
        FILING_ID, "concat('required keys missing: ', _missing) AS reason"
    )
    companies = cov.filter("company_id IS NOT NULL").selectExpr(
        "company_id",
        "edinet_code",
        "security_code",
        "industry_code",
        "company_name",
        "current_timestamp() AS created_at",
        "current_timestamp() AS updated_at",
    )
    return companies, rejects


def _reports_from_cover(cov: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(reports, rejects) from a cover frame carrying each filing's
    ``company_id`` (NULL when its company was rejected or is missing):
    the report dim with fiscal year/quarter parsed from the cover-page
    period string (reference utils/data_mapper.py:213-283).
    ``report_id = xxhash64(company_id, fiscal_year, quarter_type)`` — the
    natural key the reference's roadmap says upserts *should* use
    (SURVEY §7.3.2)."""
    from .parsers import extract_fiscal_year, extract_quarter_type

    def to_date(c: str) -> str:
        return f"coalesce(try_to_date({c}, 'yyyy/M/d'), try_to_date({c}, 'yyyy-M-d'))"

    period = F.col("fiscal_year_and_quarter")
    parsed = cov.select(
        "*",
        extract_fiscal_year(period).alias("fiscal_year"),
        extract_quarter_type(period).alias("quarter_type"),
        F.expr(f"{to_date('fiscal_year_end')} AS fiscal_year_end_d"),
        F.expr(f"{to_date('filing_date')} AS filing_date_d"),
    ).selectExpr(
        "*",
        # fiscal_year_end is NOT NULL in the warehouse (reference
        # sql/ddl.sql:171-203); an unparsable date would crash the
        # reference's insert — here it quarantines. A filing whose company
        # was rejected upstream has no company_id: it is quarantined too
        # rather than silently dropped (the reference's per-filing
        # transaction rolls BOTH inserts back together; set-oriented
        # conformance must keep that filing visible somewhere).
        """CASE
            WHEN fiscal_year_and_quarter IS NULL OR fiscal_year_and_quarter = ''
                THEN 'invalid fiscal_year_and_quarter'
            WHEN fiscal_year IS NULL THEN 'fiscal year extraction failed'
            WHEN quarter_type IS NULL THEN 'quarter extraction failed'
            WHEN fiscal_year_end IS NOT NULL AND fiscal_year_end_d IS NULL
                THEN 'invalid fiscal_year_end date'
            WHEN fiscal_year_end IS NULL THEN 'missing fiscal_year_end'
            WHEN company_id IS NULL THEN 'company rejected or missing'
        END AS _reason""",
    )
    rejects = parsed.filter("_reason IS NOT NULL").selectExpr(
        FILING_ID, "_reason AS reason"
    )
    reports = parsed.filter("_reason IS NULL").selectExpr(
        "xxhash64(company_id, fiscal_year, quarter_type) AS report_id",
        "company_id",
        "document_type",
        "fiscal_year",
        "quarter_type",
        "fiscal_year_end_d AS fiscal_year_end",
        "filing_date_d AS filing_date",
        "current_timestamp() AS created_at",
        "current_timestamp() AS updated_at",
        FILING_ID,
    )
    return reports, rejects


def conform_items(std: DataFrame) -> DataFrame:
    """Item master candidates: financial-statement rows, first occurrence
    per ``element_id``, consolidated-type → category
    (reference utils/data_mapper.py:154-210). The earliest-row ``min_by``
    per element is the deterministic form of ``drop_duplicates``
    (SURVEY §2A A1); NULL consolidated_type falls to Non-consolidated
    exactly like np.where on NaN (reference utils/data_mapper.py:186-190)."""
    return (
        std.filter(_IS_FINANCIAL)
        .groupBy("element_id")
        .agg(
            F.expr(
                "min_by(struct(item_name_jp, consolidated_type, unit_id),"
                f" {ROW_SEQ}) AS r"
            )
        )
        .selectExpr(
            "xxhash64(element_id) AS item_id",
            "element_id",
            "r.item_name_jp AS item_name",
            "CASE WHEN r.consolidated_type = '連結' THEN 'Consolidated'"
            " ELSE 'Non-consolidated' END AS category",
            "r.unit_id AS unit_type",
            "current_timestamp() AS created_at",
            "current_timestamp() AS updated_at",
        )
    )


def conform_facts(std: DataFrame, reports: DataFrame) -> DataFrame:
    """EAV fact rows (reference utils/data_mapper.py:286-332) — the
    set-oriented version of the reference's readability-over-vectorization
    row loop. Item ids are ``xxhash64(element_id)``, the key the item master
    mints for the same element (J4: the dict-lookup-per-row needs no join at
    all); report ids come from the per-filing report frame.

    The canonical ``value`` is DecimalType(20,0), mirroring numeric(20)
    (reference sql/ddl.sql:228); duration_type derives from the context id
    (reference utils/data_mapper.py:320-322; NULL context → Instant, where
    the reference would crash — documented divergence).

    ``_row_seq`` is the source row order, kept as lineage: the reference
    keeps facts in insertion order and its summary data_map is a dict built
    over that order (LAST row per element wins,
    reference utils/service/financial_service.py:127); queries reproduce
    that rule deterministically from this column.

    Each fact also carries three columns of its report, all functionally
    dependent on ``report_id`` and copied by the join that already supplies
    it: ``fiscal_year``, the column silver partitions facts by, and
    ``company_id`` and ``fiscal_year_end``, so the item time series is a
    filter on the facts with no reports join (``queries/summary.py``). A
    load that collapses several filings of one report onto one survivor
    re-copies ``company_id`` and ``fiscal_year_end`` from the report row it
    commits (``etl/pipeline.backfill_from_csvs``)."""
    return (
        std.filter(_IS_FINANCIAL)
        .join(
            reports.select(
                FILING_ID, "report_id", "company_id", "fiscal_year", "fiscal_year_end"
            ),
            FILING_ID,
        )
        .selectExpr(
            "xxhash64(report_id, xxhash64(element_id), context_id, period_type,"
            " consolidated_type) AS data_id",
            "report_id",
            "xxhash64(element_id) AS item_id",
            "context_id",
            "period_type",
            "consolidated_type",
            "CASE WHEN contains(context_id, 'Duration') THEN 'Duration'"
            " ELSE 'Instant' END AS duration_type",
            "CAST(value AS DECIMAL(20,0)) AS value",
            "value_text",
            "is_numeric",
            f"{ROW_SEQ} AS _row_seq",
            "current_timestamp() AS created_at",
            "company_id",
            "fiscal_year_end",
            "fiscal_year",
        )
    )


def conform_all_with_mappings(
    std: DataFrame,
    company_mapping: dict[str, str] | None = None,
    report_mapping: dict[str, str] | None = None,
    persist=None,
) -> dict[str, DataFrame]:
    """Bronze → the full 4-table bundle + quarantines, one DAG — the
    set-oriented ``map_data_to_models`` (reference
    utils/data_mapper.py:335-348) generalized to many filings.

    The XBRL mappings default to the reference config's
    (``XBRL_COMPANY_MAPPING`` / ``XBRL_REPORT_MAPPING``); the CLIs pass
    the ones ``etl/config_toml.py`` loads. One cover aggregate feeds both
    dims, and each filing's report takes its ``company_id`` from the same
    row: no join between the two. A key names one silver column, so the
    two mappings may not share one. ``persist``, when given, is applied to
    that per-filing cover frame before the dims, quarantines and facts
    read it (a load passes its materialization, so the aggregate runs
    once)."""
    if company_mapping is None:
        company_mapping = XBRL_COMPANY_MAPPING
    if report_mapping is None:
        report_mapping = XBRL_REPORT_MAPPING
    shared = set(company_mapping) & set(report_mapping)
    if shared:
        raise ValueError(f"company and report mappings share keys {sorted(shared)}")
    cov = _with_company_id(
        extract_cover_values(std, {**company_mapping, **report_mapping})
    )
    if persist is not None:
        cov = persist(cov)
    companies, company_rejects = _companies_from_cover(cov)
    reports, report_rejects = _reports_from_cover(cov)
    return {
        "companies": companies,
        "reports": reports.drop(FILING_ID),
        "items": conform_items(std),
        "facts": conform_facts(std, reports),
        "company_rejects": company_rejects,
        "report_rejects": report_rejects,
    }
