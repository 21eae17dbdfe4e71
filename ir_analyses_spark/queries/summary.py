"""Serving queries (SURVEY §3.1, M4): the reference's FinancialService
read surface.

The reference answers "show me company X's latest margins" with five
sequential ORM round-trips plus Python-side math (reference
utils/service/financial_service.py:90-165). Here the load maintains the
answer (``etl/pipeline.backfill_from_csvs``): every report row carries its
four resolved measures (``report_measures``), and every company row carries
its latest report's summary as one struct column, ``summary``
(``company_summary``). Serving a summary is then a filter on the company
dim, one row per company, instead of a per-request plan over the facts.
Frames without that gold (in-memory conform bundles) get the same columns
from the same two helpers, so synonym and latest-report resolution have one
rule.

``etl/pipeline.read_silver`` returns that dim as a driver-local snapshot
(bounded by the company count, ≤4,000 rows), so a summary request plans
as a ``LocalTableScan``: no Spark job, no file read, and a load that
commits meanwhile cannot break it. The snapshot answers as of its
``read_silver`` call; calling ``read_silver`` again is how a serving
process sees a later load.

``financial_summary`` plans that filter once per (snapshot, ``edinet_code``)
and returns the same frame for the same pair, so a repeat request only
collects a finished plan: no analysis, no optimisation, no Spark job. The
store keeps only codes the snapshot holds, plus ``None`` (every company):
at most the company count + 1 frames per live snapshot, released when the
snapshot frame is garbage-collected. The compute path (joins and
aggregates) is never kept: a finished plan with an exchange re-serves its
shuffle output when collected again, even after the files under it
changed.

The per-item time series (``item_time_series``) is a filter on the facts
alone: each fact carries its report's ``company_id`` and
``fiscal_year_end`` (``etl/conform.conform_facts``; a load copies them
from the report row it commits), so no request joins or broadcasts the
reports, and its few rows are sorted in one partition. Facts written
before those columns existed lack them; re-run the loads to rebuild them.

Null/zero semantics preserved from the reference (SURVEY §7.3.3):
- a margin exists only when both income and sales are non-NULL *and*
  non-zero (Python truthiness guard,
  reference utils/service/financial_service.py:150-159);
- the reference's million-yen rescale crashes on NULL measures
  (reference utils/service/financial_service.py:160-164, unguarded) — the
  engine propagates NULL instead; documented divergence.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, functions as F

from ..etl.conform import _sql_string

#: measure → ordered element_id synonym list
#: (reference utils/service/financial_service.py:54-75)
SUMMARY_ITEMS: dict[str, list[str]] = {
    "net_sales": [
        "jppfs_cor:NetSales",
        "jppfs_cor:OperatingRevenue1",
        "jppfs_cor:OperatingRevenueSEC",
        "jpigp_cor:RevenueIFRS",
    ],
    "operating_income": [
        "jppfs_cor:OperatingIncome",
        "jpigp_cor:OperatingProfitLossIFRS",
    ],
    "ordinary_income": [
        "jppfs_cor:OrdinaryIncome",
        "jpigp_cor:ProfitLossBeforeTaxIFRS",
    ],
    "net_income": [
        "jppfs_cor:ProfitLossAttributableToOwnersOfParent",
        "jppfs_cor:ProfitLoss",
        "jpigp_cor:ProfitLossAttributableToOwnersOfParentIFRS",
    ],
}

#: summary margin → the income measure it divides by net sales
_RATES = {
    "operation_profit_rate": "operating_income",
    "ordinary_profit_rate": "ordinary_income",
    "net_profit_rate": "net_income",
}


def _item_id(element_id: str) -> str:
    """SQL of the item id the item master mints for ``element_id``."""
    return f"xxhash64('{element_id}')"


def report_measures(facts: DataFrame) -> DataFrame:
    """``report_id`` plus one DOUBLE column per summary measure: one
    ``groupBy(report_id)`` over the facts of the 11 summary elements.

    Per element the LAST source row wins — the reference's ``data_map``
    dict comprehension over insertion-ordered facts (reference
    utils/service/financial_service.py:127), made partition-order invariant
    by ``max_by`` on the carried ``(_row_seq, value)`` (SURVEY §7.3.4: never
    first() after a shuffle). Each element resolves to a PRESENCE struct,
    NULL when the report lacks the element: the reference picks a synonym
    on key presence (reference utils/service/financial_service.py:77-88), so
    ``coalesce`` over the structs in declared synonym order lets a
    higher-priority element present with a NULL value win (and yield NULL)
    instead of falling through to a lower-priority synonym. A report with
    none of the elements has no row here."""
    def element(e: str) -> str:
        return (
            f"max_by(struct(v), CASE WHEN item_id = {_item_id(e)}"
            " THEN struct(_row_seq, v) END)"
        )

    ids = ", ".join(_item_id(e) for cands in SUMMARY_ITEMS.values() for e in cands)
    return (
        facts.selectExpr(
            "report_id", "item_id", "_row_seq", "CAST(value AS DOUBLE) AS v"
        )
        .filter(f"item_id IN ({ids})")
        .groupBy("report_id")
        .agg(
            *[
                F.expr(f"coalesce({', '.join(map(element, cands))}).v AS {m}")
                for m, cands in SUMMARY_ITEMS.items()
            ]
        )
    )


def company_summary(reports: DataFrame) -> DataFrame:
    """``company_id`` plus ``summary``, the FinancialSummaryDTO columns of
    the company's latest report as one struct
    (reference utils/service/financial_service.py:33-50,90-165).
    ``reports`` carries the ``report_measures`` columns.

    Latest-per-group (SURVEY §2A A4) with the total-order tiebreakers the
    reference lacks (SURVEY §7.3.4): ``max_by`` on (fiscal_year,
    fiscal_year_end, report_id). fiscal_year is the varchar the reference
    sorts lexically — safe for 4-digit years."""
    picked = ", ".join(["fiscal_year", "quarter_type", *SUMMARY_ITEMS])

    def truthy(c: str) -> str:
        # Python truthiness as a predicate: non-NULL and non-zero
        return f"({c} IS NOT NULL AND {c} != 0)"

    fields = [
        "'period_name', concat_ws(' ', r.fiscal_year, r.quarter_type)",
        "'fiscal_year', CAST(r.fiscal_year AS INT)",
        "'quarter_type', r.quarter_type",
        *[
            f"'{rate}', CASE WHEN {truthy('r.' + m)} AND {truthy('r.net_sales')}"
            f" THEN r.{m} / r.net_sales * 100D END"
            for rate, m in _RATES.items()
        ],
        # million-yen display scale, NULL-propagating (divergence: the
        # reference crashes on NULL here)
        *[f"'{m}', r.{m} / 1000000D" for m in SUMMARY_ITEMS],
    ]
    return (
        reports.groupBy("company_id")
        .agg(
            F.expr(
                f"max_by(struct({picked}),"
                " struct(fiscal_year, fiscal_year_end, report_id)) AS r"
            )
        )
        .selectExpr("company_id", f"named_struct({', '.join(fields)}) AS summary")
    )


#: companies frame → {edinet_code: its planned gold-path frame, or None
#: until first requested}; the keys are the frame's codes plus ``None``
#: (every company), learned once per frame. An entry goes with its frame.
_planned: weakref.WeakKeyDictionary[DataFrame, dict] = weakref.WeakKeyDictionary()
_planned_lock = threading.Lock()


def financial_summary(
    companies: DataFrame,
    reports: DataFrame,
    facts: DataFrame,
    items: DataFrame,
    edinet_code: str | None = None,
) -> DataFrame:
    """One summary row per company for its latest report: the
    FinancialSummaryDTO as a DataFrame
    (reference utils/service/financial_service.py:33-50,90-165).

    Silver companies carry the gold ``summary`` the load maintains, and the
    answer is one SQL-string filter and projection on them. Over the
    ``read_silver`` snapshot that plans as a ``LocalTableScan`` and runs no
    Spark job; it answers as of that ``read_silver`` call, and a fresh
    ``read_silver`` serves a later load.

    Such a frame is planned once per (``companies`` frame, ``edinet_code``)
    and returned again for the same pair, so a repeat request only collects
    a finished plan. Only codes the companies frame holds, and ``None``, are
    kept: at most the company count + 1 frames per ``companies`` frame
    (its codes are read once, with no Spark job over the snapshot), and
    they go when that frame is garbage-collected. Any other code is
    planned per request and not kept, so caller input cannot grow the
    store.

    Otherwise the same column comes from ``report_measures`` and
    ``company_summary`` over ``reports`` and ``facts`` (measures the
    reports already carry are recomputed). That frame is planned per
    request and never kept: it joins and aggregates, and a finished plan
    with an exchange re-serves its shuffle output when collected again,
    even after the files under it changed. ``items`` is not read — item
    ids are ``xxhash64(element_id)`` — and stays for the callers that pass
    it positionally."""
    with _planned_lock:
        frames = _planned.get(companies)
        kept = None if frames is None else frames.get(edinet_code)
    if kept is not None:
        return kept
    where = "summary IS NOT NULL"
    if edinet_code is not None:
        where += f" AND edinet_code = {_sql_string(edinet_code)}"
    gold = companies
    if "summary" not in companies.columns:
        measured = reports.drop(*SUMMARY_ITEMS).join(
            report_measures(facts), "report_id", "left"
        )
        gold = companies.join(company_summary(measured), "company_id")
    df = gold.filter(where).selectExpr("company_name", "summary.*", "edinet_code")
    if gold is not companies:
        return df
    if frames is None:
        codes = [r[0] for r in companies.select("edinet_code").collect()]
        with _planned_lock:
            frames = _planned.setdefault(companies, dict.fromkeys([None, *codes]))
    with _planned_lock:
        if edinet_code not in frames:
            return df
        if frames[edinet_code] is None:
            frames[edinet_code] = df
        return frames[edinet_code]


#: the chart's measures in the UI's dict-insertion order
#: (reference app/app.py:158-163): JP label → summary column
CHART_ITEMS: list[tuple[str, str]] = [
    ("売上高", "net_sales"),
    ("営業利益", "operating_income"),
    ("経常利益", "ordinary_income"),
    ("純利益", "net_income"),
]


def summary_chart_frame(summary: DataFrame) -> DataFrame:
    """The UI's 2-column chart frame (reference app/app.py:158-169): one
    ``(項目, 金額)`` row per measure, 金額 as double (the reference's
    ``.astype(float)``) in million yen — the DTO columns are already
    rescaled. A DataFrame has no row order, so the pandas dict-insertion
    order the chart relies on (SURVEY §2A O3) is carried as an explicit
    ``chart_order`` column; render with ``ORDER BY chart_order`` (the
    reference's Altair ``sort=None`` equivalent). Runs per company —
    ``edinet_code`` keys the frame, so serving every company's chart is
    one plan, not a loop."""
    entries = [
        F.struct(
            F.lit(i).cast("int").alias("chart_order"),
            F.lit(jp).alias("項目"),
            F.col(m).cast("double").alias("金額"),
        )
        for i, (jp, m) in enumerate(CHART_ITEMS)
    ]
    return summary.select(
        "edinet_code", F.explode(F.array(*entries)).alias("e")
    ).select("edinet_code", "e.chart_order", "e.項目", "e.金額")


def company_selection_list(companies: DataFrame) -> DataFrame:
    """The UI's two-column projection (P4,
    reference utils/repositories/company_repository.py:19-25)."""
    return companies.select("company_name", "edinet_code")


def item_time_series(
    facts: DataFrame,
    reports: DataFrame,
    company_id: int,
    item_id: int,
) -> DataFrame:
    """Per-company single-item time series ordered by period end (J2/O2,
    reference utils/repositories/financial_data_repository.py:37-49).

    Each fact carries its report's ``company_id`` and ``fiscal_year_end``
    (``etl/conform.conform_facts``), so the series is one filter on the
    facts, with no reports join. The few matching rows are sorted in one
    partition: a global ``orderBy`` would plan a range exchange, and a
    range exchange samples its input in a Spark job of its own. The scan
    itself stays parallel across the facts files. ``reports`` is not read
    and stays for the callers that pass it positionally.

    Over ``read_silver``'s facts, which read one pinned silver version, the
    frame answers as of that ``read_silver`` call, so a frame kept across
    a load serves the same rows before and after it; a fresh
    ``read_silver`` answers the load."""
    return (
        facts.filter(f"company_id = {int(company_id)} AND item_id = {int(item_id)}")
        .repartition(1)
        .sortWithinPartitions("fiscal_year_end")
        .select("fiscal_year_end", "value", "value_text", "is_numeric")
    )
