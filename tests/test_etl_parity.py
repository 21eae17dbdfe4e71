"""Reference-parity tests for the IR ETL pipeline (SURVEY §5 tiers a+b).

Mirrors the reference's own test corpus value-for-value:
- the numeric/text split with the ``－`` placeholder
  (reference tests/test_data_mapper.py:8-61);
- fiscal-year / quarter parser examples incl. wareki 元年 and kanji digits
  (reference utils/parser.py docstrings, tests/test_mapping.py:142-211);
- the golden cover-page expectations of documents/test.csv
  (reference tests/test_mapping.py:102-139: E03562 / 四半期報告書 /
  FY2023 Q3 / 2023-12-31 / 2024-02-09);
- consolidated-type → category incl. NULL
  (reference tests/test_mapping.py:259-281);
- end-to-end: raw frame → 4 conformed tables → financial summary with
  candidate-priority coalesce and guarded margins
  (reference utils/service/financial_service.py:54-165).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.etl import conform, standardize
from ir_analyses_spark.etl.parsers import extract_fiscal_year, extract_quarter_type
from ir_analyses_spark.io import txn
from ir_analyses_spark.queries import summary as summary_q
from ir_analyses_spark.schemas import RAW_FILING_SCHEMA, RAW_JP_COLUMNS


def raw_df(spark, rows, filing="F1"):
    """Build a raw 9-column JP frame (+ constant filing id)."""
    df = spark.createDataFrame(
        [tuple(r) for r in rows], schema=RAW_FILING_SCHEMA
    ).withColumn("filing_id", F.lit(filing))
    return df


def row(element_id, item_name="項目", context="CurrentYTDDuration",
        rel="当四半期累計期間", cons="連結", period="期間", unit="JPY",
        unit_name="円", value="0"):
    return (element_id, item_name, context, rel, cons, period, unit, unit_name, value)


# ---------------------------------------------------------------------------
# standardize: the ``値`` split (reference utils/data_mapper.py:38-49)
# ---------------------------------------------------------------------------

def test_standardize_value_split(spark):
    rows = [
        row("jppfs_cor:A", value="100"),
        row("jppfs_cor:B", value="－"),
        row("jppfs_cor:C", value="200.5"),
        row("jppfs_cor:D", value="テキスト値"),
    ]
    std = standardize.standardize_raw(raw_df(spark, rows), filing_id_col="filing_id")
    got = {r["element_id"]: r for r in std.collect()}

    assert got["jppfs_cor:A"]["value"] == 100.0
    assert got["jppfs_cor:A"]["is_numeric"] is True
    assert got["jppfs_cor:A"]["value_text"] is None

    # ｰ placeholder: stripped to '', fails the cast, text keeps ''
    assert got["jppfs_cor:B"]["value"] is None
    assert got["jppfs_cor:B"]["is_numeric"] is False
    assert got["jppfs_cor:B"]["value_text"] == ""

    assert got["jppfs_cor:C"]["value"] == 200.5
    assert got["jppfs_cor:D"]["is_numeric"] is False
    assert got["jppfs_cor:D"]["value_text"] == "テキスト値"

    # renamed columns all present, original_value dropped
    assert "original_value" not in std.columns
    for c in ["element_id", "item_name_jp", "context_id", "consolidated_type",
              "period_type", "unit_id", "unit_name"]:
        assert c in std.columns


# ---------------------------------------------------------------------------
# parsers C6–C9 (reference utils/parser.py)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "content,expected",
    [
        # Gregorian range (reference utils/parser.py:20-22 example)
        ("第121期 第３四半期(自  2023年10月１日  至  2023年12月31日)", "2023"),
        # wareki range: 令和６ → 2019+6-1 = 2024 (reference example :23-25)
        ("第52期第１四半期(自  令和５年10月21日  至  令和６年１月20日)", "2024"),
        # 元年 → year 1 → 2019 (reference utils/parser.py:60-66)
        ("(自 令和元年4月1日 至 令和元年6月30日)", "2019"),
        # bare year within guard
        ("2023年3月期", "2023"),
        # bare year outside 1990–2100 → NULL
        ("第1850期", None),
        ("なし", None),
    ],
)
def test_extract_fiscal_year(spark, content, expected):
    got = (
        spark.createDataFrame([(content,)], "s string")
        .select(extract_fiscal_year(F.col("s")).alias("y"))
        .first()["y"]
    )
    assert got == expected


@pytest.mark.parametrize(
    "content,expected",
    [
        ("第121期 第３四半期(自  2023年10月１日  至  2023年12月31日)", "Q3"),
        ("第52期第１四半期(...)", "Q1"),
        ("第一四半期", "Q1"),
        ("第四四半期", "Q4"),
        ("第 2 四半期", "Q2"),
        ("第４四半期", "Q4"),
        ("第0四半期", None),   # range guard (reference utils/parser.py:88-94)
        ("通期", None),
    ],
)
def test_extract_quarter(spark, content, expected):
    got = (
        spark.createDataFrame([(content,)], "s string")
        .select(extract_quarter_type(F.col("s")).alias("q"))
        .first()["q"]
    )
    assert got == expected


# ---------------------------------------------------------------------------
# golden cover-page mapping (reference tests/test_mapping.py:102-139)
# ---------------------------------------------------------------------------

COVER_ROWS = [
    row("jpdei_cor:NumberOfSubmissionDEI", context="FilingDateInstant",
        cons="その他", period="時点", unit="pure", unit_name="", value="1"),
    row("jpcrp_cor:DocumentTitleCoverPage", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－", value="四半期報告書"),
    row("jpcrp_cor:FilingDateCoverPage", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－", value="2024/2/9"),
    row("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－",
        value="第121期 第３四半期(自  2023年10月１日  至  2023年12月31日)"),
    row("jpcrp_cor:CompanyNameCoverPage", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－",
        value="株式会社　山梨中央銀行"),
    row("jpdei_cor:EDINETCodeDEI", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－", value="E03562"),
    # numeric security code exercises the str(int(v)) edge rule (C12)
    row("jpdei_cor:SecurityCodeDEI", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－", value="83600"),
    row("jpdei_cor:CurrentPeriodEndDateDEI", context="FilingDateInstant",
        cons="その他", period="時点", unit="－", unit_name="－", value="2023/12/31"),
]


def _std(spark, rows, filing="F1"):
    return standardize.standardize_raw(
        raw_df(spark, rows, filing), filing_id_col="filing_id"
    )


def test_company_mapping_golden(spark):
    std = _std(spark, COVER_ROWS)
    bundle = conform.conform_all_with_mappings(std)
    assert bundle["company_rejects"].count() == 0
    c = bundle["companies"].first()
    assert c["edinet_code"] == "E03562"
    assert c["company_name"] == "株式会社　山梨中央銀行"
    assert c["security_code"] == "83600"   # numeric → str(int(v))
    assert c["industry_code"] is None      # absent element → NULL
    assert c["company_id"] is not None


def test_company_mapping_missing_required(spark):
    rows = [r for r in COVER_ROWS if "EDINETCode" not in r[0]]
    bundle = conform.conform_all_with_mappings(_std(spark, rows))
    assert bundle["companies"].count() == 0
    rej = bundle["company_rejects"].first()
    assert "edinet_code" in rej["reason"]


def test_company_mapping_elementless_filing_quarantined(spark):
    """A filing with ZERO rows matching any cover element must surface in
    the rejects (the reference raises ValueError for it) — not silently
    vanish from both tables and quarantine."""
    rows = [row("jppfs_cor:NetSales", value="100")]  # no cover elements
    bundle = conform.conform_all_with_mappings(_std(spark, rows))
    assert bundle["companies"].count() == 0
    rej = bundle["company_rejects"].first()
    assert rej is not None and "required keys missing" in rej["reason"]


def test_report_of_rejected_company_quarantined(spark):
    """A filing rejected at the company stage must land a report_rejects
    row instead of being dropped by the inner join to companies."""
    rows = [r for r in COVER_ROWS if "EDINETCode" not in r[0]]
    bundle = conform.conform_all_with_mappings(_std(spark, rows))
    assert bundle["company_rejects"].count() == 1
    assert bundle["reports"].count() == 0
    reasons = [r["reason"] for r in bundle["report_rejects"].collect()]
    assert any("company rejected" in r for r in reasons)


def test_conform_all_elementless_filing_in_both_quarantines(spark):
    """End-to-end: a filing with no cover elements — mixed
    into a batch with one healthy filing — must appear in BOTH
    company_rejects and report_rejects and in NEITHER dim table, while its
    batch-mates conform normally (the reference's per-filing transaction
    raises and rolls back just that filing,
    reference utils/data_mapper.py:142-151)."""
    import pyspark.sql.functions as SF

    good = raw_df(spark, COVER_ROWS, "GOOD")
    bad = raw_df(spark, [row("jppfs_cor:NetSales", value="100")], "BAD")
    std = standardize.standardize_raw(
        good.unionByName(bad), filing_id_col="filing_id"
    )
    out = conform.conform_all_with_mappings(std)
    assert out["companies"].count() == 1  # only GOOD
    assert out["reports"].count() == 1
    crej = out["company_rejects"].filter(SF.col("filing_id") == "BAD")
    rrej = out["report_rejects"].filter(SF.col("filing_id") == "BAD")
    assert crej.count() == 1 and "required keys missing" in crej.first()["reason"]
    assert rrej.count() == 1
    # GOOD must not be quarantined anywhere
    assert out["company_rejects"].count() == 1
    assert out["report_rejects"].count() == 1


def test_report_mapping_golden(spark):
    bundle = conform.conform_all_with_mappings(_std(spark, COVER_ROWS))
    assert bundle["report_rejects"].count() == 0
    r = bundle["reports"].first()
    assert r["document_type"] == "四半期報告書"
    assert r["fiscal_year"] == "2023"
    assert r["quarter_type"] == "Q3"
    assert r["fiscal_year_end"] == datetime.date(2023, 12, 31)
    assert r["filing_date"] == datetime.date(2024, 2, 9)


def test_report_mapping_invalid_date_quarantined(spark):
    rows = [
        r if r[0] != "jpdei_cor:CurrentPeriodEndDateDEI"
        else row(r[0], context="FilingDateInstant", cons="その他", period="時点",
                 unit="－", unit_name="－", value="2023/6/31")  # June 31st
        for r in COVER_ROWS
    ]
    bundle = conform.conform_all_with_mappings(_std(spark, rows))
    assert bundle["reports"].count() == 0
    assert "invalid fiscal_year_end" in bundle["report_rejects"].first()["reason"]


def test_report_mapping_unparsable_period(spark):
    rows = [
        r if r[0] != "jpcrp_cor:QuarterlyAccountingPeriodCoverPage"
        else row(r[0], context="FilingDateInstant", cons="その他", period="時点",
                 unit="－", unit_name="－", value="意味のない文字列")
        for r in COVER_ROWS
    ]
    bundle = conform.conform_all_with_mappings(_std(spark, rows))
    assert bundle["reports"].count() == 0
    assert "extraction failed" in bundle["report_rejects"].first()["reason"]


# ---------------------------------------------------------------------------
# item + fact mapping (reference utils/data_mapper.py:154-210,286-332)
# ---------------------------------------------------------------------------

def test_item_mapping_filter_dedup_category(spark):
    rows = COVER_ROWS + [
        row("jppfs_cor:Assets", item_name="資産", context="CurrentQuarterInstant",
            cons="連結", period="時点", value="1000"),
        # duplicate element: first occurrence wins
        row("jppfs_cor:Assets", item_name="資産(重複)", context="Prior1QuarterInstant",
            cons="連結", period="時点", value="900"),
        row("jpigp_cor:RevenueIFRS", item_name="売上収益", cons=None, value="500"),
    ]
    items = conform.conform_items(_std(spark, rows))
    got = {r["element_id"]: r for r in items.collect()}
    # cover-page (jpdei/jpcrp) rows are filtered out
    assert set(got) == {"jppfs_cor:Assets", "jpigp_cor:RevenueIFRS"}
    assert got["jppfs_cor:Assets"]["item_name"] == "資産"
    assert got["jppfs_cor:Assets"]["category"] == "Consolidated"
    assert got["jppfs_cor:Assets"]["unit_type"] == "JPY"
    # NULL consolidated_type → else-branch, like np.where on NaN
    assert got["jpigp_cor:RevenueIFRS"]["category"] == "Non-consolidated"


def test_fact_mapping_duration_and_nulls(spark):
    rows = COVER_ROWS + [
        row("jppfs_cor:NetSales", value="1000", context="CurrentYTDDuration"),
        row("jppfs_cor:Assets", value="－", context="CurrentQuarterInstant",
            period="時点"),
    ]
    facts = conform.conform_all_with_mappings(_std(spark, rows))["facts"]
    got = {r["context_id"]: r for r in facts.collect()}
    ns = got["CurrentYTDDuration"]
    assert ns["duration_type"] == "Duration"
    assert int(ns["value"]) == 1000
    assert ns["is_numeric"] is True
    a = got["CurrentQuarterInstant"]
    assert a["duration_type"] == "Instant"
    assert a["value"] is None
    assert a["value_text"] == ""
    assert a["is_numeric"] is False


# ---------------------------------------------------------------------------
# end-to-end: two filings → 4 tables → financial summary
# (reference utils/service/financial_service.py:90-165)
# ---------------------------------------------------------------------------

def _filing(q, period, sales, op_inc, ord_inc, net_inc, sales_element):
    rows = [
        row("jpcrp_cor:DocumentTitleCoverPage", context="FilingDateInstant",
            cons="その他", period="時点", unit="－", unit_name="－",
            value="四半期報告書"),
        row("jpcrp_cor:QuarterlyAccountingPeriodCoverPage",
            context="FilingDateInstant", cons="その他", period="時点",
            unit="－", unit_name="－", value=period),
        row("jpcrp_cor:CompanyNameCoverPage", context="FilingDateInstant",
            cons="その他", period="時点", unit="－", unit_name="－",
            value="テスト株式会社"),
        row("jpdei_cor:EDINETCodeDEI", context="FilingDateInstant",
            cons="その他", period="時点", unit="－", unit_name="－",
            value="E99999"),
        row("jpdei_cor:CurrentPeriodEndDateDEI", context="FilingDateInstant",
            cons="その他", period="時点", unit="－", unit_name="－",
            value=f"2023/{3 * int(q)}/28"),
        row(sales_element, value=sales),
        row("jppfs_cor:OperatingIncome", value=op_inc),
        row("jppfs_cor:OrdinaryIncome", value=ord_inc),
        row("jppfs_cor:ProfitLoss", value=net_inc),
    ]
    return rows


def test_financial_summary_end_to_end(spark):
    # Q2 uses the priority-2 sales synonym; zero operating income in Q3
    # must yield a NULL margin (truthiness guard)
    f1 = raw_df(spark, _filing("2", "第10期 第２四半期(自 2023年4月1日 至 2023年6月30日)",
                               "500000000", "50000000", "40000000", "30000000",
                               "jppfs_cor:OperatingRevenue1"), filing="F1")
    f2 = raw_df(spark, _filing("3", "第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)",
                               "1000000000", "0", "80000000", "60000000",
                               "jppfs_cor:NetSales"), filing="F2")
    std = standardize.standardize_raw(
        f1.unionByName(f2), filing_id_col="filing_id"
    )
    bundle = conform.conform_all_with_mappings(std)
    assert bundle["company_rejects"].count() == 0
    assert bundle["report_rejects"].count() == 0
    # one company (same edinet code in both filings, deduped by key);
    # two reports; facts linked
    companies = bundle["companies"].dropDuplicates(["company_id"])
    assert companies.count() == 1
    assert bundle["reports"].count() == 2

    dto = summary_q.financial_summary(
        companies, bundle["reports"], bundle["facts"], bundle["items"]
    ).first()
    # latest = Q3 (fiscal_year tie, fiscal_year_end tiebreak)
    assert dto["quarter_type"] == "Q3"
    assert dto["period_name"] == "2023 Q3"
    assert dto["fiscal_year"] == 2023
    # million-yen rescale
    assert dto["net_sales"] == 1000.0
    assert dto["operating_income"] == 0.0
    # truthiness guard: zero income → NULL rate
    assert dto["operation_profit_rate"] is None
    assert dto["ordinary_profit_rate"] == pytest.approx(8.0)
    assert dto["net_profit_rate"] == pytest.approx(6.0)


def test_summary_chart_frame_golden(spark):
    """The UI chart frame (reference app/app.py:158-169): 2 columns
    (項目, 金額) + carried insertion order, values in million yen,
    NULL-measure rows preserved (the chart shows a gap, not a dropped
    bar)."""
    f2 = raw_df(spark, _filing("3", "第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)",
                               "1000000000", "0", "80000000", "60000000",
                               "jppfs_cor:NetSales"), filing="F2")
    std = standardize.standardize_raw(f2, filing_id_col="filing_id")
    bundle = conform.conform_all_with_mappings(std)
    dto = summary_q.financial_summary(
        bundle["companies"], bundle["reports"], bundle["facts"], bundle["items"]
    )
    rows = (
        summary_q.summary_chart_frame(dto)
        .orderBy("chart_order")
        .collect()
    )
    assert [(r["項目"], r["金額"]) for r in rows] == [
        ("売上高", 1000.0),
        ("営業利益", 0.0),
        ("経常利益", 80.0),
        ("純利益", 60.0),
    ]
    assert [r["chart_order"] for r in rows] == [0, 1, 2, 3]


def test_summary_priority_coalesce(spark):
    # only the Q2 filing: sales come from the 2nd-priority synonym
    f1 = raw_df(spark, _filing("2", "第10期 第２四半期(自 2023年4月1日 至 2023年6月30日)",
                               "500000000", "50000000", "40000000", "30000000",
                               "jppfs_cor:OperatingRevenue1"), filing="F1")
    std = standardize.standardize_raw(f1, filing_id_col="filing_id")
    bundle = conform.conform_all_with_mappings(std)
    dto = summary_q.financial_summary(
        bundle["companies"], bundle["reports"], bundle["facts"], bundle["items"]
    ).first()
    assert dto["net_sales"] == 500.0
    assert dto["operation_profit_rate"] == pytest.approx(10.0)


def test_summary_priority_present_null_blocks_fallback(spark):
    """Reference parity (reference utils/service/financial_service.py:77-88):
    synonym resolution is on KEY PRESENCE — a higher-priority element
    present with a non-numeric (NULL) value wins and yields NULL, it does
    NOT fall through to a lower-priority synonym."""
    rows = _filing("2", "第10期 第２四半期(自 2023年4月1日 至 2023年6月30日)",
                   "－",  # NetSales present but non-numeric → NULL value
                   "50000000", "40000000", "30000000",
                   "jppfs_cor:NetSales")
    rows.append(row("jppfs_cor:OperatingRevenue1", value="999999"))
    std = standardize.standardize_raw(raw_df(spark, rows), filing_id_col="filing_id")
    bundle = conform.conform_all_with_mappings(std)
    dto = summary_q.financial_summary(
        bundle["companies"], bundle["reports"], bundle["facts"], bundle["items"]
    ).first()
    # NetSales (priority 1) is present-with-NULL → net_sales must be NULL,
    # not the 999999 booked under the lower-priority synonym
    assert dto["net_sales"] is None
    assert dto["operation_profit_rate"] is None


def test_backfill_integration(spark, tmp_path):
    """Full M3 path on disk: mixed-encoding CSV files → one scan →
    standardize → conform → partitioned silver txn tables → summary query —
    the set-oriented twin of the reference's bypass_import_csv.py loop,
    plus idempotency: a second identical backfill converges to the same
    tables (the reference's duplicate-load hazard, solved by keys)."""
    from ir_analyses_spark.etl import pipeline
    from ir_analyses_spark.schemas import RAW_JP_COLUMNS

    header = "\t".join(RAW_JP_COLUMNS)

    def write_filing(name, rows, enc):
        lines = [header] + ["\t".join("" if v is None else str(v) for v in r) for r in rows]
        (tmp_path / name).write_bytes(("\n".join(lines) + "\n").encode(enc))

    write_filing(
        "f1.csv",
        _filing("2", "第10期 第2四半期(自 2023年4月1日 至 2023年6月30日)",
                "500000000", "50000000", "40000000", "30000000",
                "jppfs_cor:OperatingRevenue1"),
        "utf-8",
    )
    write_filing(
        "f2.csv",
        _filing("3", "第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)",
                "1000000000", "0", "80000000", "60000000",
                "jppfs_cor:NetSales"),
        "cp932",
    )

    out = str(tmp_path / "silver")
    for _ in range(2):  # run twice: idempotency
        pipeline.backfill_from_csvs(spark, str(tmp_path / "*.csv"), out)

    t = pipeline.read_silver(spark, out)
    assert t["companies"].count() == 1
    assert t["reports"].count() == 2
    assert t["facts"].count() == 8  # 4 measures × 2 filings, no dup rows
    # facts partitioned by fiscal_year: each file records its year
    facts = txn.snapshot(str(tmp_path / "silver" / "financial_data"))
    assert facts.partition_by == "fiscal_year"
    assert {f["partition"]["fiscal_year"] for f in facts.files} == {"2023"}

    dto = summary_q.financial_summary(
        t["companies"], t["reports"], t["facts"], t["items"]
    ).first()
    assert dto["period_name"] == "2023 Q3"
    assert dto["net_sales"] == 1000.0
    assert dto["operation_profit_rate"] is None


def test_missing_required_column_raises(spark):
    """The reference raises KeyError when a required column is absent
    (reference tests/test_mapping.py:284-290); the engine's analysis-time
    equivalent is an AnalysisException naming the missing column."""
    from pyspark.errors import AnalysisException

    std = _std(spark, COVER_ROWS).drop("consolidated_type")
    with pytest.raises(AnalysisException, match="consolidated_type"):
        conform.conform_items(std).collect()


def test_item_time_series(spark):
    """J2/O2: per-company single-item series ordered by period end."""
    f1 = raw_df(spark, _filing("2", "第10期 第２四半期(自 2023年4月1日 至 2023年6月30日)",
                               "500000000", "50000000", "40000000", "30000000",
                               "jppfs_cor:NetSales"), filing="F1")
    f2 = raw_df(spark, _filing("3", "第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)",
                               "1000000000", "0", "80000000", "60000000",
                               "jppfs_cor:NetSales"), filing="F2")
    std = standardize.standardize_raw(f1.unionByName(f2), filing_id_col="filing_id")
    bundle = conform.conform_all_with_mappings(std)
    company_id = bundle["companies"].first()["company_id"]
    item_id = (
        bundle["items"].filter(F.col("element_id") == "jppfs_cor:NetSales")
        .first()["item_id"]
    )
    series = summary_q.item_time_series(
        bundle["facts"], bundle["reports"], company_id, item_id
    ).collect()
    assert [float(r["value"]) for r in series] == [500000000.0, 1000000000.0]
    assert series[0]["fiscal_year_end"] < series[1]["fiscal_year_end"]


def test_company_selection_list(spark):
    companies = conform.conform_all_with_mappings(_std(spark, COVER_ROWS))["companies"]
    got = summary_q.company_selection_list(companies).first()
    assert got["company_name"] == "株式会社　山梨中央銀行"
    assert got["edinet_code"] == "E03562"
