"""Driver-visible IR flagship query: the reference's whole pipeline —
standardize → conform 4 tables → financial summary — run end-to-end on a
deterministic in-memory two-filing fixture (the shape of
reference documents/test.csv), producing one summary DTO row.

Because every input value is a literal, the expected DTO row is known
exactly, so the DuckDB oracle is a literal SELECT computing the same margin
arithmetic in double precision — both engines do IEEE round-to-nearest per
op, hence bit-equal results. This puts the M1–M4 reference-parity path
(reference utils/data_mapper.py + utils/service/financial_service.py:90-165)
under the driver's hash-comparison gate, not just pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..etl import conform, standardize
from ..ops.helpers import local_df
from ..schemas import RAW_FILING_SCHEMA
from . import summary as summary_q


def _cover(period_str: str, end_date: str) -> list[tuple]:
    # (element_id, item_name, context, rel, cons, period, unit, unit_name, value)
    meta = ("FilingDateInstant", "提出日時点", "その他", "時点", "－", "－")
    return [
        ("jpcrp_cor:DocumentTitleCoverPage", "提出書類、表紙", *meta, "四半期報告書"),
        ("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", "四半期会計期間、表紙", *meta, period_str),
        ("jpcrp_cor:CompanyNameCoverPage", "会社名、表紙", *meta, "テスト株式会社"),
        ("jpdei_cor:EDINETCodeDEI", "EDINETコード、DEI", *meta, "E99999"),
        ("jpdei_cor:CurrentPeriodEndDateDEI", "当会計期間終了日、DEI", *meta, end_date),
    ]


def _measures(sales_element: str, sales: str, op: str, ordi: str, net: str):
    dur = ("CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "JPY", "円")
    return [
        (sales_element, "売上高", *dur, sales),
        ("jppfs_cor:OperatingIncome", "営業利益", *dur, op),
        ("jppfs_cor:OrdinaryIncome", "経常利益", *dur, ordi),
        ("jppfs_cor:ProfitLoss", "当期純利益", *dur, net),
    ]


def ir_summary_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two quarterly filings of one company (Q2 books sales under the
    2nd-priority synonym OperatingRevenue1; Q3 has zero operating income) →
    summary of the latest report. ``sf_dir`` is unused: the fixture is the
    reference's own input shape, not a TESTDATA table."""
    f1 = _cover("第10期 第２四半期(自 2023年4月1日 至 2023年6月30日)", "2023/6/30") + _measures(
        "jppfs_cor:OperatingRevenue1", "500000000", "50000000", "40000000", "30000000"
    )
    f2 = _cover("第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)", "2023/9/30") + _measures(
        "jppfs_cor:NetSales", "1000000000", "0", "80000000", "60000000"
    )
    raw = (
        local_df(spark, f1, RAW_FILING_SCHEMA).withColumn("filing_id", F.lit("F1"))
        .unionByName(
            local_df(spark, f2, RAW_FILING_SCHEMA).withColumn("filing_id", F.lit("F2"))
        )
    )
    std = standardize.standardize_raw(raw, filing_id_col="filing_id")
    bundle = conform.conform_all_with_mappings(std)
    companies = bundle["companies"].dropDuplicates(["company_id"])
    return summary_q.financial_summary(
        companies, bundle["reports"], bundle["facts"], bundle["items"]
    )


def summary_chart_frame_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship summary reshaped into the UI's 2-column chart frame
    (reference app/app.py:158-169) — the last read-surface corner of the
    reference: (項目, 金額) rows in dict-insertion order, carried as
    ``chart_order`` (O3)."""
    return summary_q.summary_chart_frame(ir_summary_pipeline(spark, sf_dir))


QUERIES = {
    "ir_summary_pipeline": ir_summary_pipeline,
    "summary_chart_frame": summary_chart_frame_demo,
}

ORACLES = {
    # literal expected DTO; margins computed with the same double arithmetic
    "ir_summary_pipeline": """
        SELECT
            'テスト株式会社'                     AS company_name,
            '2023 Q3'                            AS period_name,
            CAST(2023 AS INTEGER)                AS fiscal_year,
            'Q3'                                 AS quarter_type,
            CAST(NULL AS DOUBLE)                 AS operation_profit_rate,
            (CAST(80000000 AS DOUBLE) / CAST(1000000000 AS DOUBLE)) * 100 AS ordinary_profit_rate,
            (CAST(60000000 AS DOUBLE) / CAST(1000000000 AS DOUBLE)) * 100 AS net_profit_rate,
            CAST(1000000000 AS DOUBLE) / 1000000 AS net_sales,
            CAST(0 AS DOUBLE) / 1000000          AS operating_income,
            CAST(80000000 AS DOUBLE) / 1000000   AS ordinary_income,
            CAST(60000000 AS DOUBLE) / 1000000   AS net_income,
            'E99999'                             AS edinet_code
    """,
    # literal expected chart frame: the DTO's four measures in million yen,
    # labeled and ordered exactly as the UI's dict (reference app/app.py:158)
    "summary_chart_frame": """
        SELECT 'E99999' AS edinet_code,
               CAST(t.chart_order AS INTEGER) AS chart_order,
               t."項目", CAST(t."金額" AS DOUBLE) AS "金額"
        FROM (VALUES
          (0, '売上高',   1000.0),
          (1, '営業利益', 0.0),
          (2, '経常利益', 80.0),
          (3, '純利益',   60.0)
        ) AS t(chart_order, "項目", "金額")
    """,
}
