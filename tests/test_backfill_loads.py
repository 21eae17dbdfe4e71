"""Load sequences through ``pipeline.backfill_from_csvs``: each report's facts
are replaced as a unit, so later loads into the same fiscal year — the next
quarter, or another company's filing on a daily ingest — keep the facts
already in silver, a reloaded report keeps none of its old facts, and
re-running a load changes nothing. Frames ``read_silver`` returned before a
load must keep serving after it.

Each filing is a small UTF-8 EDINET CSV export: cover rows plus
``N_MEASURES`` fact rows.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from ir_analyses_spark.etl import pipeline
from ir_analyses_spark.queries.summary import financial_summary, item_time_series
from ir_analyses_spark.schemas import RAW_JP_COLUMNS

N_MEASURES = 3


def _write_filing(path, edinet_code, quarter, n_measures=N_MEASURES):
    """One quarterly filing of fiscal year 2023 (April to March) with
    ``n_measures`` fact rows; without an ``edinet_code`` the filing has no
    EDINET code row."""
    start_month = 3 * quarter + 1
    period = (f"第10期 第{quarter}四半期(自 2023年{start_month}月1日 "
              f"至 2023年{start_month + 2}月30日)")

    def cover(element, value):
        return (element, "項目", "FilingDateInstant", "提出日時点", "その他",
                "時点", "－", "－", value)

    rows = [
        cover("jpcrp_cor:DocumentTitleCoverPage", "四半期報告書"),
        cover("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", period),
        cover("jpcrp_cor:CompanyNameCoverPage", f"会社{edinet_code}"),
        cover("jpdei_cor:CurrentPeriodEndDateDEI",
              f"2023/{start_month + 2}/30"),
    ]
    if edinet_code:
        rows.append(cover("jpdei_cor:EDINETCodeDEI", edinet_code))
    rows += [
        (f"jppfs_cor:Measure{i}", "項目", "CurrentYTDDuration",
         "当四半期累計期間", "連結", "期間", "JPY", "円",
         str(1000 * quarter + i))
        for i in range(n_measures)
    ]
    lines = ["\t".join(RAW_JP_COLUMNS)] + ["\t".join(r) for r in rows]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


def _load(spark, tmp_path, batch, filings):
    """Load ``(edinet_code, quarter[, n_measures])`` filings as one batch."""
    for edinet_code, quarter, *n in filings:
        _write_filing(tmp_path / batch / f"{edinet_code}_q{quarter}.csv",
                      edinet_code, quarter, *n)
    return pipeline.backfill_from_csvs(
        spark, str(tmp_path / batch / "*.csv"), str(tmp_path / "silver"))


def _counts(spark, tmp_path):
    silver = pipeline.read_silver(spark, str(tmp_path / "silver"))
    return {name: df.count() for name, df in silver.items()}


def _facts_per_report(spark, tmp_path):
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    rows = (t["facts"].join(t["reports"], "report_id")
            .join(t["companies"], "company_id")
            .groupBy("edinet_code", "quarter_type").count().collect())
    return {(r["edinet_code"], r["quarter_type"]): r["count"] for r in rows}


def test_later_quarter_of_same_year_keeps_earlier_facts(spark, tmp_path):
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    _load(spark, tmp_path, "q2", [("E00001", 2)])
    assert _facts_per_report(spark, tmp_path) == {
        ("E00001", "Q1"): N_MEASURES, ("E00001", "Q2"): N_MEASURES}


def test_per_company_loads_keep_other_companies_facts(spark, tmp_path):
    """Ingest-style: each run loads one company's filing of the same year."""
    _load(spark, tmp_path, "day1", [("E00001", 1)])
    _load(spark, tmp_path, "day2", [("E00002", 1)])
    assert _facts_per_report(spark, tmp_path) == {
        ("E00001", "Q1"): N_MEASURES, ("E00002", "Q1"): N_MEASURES}


def test_rerun_of_last_load_changes_no_count(spark, tmp_path):
    """Returns both quarantine counts (a filing without an EDINET code is
    rejected at both dims), releases what the load materialized, and a
    re-run of the last load converges."""
    _load(spark, tmp_path, "q1", [("E00001", 1), ("E00002", 1)])
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    rejects = _load(spark, tmp_path, "q2", [("E00001", 2), (None, 2)])
    assert rejects == {"company_rejects": 1, "report_rejects": 1}
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    counts = _counts(spark, tmp_path)
    assert counts == {"companies": 2, "items": N_MEASURES, "reports": 3,
                      "facts": 3 * N_MEASURES}
    _load(spark, tmp_path, "q2", [])
    assert _counts(spark, tmp_path) == counts


def test_reloaded_report_keeps_none_of_its_old_facts(spark, tmp_path):
    """A report reloaded from a filing with fewer financial rows, or none,
    loses the rows it no longer has, also when that leaves its fiscal_year
    partition, or the whole table, without a row."""
    _load(spark, tmp_path, "q1q2", [("E00001", 1), ("E00001", 2)])
    _load(spark, tmp_path, "amend_q1", [("E00001", 1, 1)])
    assert _facts_per_report(spark, tmp_path) == {
        ("E00001", "Q1"): 1, ("E00001", "Q2"): N_MEASURES}
    _load(spark, tmp_path, "empty_q1_q2", [("E00001", 1, 0), ("E00001", 2, 0)])
    assert _facts_per_report(spark, tmp_path) == {}
    assert _counts(spark, tmp_path)["reports"] == 2


def test_summary_frame_read_before_a_load_still_serves_after_it(spark, tmp_path):
    """A serving process reads silver once and answers from those frames;
    a load that commits in between must not break them. The frames answer
    as of their ``read_silver`` call, through the same planned frame before
    and after the load, and a new call answers the load through a frame of
    its own."""
    silver = str(tmp_path / "silver")
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    t = pipeline.read_silver(spark, silver)

    def served(tables):
        df = financial_summary(
            tables["companies"], tables["reports"], tables["facts"],
            tables["items"], edinet_code="E00001",
        )
        return df, [r["quarter_type"] for r in df.collect()]

    before, quarters = served(t)
    assert quarters == ["Q1"]
    _load(spark, tmp_path, "q2", [("E00001", 2)])
    after, quarters = served(t)
    assert quarters == ["Q1"]
    assert after is before
    fresh, quarters = served(pipeline.read_silver(spark, silver))
    assert quarters == ["Q2"]
    assert fresh is not before


@pytest.mark.xfail(
    strict=True,
    raises=Py4JJavaError,
    reason="FAILED_READ_FILE.FILE_NOT_EXIST: the load's dynamic overwrite "
    "rewrites the fiscal_year partition a facts frame read before it had "
    "listed; ROADMAP Direction 1 (silver as txn tables under one silver "
    "version) fixes this and removes this marker",
)
def test_series_frame_read_before_a_load_still_serves_after_it(spark, tmp_path):
    """The time-series half: a facts frame read before a load of the next
    quarter of the same fiscal year must still serve after it."""
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    company_id = t["companies"].first()["company_id"]
    item_id = t["items"].first()["item_id"]
    _load(spark, tmp_path, "q2", [("E00001", 2)])
    rows = item_time_series(t["facts"], t["reports"], company_id, item_id).collect()
    assert len(rows) == 1
