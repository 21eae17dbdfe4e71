"""Load sequences through ``pipeline.backfill_from_csvs``: each report's facts
are replaced as a unit, so later loads into the same fiscal year — the next
quarter, or another company's filing on a daily ingest — keep the facts
already in silver, a reloaded report keeps none of its old facts, and
re-running a load changes nothing. Frames ``read_silver`` returned before a
load keep serving after it, a reader during a load sees one silver version
in full, and a load that fails at any commit leaves the previous version.

Each filing is a small UTF-8 EDINET CSV export: cover rows plus
``N_MEASURES`` fact rows.
"""

from __future__ import annotations

import os
import threading

import pytest

from ir_analyses_spark.etl import pipeline
from ir_analyses_spark.io import txn
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


def test_loads_without_new_items_add_no_item_file_or_version(spark, tmp_path):
    """An item append with no new key commits nothing: three loads of one
    filing leave ``financial_items`` with the first load's one file."""
    for _ in range(3):
        _load(spark, tmp_path, "q1", [("E00001", 1)])
    items = txn.snapshot(str(tmp_path / "silver" / "financial_items"))
    assert (items.version, len(items.files)) == (1, 1)
    assert [f["rows"] for f in items.files] == [N_MEASURES]
    assert _counts(spark, tmp_path)["items"] == N_MEASURES


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


def test_series_frame_read_before_a_load_still_serves_after_it(spark, tmp_path):
    """The time-series half: a facts frame read before a load of the next
    quarter of the same fiscal year still serves after it, as of its
    ``read_silver`` call — a series frame kept across the load too — and a
    new call answers the load."""
    silver = str(tmp_path / "silver")
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    t = pipeline.read_silver(spark, silver)
    company_id = t["companies"].first()["company_id"]
    item_id = t["items"].first()["item_id"]

    def ends(tables):
        return _series_ends(item_time_series(
            tables["facts"], tables["reports"], company_id, item_id))

    kept = item_time_series(t["facts"], t["reports"], company_id, item_id)
    assert _series_ends(kept) == [6]
    _load(spark, tmp_path, "q2", [("E00001", 2)])
    assert _series_ends(kept) == [6]
    assert ends(t) == [6]
    assert ends(pipeline.read_silver(spark, silver)) == [6, 9]


def _series_ends(df):
    """The period-end months of a collected series."""
    return [r["fiscal_year_end"].month for r in df.collect()]


def _answer(spark, silver):
    """One serving round on a fresh ``read_silver``: every table's rows,
    E00001's summary and its first item's series."""
    t = pipeline.read_silver(spark, silver)
    company_id = t["companies"].filter("edinet_code = 'E00001'").first()["company_id"]
    item_id = t["items"].orderBy("element_id").first()["item_id"]
    summary = financial_summary(
        t["companies"], t["reports"], t["facts"], t["items"], edinet_code="E00001")
    return {
        **{name: sorted(map(repr, df.collect())) for name, df in t.items()},
        "summary": sorted(map(repr, summary.collect())),
        "series": _series_ends(
            item_time_series(t["facts"], t["reports"], company_id, item_id)),
    }


def test_reader_across_a_load_sees_one_silver_version_in_full(spark, tmp_path):
    """A reader thread serving while a load commits never errors, and each
    of its answers is the silver before the load or the silver after it,
    in full."""
    silver = str(tmp_path / "silver")
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    old = _answer(spark, silver)
    answers, errors, done = [], [], threading.Event()

    def reader():
        while not done.is_set():
            try:
                answers.append(_answer(spark, silver))
            except Exception as exc:  # any error fails the test below
                errors.append(exc)
                return

    thread = threading.Thread(target=reader)
    thread.start()
    try:
        _load(spark, tmp_path, "q2", [("E00001", 2)])
    finally:
        done.set()
        thread.join(timeout=300)
    assert not thread.is_alive()
    new = _answer(spark, silver)
    assert not errors, errors
    assert old["series"] == [6] and new["series"] == [6, 9]
    assert answers and all(a == old or a == new for a in answers)


def test_a_load_failing_at_any_publish_leaves_the_previous_silver(
    spark, tmp_path, monkeypatch
):
    """Make each publish of a load fail in turn: the four table commits,
    then the silver version record. After each failure ``read_silver``
    returns the previous silver version in full, and re-running the load
    converges. Each load reloads the Q2 report with one more fact row, a
    new item, so that every load publishes all five."""
    silver = str(tmp_path / "silver")
    order = [os.path.join(silver, name) for name in
             ("financial_items", "financial_reports", "financial_data", "companies")]
    order.append(silver)
    _load(spark, tmp_path, "q1", [("E00001", 1)])
    real_publish = txn._publish
    for failing in range(5):
        n_measures = N_MEASURES + failing + 1
        batch = [("E00001", 2, n_measures)]
        calls = []

        def crash_publish(*args, **kwargs):
            calls.append(args[0])
            if len(calls) == failing + 1:
                raise OSError("simulated crash at publish")
            return real_publish(*args, **kwargs)

        previous = _answer(spark, silver)
        monkeypatch.setattr(txn, "_publish", crash_publish)
        with pytest.raises(OSError, match="simulated crash"):
            _load(spark, tmp_path, f"fail{failing}", batch)
        monkeypatch.setattr(txn, "_publish", real_publish)
        assert calls == order[: failing + 1]
        assert _answer(spark, silver) == previous, failing

        _load(spark, tmp_path, f"rerun{failing}", batch)
        assert _facts_per_report(spark, tmp_path) == {
            ("E00001", "Q1"): N_MEASURES, ("E00001", "Q2"): n_measures}
        assert _counts(spark, tmp_path) == {
            "companies": 1, "items": n_measures,
            "reports": 2, "facts": N_MEASURES + n_measures}
        quarters = [r["quarter_type"] for r in financial_summary(
            **pipeline.read_silver(spark, silver), edinet_code="E00001").collect()]
        assert quarters == ["Q2"]


def test_bare_directory_silver_must_be_reloaded(spark, tmp_path):
    """Silver in the old bare-directory layout neither loads nor reads:
    both say to reload it."""
    spark.range(1).write.parquet(str(tmp_path / "silver" / "companies"))
    with pytest.raises(ValueError, match="reload"):
        pipeline.read_silver(spark, str(tmp_path / "silver"))
    with pytest.raises(ValueError, match="reload"):
        _load(spark, tmp_path, "q1", [("E00001", 1)])
