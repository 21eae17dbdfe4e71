"""The dashboard answers the load maintains against the same answers
computed from the silver's reports and facts.

After every step of a load sequence — a cold load, a later quarter of the
same fiscal year, an older quarter loaded after a newer one, per-company
daily loads, an amendment, a re-run, and an amendment whose period end
differs in the same batch as its original:

- serving the summary from the gold (``companies.summary``) must equal the
  compute path (``financial_summary`` over ``companies`` without the
  ``summary`` column), and must name each company's latest report;
- every fact must carry its report row's ``company_id`` and
  ``fiscal_year_end``, and ``item_time_series`` (a filter on the facts)
  must equal the facts ⋈ reports join it replaced.

``read_silver``'s companies snapshot must equal the companies table, and a
one-company summary over it must run no Spark job. A repeat request for the
same snapshot and code must return the frame planned the first time, also
under concurrent requests; the store keeps nothing for codes the snapshot
lacks, nothing for the compute path, and nothing once the snapshot is gone.

Each filing is a small UTF-8 EDINET CSV export: cover rows plus the four
summary measures, with the sales figure booked under a per-company synonym.
"""

from __future__ import annotations

import gc
import sys
import threading
import uuid
import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

from ir_analyses_spark.etl import pipeline
from ir_analyses_spark.io import txn
from ir_analyses_spark.queries import summary as summary_q
from ir_analyses_spark.schemas import RAW_JP_COLUMNS

#: EDINET code → the element its sales are booked under
SALES_ELEMENT = {
    "E00001": "jppfs_cor:NetSales",
    "E00002": "jppfs_cor:OperatingRevenue1",
    "E00003": "jpigp_cor:RevenueIFRS",
}


def _write_filing(path, edinet_code, fiscal_year, quarter, sales, end_day=30):
    """One quarterly filing; operating income is zero in Q2 (its margin is
    NULL), and the ordinary income is a non-numeric ``－`` in Q3 (present
    with a NULL value). The period ends on ``end_day`` of the quarter's
    last month."""
    start = 3 * quarter + 1
    period = (f"第10期 第{quarter}四半期(自 {fiscal_year}年{start}月1日 "
              f"至 {fiscal_year}年{start + 2}月30日)")

    def cover(element, value):
        return (element, "項目", "FilingDateInstant", "提出日時点", "その他",
                "時点", "－", "－", value)

    def measure(element, value):
        return (element, "項目", "CurrentYTDDuration", "当四半期累計期間",
                "連結", "期間", "JPY", "円", value)

    rows = [
        cover("jpcrp_cor:DocumentTitleCoverPage", "四半期報告書"),
        cover("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", period),
        cover("jpcrp_cor:CompanyNameCoverPage", f"会社{edinet_code}"),
        cover("jpdei_cor:CurrentPeriodEndDateDEI",
              f"{fiscal_year}/{start + 2}/{end_day}"),
        cover("jpdei_cor:EDINETCodeDEI", edinet_code),
        measure(SALES_ELEMENT[edinet_code], str(sales)),
        measure("jppfs_cor:OperatingIncome",
                "0" if quarter == 2 else str(sales // 10)),
        measure("jppfs_cor:OrdinaryIncome",
                "－" if quarter == 3 else str(sales // 8)),
        measure("jppfs_cor:ProfitLoss", str(sales // 20)),
    ]
    lines = ["\t".join(RAW_JP_COLUMNS)] + ["\t".join(r) for r in rows]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")


def _load(spark, tmp_path, batch, filings):
    """Load ``(edinet_code, fiscal_year, quarter, sales[, end_day])``
    filings as one batch."""
    for code, fy, q, sales, *end_day in filings:
        name = "_".join(map(str, [code, f"{fy}q{q}", *end_day]))
        _write_filing(tmp_path / batch / f"{name}.csv", code, fy, q, sales, *end_day)
    pipeline.backfill_from_csvs(
        spark, str(tmp_path / batch / "*.csv"), str(tmp_path / "silver"))


def _served(spark, tmp_path):
    """(gold answer, compute-path answer), each as {edinet_code: row}."""
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    gold = summary_q.financial_summary(**t)
    computed = summary_q.financial_summary(
        t["companies"].drop("summary"), t["reports"], t["facts"], t["items"])
    assert gold.columns == computed.columns
    return ({r["edinet_code"]: r.asDict() for r in gold.collect()},
            {r["edinet_code"]: r.asDict() for r in computed.collect()})


_SERIES_COLUMNS = ["fiscal_year_end", "value", "value_text", "is_numeric"]


def _check_series(spark, tmp_path):
    """Every fact carries its report row's company and period end, and each
    company's sales and profit series equals the facts ⋈ reports join."""
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    own = ["report_id", "company_id", "fiscal_year_end"]
    reports = t["reports"].select(own)
    facts = t["facts"]
    assert facts.count() > 0
    assert facts.select(own).subtract(reports).count() == 0
    item_id = {r["element_id"]: r["item_id"] for r in t["items"].collect()}
    joined = facts.drop("company_id", "fiscal_year_end").join(reports, "report_id")
    for r in t["companies"].collect():
        for element in (SALES_ELEMENT[r["edinet_code"]], "jppfs_cor:ProfitLoss"):
            i = item_id[element]
            want = (
                joined.filter(f"company_id = {r['company_id']} AND item_id = {i}")
                .orderBy("fiscal_year_end")
                .select(_SERIES_COLUMNS)
                .collect()
            )
            got = summary_q.item_time_series(
                t["facts"], t["reports"], r["company_id"], i
            ).collect()
            assert want and got == want, (r["edinet_code"], element)


def _check(spark, tmp_path, latest):
    """Gold equals compute path and the time series equals the join;
    ``latest`` maps each company to the period and million-yen sales it
    must show."""
    gold, computed = _served(spark, tmp_path)
    assert gold == computed
    assert {code: (r["period_name"], r["net_sales"]) for code, r in gold.items()} == latest
    _check_series(spark, tmp_path)
    return gold


def _jobs_of(spark, df):
    """(rows, Spark jobs) of ``df.collect()``."""
    sc = spark.sparkContext
    group = f"collect-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_gold_matches_compute_path_over_a_load_sequence(spark, tmp_path):
    # cold load: two companies, two quarters
    _load(spark, tmp_path, "cold", [
        ("E00001", 2023, 1, 100_000_000), ("E00001", 2023, 2, 200_000_000),
        ("E00002", 2023, 1, 300_000_000), ("E00002", 2023, 2, 400_000_000),
    ])
    gold = _check(spark, tmp_path, {"E00001": ("2023 Q2", 200.0),
                                    "E00002": ("2023 Q2", 400.0)})
    # Q2: zero operating income gives a NULL margin
    assert gold["E00001"]["operation_profit_rate"] is None
    assert gold["E00001"]["net_profit_rate"] == pytest.approx(5.0)

    # a later quarter of the same fiscal year
    _load(spark, tmp_path, "q3", [("E00001", 2023, 3, 500_000_000)])
    gold = _check(spark, tmp_path, {"E00001": ("2023 Q3", 500.0),
                                    "E00002": ("2023 Q2", 400.0)})
    # Q3: the present-but-NULL ordinary income stays NULL
    assert gold["E00001"]["ordinary_income"] is None
    assert gold["E00001"]["ordinary_profit_rate"] is None

    # an older quarter after a newer one: the latest does not move back
    _load(spark, tmp_path, "older", [("E00001", 2022, 3, 50_000_000)])
    _check(spark, tmp_path, {"E00001": ("2023 Q3", 500.0),
                             "E00002": ("2023 Q2", 400.0)})

    # per-company daily loads: a new company, then another's next quarter
    _load(spark, tmp_path, "day1", [("E00003", 2023, 1, 700_000_000)])
    _load(spark, tmp_path, "day2", [("E00002", 2023, 3, 800_000_000)])
    latest = {"E00001": ("2023 Q3", 500.0), "E00002": ("2023 Q3", 800.0),
              "E00003": ("2023 Q1", 700.0)}
    _check(spark, tmp_path, latest)

    # an amendment: the latest report re-filed with new figures
    _load(spark, tmp_path, "amend", [("E00001", 2023, 3, 600_000_000)])
    latest["E00001"] = ("2023 Q3", 600.0)
    _check(spark, tmp_path, latest)

    # a re-run of the last load changes nothing
    _load(spark, tmp_path, "amend", [])
    _check(spark, tmp_path, latest)

    # an original and its amendment in one batch, whose period ends differ:
    # the facts carry the period end of the report row the load commits,
    # and a re-run keeps the same survivor
    _load(spark, tmp_path, "amend_end", [
        ("E00002", 2023, 3, 900_000_000, 29), ("E00002", 2023, 3, 900_000_000, 30),
    ])
    latest["E00002"] = ("2023 Q3", 900.0)
    _check(spark, tmp_path, latest)
    _load(spark, tmp_path, "amend_end", [])
    _check(spark, tmp_path, latest)


def test_gold_serves_one_company(spark, tmp_path):
    """``read_silver`` pins the companies dim as a driver-local snapshot, so
    a one-company summary plans as a ``LocalTableScan`` over it: no Spark
    job and no file scan. A repeat request returns the same planned frame.
    A quote in ``edinet_code`` stays inside the string literal, and such a
    code, which the snapshot lacks, leaves no entry in the store. The
    compute path is planned per request. The store lets go of a snapshot
    once the caller does."""
    _load(spark, tmp_path, "cold", [
        ("E00001", 2023, 1, 100_000_000), ("E00002", 2023, 1, 300_000_000),
    ])
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    df = summary_q.financial_summary(**t, edinet_code="E00002")
    rows, jobs = _jobs_of(spark, df)
    assert [(r["edinet_code"], r["period_name"], r["net_sales"]) for r in rows] == [
        ("E00002", "2023 Q1", 300.0)]
    assert jobs == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "FileScan" not in plan

    again = summary_q.financial_summary(**t, edinet_code="E00002")
    assert again is df
    assert _jobs_of(spark, again) == (rows, 0)

    injected = "E0' OR '1'='1"
    assert summary_q.financial_summary(**t, edinet_code=injected).collect() == []
    assert injected not in summary_q._planned[t["companies"]]

    plain = t["companies"].drop("summary")
    args = (plain, t["reports"], t["facts"], t["items"], "E00002")
    assert summary_q.financial_summary(*args) is not summary_q.financial_summary(*args)
    assert plain not in summary_q._planned

    snapshot = weakref.ref(t["companies"])
    del t, plain, args
    gc.collect()
    assert snapshot() is None


def test_concurrent_requests_share_one_plan(spark, tmp_path):
    """4 threads of 25 requests each, over one fresh snapshot and across
    every code and every company at once, answer as one thread does, and
    end with one planned frame per code: two threads that plan the same
    code at once must still hand every caller the one frame kept."""
    codes = ["E00001", "E00002", "E00003", None]
    _load(spark, tmp_path, "cold", [
        ("E00001", 2023, 1, 100_000_000), ("E00002", 2023, 2, 300_000_000),
        ("E00003", 2022, 3, 700_000_000),
    ])
    silver = str(tmp_path / "silver")
    single = pipeline.read_silver(spark, silver)
    want = {c: sorted(summary_q.financial_summary(**single, edinet_code=c).collect())
            for c in codes}
    assert all(want.values())
    t = pipeline.read_silver(spark, silver)
    start = threading.Barrier(4)

    def client(n):
        # every client asks for the same codes in the same order, so the
        # first request for each code races
        start.wait(timeout=60)
        answers = []
        for i in range(25):
            code = codes[i % len(codes)]
            df = summary_q.financial_summary(**t, edinet_code=code)
            answers.append((code, df, sorted(df.collect())))
        return answers

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            answers = [a for client_answers in pool.map(client, range(4), timeout=300)
                       for a in client_answers]
    finally:
        sys.setswitchinterval(interval)
    assert len(answers) == 100
    for code, _, rows in answers:
        assert rows == want[code], code
    frames = summary_q._planned[t["companies"]]
    for code, df, _ in answers:
        assert df is frames[code], code


def test_time_series_is_one_filtered_scan(spark, tmp_path):
    """``item_time_series`` plans no broadcast and no range exchange, and
    its collect runs at most two Spark jobs (the scan's shuffle map stage
    and the one-partition sort)."""
    _load(spark, tmp_path, "cold", [
        ("E00001", 2022, 3, 50_000_000), ("E00001", 2023, 1, 100_000_000),
        ("E00002", 2023, 1, 300_000_000),
    ])
    t = pipeline.read_silver(spark, str(tmp_path / "silver"))
    company_id = (
        t["companies"].filter("edinet_code = 'E00001'").first()["company_id"]
    )
    item_id = (
        t["items"].filter("element_id = 'jppfs_cor:NetSales'").first()["item_id"]
    )
    df = summary_q.item_time_series(t["facts"], t["reports"], company_id, item_id)
    rows, jobs = _jobs_of(spark, df)
    assert [float(r["value"]) for r in rows] == [50_000_000.0, 100_000_000.0]
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "broadcastexchange" not in plan
    assert "rangepartitioning" not in plan
    assert jobs <= 2


def test_companies_snapshot_equals_the_companies_table(spark, tmp_path):
    """The snapshot keeps every type exactly, the ``summary`` struct and
    the timestamps included, and every row."""
    _load(spark, tmp_path, "cold", [
        ("E00001", 2023, 1, 100_000_000), ("E00002", 2023, 2, 300_000_000),
        ("E00003", 2022, 3, 700_000_000),
    ])
    silver = str(tmp_path / "silver")
    got = pipeline.read_silver(spark, silver)["companies"]
    version = pipeline._pinned(silver)["tables"]["companies"]
    want = txn.read(spark, f"{silver}/companies", at_version=version)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())

