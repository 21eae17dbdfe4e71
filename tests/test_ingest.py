"""ingest.py — date-driven live-ingest CLI, offline end-to-end (r7,
VERDICT r6 item 3).

The CLI twins the reference's live import script
(scripts/import_financial_data.py:21-54: date → get_company_list →
per-company fetch → ORM save loop) the way backfill.py twins
bypass_import_csv.py: one EDINET listing, one multi-filing distributed
scan, four idempotent silver-table writes, optional summary. Driven here
entirely through an injected in-memory transport — zero network, same
code paths as production."""

from __future__ import annotations

import io as _io
import json
import zipfile as _zip

import ingest
from ir_analyses_spark.schemas import RAW_JP_COLUMNS


def _cover(element, value):
    return (element, "項目", "FilingDateInstant", "提出日時点", "その他",
            "時点", "－", "－", value)


def _measure(element, value):
    return (element, "項目", "CurrentYTDDuration", "当四半期累計期間",
            "連結", "期間", "JPY", "円", value)


def _filing_tsv(edinet_code, company, quarter, period, sales, op_inc):
    """One full quarterly filing as the real EDINET export shape:
    BOM'd UTF-16LE TSV with the Japanese header row."""
    rows = [
        _cover("jpcrp_cor:DocumentTitleCoverPage", "四半期報告書"),
        _cover("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", period),
        _cover("jpcrp_cor:CompanyNameCoverPage", company),
        _cover("jpdei_cor:EDINETCodeDEI", edinet_code),
        _cover("jpdei_cor:CurrentPeriodEndDateDEI", f"2023/{3 * quarter}/28"),
        # an alternate name element, unmapped by default — the --config
        # test redirects company_name here
        _cover("jpdei_cor:FilerNameInJapaneseDEI", "別名" + company),
        _measure("jppfs_cor:NetSales", sales),
        _measure("jppfs_cor:OperatingIncome", op_inc),
    ]
    lines = ["\t".join(RAW_JP_COLUMNS)] + ["\t".join(r) for r in rows]
    return b"\xff\xfe" + ("\n".join(lines) + "\n").encode("utf-16-le")


_FILINGS = {
    "DQ2": _filing_tsv("E11111", "甲株式会社", 2,
                       "第10期 第2四半期(自 2023年4月1日 至 2023年6月30日)",
                       "500000000", "50000000"),
    "DQ3": _filing_tsv("E22222", "乙株式会社", 3,
                       "第10期 第３四半期(自 2023年7月1日 至 2023年9月30日)",
                       "1000000000", "80000000"),
}


def _transport(url, params):
    assert params["Subscription-Key"] == "test-key"
    if url.endswith("/documents.json"):
        if params["date"] == "2024-02-09":
            return json.dumps({"results": [
                {"docID": "DQ2", "filerName": "甲株式会社",
                 "docDescription": "四半期報告書（第2期）"},
                {"docID": "DANN", "filerName": "年次株式会社",
                 "docDescription": "有価証券報告書"},  # filtered out
                {"docID": "DQ3", "filerName": "乙株式会社",
                 "docDescription": "四半期報告書（第3期）"},
            ]}).encode()
        return json.dumps({"metadata": {"status": "404"}}).encode()
    if "/documents/" in url:
        doc_id = url.rsplit("/", 1)[1]
        buf = _io.BytesIO()
        with _zip.ZipFile(buf, "w") as z:
            z.writestr(f"XBRL_TO_CSV/jpcrp_{doc_id}.csv", _FILINGS[doc_id])
            z.writestr("manifest.xml", b"<m/>")
        return buf.getvalue()
    raise AssertionError(f"unexpected url {url}")


def test_ingest_cli_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """date → list → ZIP fetch → jpcrp extract → silver tables → summary,
    all offline; the annual filing is filtered out like the reference's
    quarterly working set."""
    monkeypatch.setenv("EDINET_API_KEY", "test-key")
    out = str(tmp_path / "silver")
    rc = ingest.main(
        ["2024-02-09", "--out-dir", out,
         "--download-dir", str(tmp_path / "dl"), "--summary"],
        transport=_transport,
    )
    assert rc == 0
    stdout = capsys.readouterr().out.splitlines()
    counts = json.loads(stdout[0])
    assert counts == {"companies": 2, "facts": 4, "items": 2, "reports": 2}
    summaries = {json.loads(line)["company_name"]: json.loads(line)
                 for line in stdout[1:]}
    assert summaries["甲株式会社"]["period_name"] == "2023 Q2"
    assert summaries["甲株式会社"]["net_sales"] == 500.0  # 百万円
    assert summaries["乙株式会社"]["period_name"] == "2023 Q3"
    assert summaries["乙株式会社"]["net_sales"] == 1000.0
    # re-ingesting the same date converges (keyed upserts, no dup rows)
    assert ingest.main(
        ["2024-02-09", "--out-dir", out,
         "--download-dir", str(tmp_path / "dl2")],
        transport=_transport,
    ) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[0]) == counts


def test_ingest_cli_error_paths(spark, tmp_path, monkeypatch, capsys):
    """All-or-nothing by default (exit 3 before any Spark work — usage
    errors own argparse's 2); with --skip-errors bad dates are reported
    to stderr and the good date still lands."""
    monkeypatch.setenv("EDINET_API_KEY", "test-key")
    out = str(tmp_path / "silver")
    rc = ingest.main(
        ["2024-01-01", "--out-dir", out,
         "--download-dir", str(tmp_path / "dl")],
        transport=_transport,
    )
    assert rc == 3  # distinct from argparse's usage code 2
    assert "ingest failed" in capsys.readouterr().err

    rc = ingest.main(
        ["2024-01-01", "2024-02-09", "--out-dir", out,
         "--download-dir", str(tmp_path / "dl"), "--skip-errors"],
        transport=_transport,
    )
    captured = capsys.readouterr()
    assert rc == 0
    assert "skipped 2024-01-01" in captured.err
    assert json.loads(captured.out.splitlines()[0])["companies"] == 2


def test_ingest_cli_config_redirects_mapping(spark, tmp_path, monkeypatch, capsys):
    """The TOML config source is wired into the CLI for real (review-
    caught: it was load-only before): a --config redirecting company_name
    to the FilerName element changes the silver company dim without any
    code edit; the default chain (no --config) keeps the shipped
    defaults."""
    monkeypatch.setenv("EDINET_API_KEY", "test-key")
    cfg = tmp_path / "alt.toml"
    cfg.write_text(
        "[xbrl_mapping.company]\n"
        'edinet_code = "jpdei_cor:EDINETCodeDEI"\n'
        'security_code = "jpdei_cor:SecurityCodeDEI"\n'
        'industry_code = "jpdei_cor:IndustryCodeDEI"\n'
        'company_name = "jpdei_cor:FilerNameInJapaneseDEI"\n'
    )
    out = str(tmp_path / "silver")
    rc = ingest.main(
        ["2024-02-09", "--out-dir", out,
         "--download-dir", str(tmp_path / "dl"),
         "--config", str(cfg), "--summary"],
        transport=_transport,
    )
    assert rc == 0
    stdout = capsys.readouterr().out.splitlines()
    names = {json.loads(line)["company_name"] for line in stdout[1:]}
    assert names == {"別名甲株式会社", "別名乙株式会社"}
