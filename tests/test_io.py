"""IO layer tests: encoding-sniffed filing scans (SURVEY §2A S1–S3),
silver sink MERGE semantics as txn commits (S6/S7, A5–A7), and the txn
format's compaction and z-order layout.

Mirrors the reference's ingest edge cases: per-file charset detection
(reference utils/api.py:129-137 uses chardet), BOM'd UTF-8 fixtures
(reference tests/test_mapping.py:111-115), and the find-or-create /
upsert repository behavior
(reference utils/service/financial_service.py:184-232,
tests/repositories/test_company_repository.py:37-121).
"""

from __future__ import annotations

import codecs

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.io import sinks, sources, txn
from ir_analyses_spark.schemas import RAW_JP_COLUMNS

HEADER = "\t".join(RAW_JP_COLUMNS)
ROW1 = "\t".join(
    ["jppfs_cor:NetSales", "売上高", "CurrentYTDDuration", "当四半期累計期間",
     "連結", "期間", "JPY", "円", "1000"]
)
ROW2 = "\t".join(
    ["jpcrp_cor:CompanyNameCoverPage", "会社名、表紙", "FilingDateInstant",
     "提出日時点", "その他", "時点", "－", "－", "テスト株式会社"]
)
CONTENT = f"{HEADER}\n{ROW1}\n{ROW2}\n"


# ---------------------------------------------------------------------------
# sniff_encoding + read_filing_csvs
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "enc,write_bom,expect",
    [
        ("utf-8", False, "UTF-8"),
        ("utf-8-sig", False, "UTF-8"),        # BOM path
        ("cp932", False, "MS932"),
        ("utf-16-le", True, "UTF-16LE"),
    ],
)
def test_sniff_encoding(tmp_path, enc, write_bom, expect):
    p = tmp_path / f"filing_{enc}.csv"
    data = CONTENT.encode(enc)
    if write_bom and enc == "utf-16-le":
        data = codecs.BOM_UTF16_LE + data
    p.write_bytes(data)
    assert sources.sniff_encoding(str(p)) == expect


def test_read_filing_csvs_mixed_encodings(spark, tmp_path):
    """One scan over files in three charsets: grouped per encoding, unioned,
    with per-file lineage — the Spark twin of the reference's per-file
    chardet loop (reference scripts/bypass_import_csv.py:56-72)."""
    (tmp_path / "a_utf8.csv").write_bytes(CONTENT.encode("utf-8"))
    (tmp_path / "b_sjis.csv").write_bytes(CONTENT.encode("cp932"))
    (tmp_path / "c_bom.csv").write_bytes(CONTENT.encode("utf-8-sig"))

    df = sources.read_filing_csvs(spark, str(tmp_path / "*.csv"))
    rows = df.collect()
    assert len(rows) == 6  # 2 rows × 3 files
    assert df.filter(F.col("要素ID") == "jppfs_cor:NetSales").count() == 3
    # JP text decoded identically from every charset
    names = {
        r["値"] for r in rows if r["要素ID"] == "jpcrp_cor:CompanyNameCoverPage"
    }
    assert names == {"テスト株式会社"}
    # lineage: 3 distinct source files
    assert df.select("_filing_path").distinct().count() == 3


def test_read_filing_csvs_empty_glob(spark, tmp_path):
    df = sources.read_filing_csvs(spark, str(tmp_path / "nothing" / "*.csv"))
    assert df.count() == 0
    assert "_filing_path" in df.columns


def _row(element_id, value):
    return "\t".join([element_id, "項目", "CurrentYTDDuration", "当四半期累計期間",
                      "連結", "期間", "JPY", "円", value])


def test_cp932_filing_reads_as_microsofts_code_page(spark, tmp_path):
    """A CP932 filing reads back exactly as its UTF-8 twin: the NEC/IBM
    extension characters survive, and the ``－`` placeholder (0x817C) is
    U+FF0D, so standardize strips it to ``value_text ''``. Java's
    ``CP932``/``Shift_JIS`` decode 0x817C as U+2212 and the extensions as
    U+FFFD."""
    from ir_analyses_spark.etl.standardize import standardize_raw

    name = "株式会社髙島屋①㈱"
    text = "\n".join([HEADER, _row("jpcrp_cor:CompanyNameCoverPage", name),
                      _row("jppfs_cor:NetSales", "－")]) + "\n"
    (tmp_path / "a.csv").write_bytes(text.encode("cp932"))
    (tmp_path / "b.csv").write_bytes(text.encode("utf-8"))
    std = standardize_raw(sources.read_filing_csvs(spark, str(tmp_path / "*.csv")),
                          filing_id_col="_filing_path")
    by_file = {}
    for r in std.collect():
        by_file.setdefault(r["filing_id"].rsplit("/", 1)[1], {})[r["element_id"]] = (
            r["value_text"], r["is_numeric"])
    assert by_file["a.csv"] == by_file["b.csv"] == {
        "jpcrp_cor:CompanyNameCoverPage": (name, False),
        "jppfs_cor:NetSales": ("", False),
    }


@pytest.mark.parametrize("enc", ["utf-8", "cp932", "utf-16"])
def test_quoted_value_with_a_line_break_is_one_row(spark, tmp_path, enc):
    """A quoted value may hold a line break in every charset: the filing
    reads as its two rows, not as a phantom third row. The CSV parser
    hands the break back as ``\\n`` whatever the file's line ends are."""
    newline = "\r\n" if enc == "utf-16" else "\n"
    text = newline.join([HEADER, _row("jppfs_cor:Note", '"一行目' + newline + '二行目"'),
                         _row("jppfs_cor:NetSales", "5")]) + newline
    (tmp_path / "f.csv").write_bytes(text.encode(enc))
    rows = sources.read_filing_csvs(spark, str(tmp_path / "f.csv")).collect()
    assert [(r["要素ID"], r["値"]) for r in rows] == [
        ("jppfs_cor:Note", "一行目\n二行目"),
        ("jppfs_cor:NetSales", "5"),
    ]


def test_a_filing_larger_than_a_split_keeps_source_order(spark, tmp_path):
    """With split sizes far below a ~100 KB filing, its rows still come out
    in source order: ``_row_seq`` rises with the line, and the summary's
    last-row-wins rule picks the later of two rows for one element."""
    from ir_analyses_spark.etl.conform import conform_all_with_mappings
    from ir_analyses_spark.etl.standardize import standardize_raw
    from ir_analyses_spark.queries.summary import report_measures

    from .test_backfill_loads import _write_filing

    path = tmp_path / "big.csv"
    _write_filing(path, "E00001", 1, n_measures=0)
    filler = [_row(f"jppfs_cor:Filler{i}", str(i)) for i in range(1500)]
    with open(path, "a", encoding="utf-8") as fh:
        fh.write("\n".join([_row("jppfs_cor:NetSales", "1"), *filler,
                            _row("jppfs_cor:NetSales", "2")]) + "\n")
    assert path.stat().st_size > 100_000
    confs = {"spark.sql.files.maxPartitionBytes": "16k",
             "spark.sql.files.openCostInBytes": "4k"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        std = standardize_raw(sources.read_filing_csvs(spark, str(path)),
                              filing_id_col="_filing_path")
        fillers = [int(r["value"]) for r in std.filter("element_id LIKE '%Filler%'")
                   .orderBy("_row_seq").collect()]
        assert fillers == list(range(1500))
        measures = report_measures(conform_all_with_mappings(std)["facts"])
        assert [r["net_sales"] for r in measures.collect()] == [2.0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# sinks: silver's txn commits (merge_upsert / append_missing), and the
# staged swap the corpus stores use
# ---------------------------------------------------------------------------

def _df(spark, rows):
    return spark.createDataFrame(rows, "edinet_code string, company_name string")


def _by_code(spark, target):
    return {r["edinet_code"]: r["company_name"] for r in txn.read(spark, target).collect()}


def test_merge_upsert_insert_then_update(spark, tmp_path):
    target = str(tmp_path / "companies")
    sinks.merge_upsert(_df(spark, [("E1", "A"), ("E2", "B")]), target, ["edinet_code"])
    # update E2, insert E3 — the reference's find-or-create + merge
    sinks.merge_upsert(_df(spark, [("E2", "B2"), ("E3", "C")]), target, ["edinet_code"])
    assert _by_code(spark, target) == {"E1": "A", "E2": "B2", "E3": "C"}


def test_swap_in_crash_window_leaves_valid_copy(spark, tmp_path, monkeypatch):
    """A crash between _swap_in's two renames must leave the complete old
    table at ``__old`` and the complete new table in staging — data is
    recoverable at every instant — and a re-run must converge to the new
    table with the remnant garbage-collected."""
    import os as _os

    import pytest as _pytest

    target = str(tmp_path / "t")
    _df(spark, [("E1", "old")]).write.parquet(target)
    staging = target + "__staging"
    _df(spark, [("E1", "new")]).write.parquet(staging)

    real_rename = _os.rename
    calls = {"n": 0}

    def crashy(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # after old→__old, before staging→target
            raise OSError("simulated crash")
        real_rename(src, dst)

    monkeypatch.setattr(sinks.os, "rename", crashy)
    with _pytest.raises(OSError):
        sinks._swap_in(staging, target)
    assert spark.read.parquet(target + "__old").first()["company_name"] == "old"
    assert spark.read.parquet(staging).first()["company_name"] == "new"

    monkeypatch.setattr(sinks.os, "rename", real_rename)
    sinks._swap_in(staging, target)
    assert spark.read.parquet(target).first()["company_name"] == "new"
    assert not _os.path.exists(target + "__old")
    assert not _os.path.exists(staging)


def test_append_missing_keeps_existing_files(spark, tmp_path):
    """Insert-only append: a key already present keeps its row, and the
    commit carries every existing file over, unchanged on disk."""
    import hashlib
    import os

    target = str(tmp_path / "items")

    def digest(f):
        with open(os.path.join(target, f["path"]), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    first = sinks.append_missing(
        _df(spark, [("E1", "A"), ("E2", "B")]), target, "edinet_code")
    before = {f["path"]: digest(f) for f in first.files}
    # E2 exists → its new value must NOT overwrite (existence-check insert)
    second = sinks.append_missing(
        _df(spark, [("E2", "CHANGED"), ("E3", "C")]), target, "edinet_code")
    assert second.files[: len(first.files)] == first.files
    assert {f["path"]: digest(f) for f in first.files} == before
    assert _by_code(spark, target) == {"E1": "A", "E2": "B", "E3": "C"}


def test_merge_upsert_partition_scoped(spark, tmp_path):
    """A partition-scoped MERGE carries the untouched partitions' manifest
    entries over verbatim and rewrites only the touched ones — the
    O(touched-partitions) write path for 100 TB."""
    target = str(tmp_path / "facts")
    schema = "fy string, k string, v int"
    base = spark.createDataFrame(
        [("2023", "k1", 1), ("2023", "k2", 2), ("2024", "k3", 3)], schema)
    v1 = sinks.merge_upsert(base, target, ["k"], partition_col="fy")
    upd = spark.createDataFrame([("2023", "k2", 99), ("2023", "k9", 7)], schema)
    v2 = sinks.merge_upsert(upd, target, ["k"], partition_col="fy")
    got = sorted(tuple(r) for r in txn.read(spark, target).collect())
    assert got == [
        ("2023", "k1", 1),
        ("2023", "k2", 99),
        ("2023", "k9", 7),
        ("2024", "k3", 3),
    ]
    untouched = [f for f in v1.files if f["partition"] == {"fy": "2024"}]
    assert untouched and all(f in v2.files for f in untouched)
    rewritten = [f for f in v1.files if f["partition"] == {"fy": "2023"}]
    assert rewritten and not any(f in v2.files for f in rewritten)


def test_partitioned_merge_upsert_into_empty_target(spark, tmp_path):
    """A partitioned merge into a missing target lays the partitions out on
    its first write, so the partition-scoped merges that follow find the
    same layout; the second merge replaces keys in the partitions it
    touches and leaves the others' rows in place."""
    target = str(tmp_path / "facts")
    schema = "report_id int, fy string, v int"

    def layout(snap):
        return snap.partition_by, sorted({f["partition"]["fy"] for f in snap.files})

    first = spark.createDataFrame([(1, "2023", 10), (2, "2024", 20)], schema)
    snap = sinks.merge_upsert(first, target, ["report_id"], partition_col="fy")
    assert layout(snap) == ("fy", ["2023", "2024"])

    second = spark.createDataFrame([(1, "2023", 11), (3, "2023", 30)], schema)
    snap = sinks.merge_upsert(second, target, ["report_id"], partition_col="fy")
    assert layout(snap) == ("fy", ["2023", "2024"])
    got = sorted(tuple(r) for r in txn.read(spark, target).collect())
    assert got == [(1, "2023", 11), (2, "2024", 20), (3, "2023", 30)]


# ---------------------------------------------------------------------------
# txn: compaction, z-order layout
# ---------------------------------------------------------------------------

def test_compact_splits_hot_partition(spark, tmp_path):
    """A single partition larger than the byte target must split across
    multiple files, each still recording its partition value — the salt
    keeps compaction from collapsing a hot partition into one
    unsplittable file."""
    target = str(tmp_path / "hot")
    df = spark.range(200_000).selectExpr(
        "'0' AS fy", "repeat(uuid(), 4) AS payload"
    )
    txn.overwrite(df, target, partition_by="fy")
    snap = txn.compact(spark, target, target_file_bytes=2 * 1024 * 1024)
    assert len(snap.files) > 1, "hot partition stayed one file"
    assert all(f["partition"] == {"fy": "0"} for f in snap.files)
    assert txn.read(spark, target, partition_values={"fy": ["0"]}).count() == 200_000


def test_zorder_layout_bounds_both_columns_per_file(spark, tmp_path):
    """Z-ordered files must cover small rectangles of (a, b) space: the
    per-file span of BOTH columns stays well below the domain, where a
    1-D sort by `a` leaves `b` spanning ~the whole domain in every file.
    That bounded span is exactly what min/max skipping prunes on."""
    import glob
    import os

    n = 20_000
    # two independent-ish dimensions over [0, 4096)
    df = spark.range(n).selectExpr(
        "CAST((id * 2654435761) % 4096 AS LONG) AS a",
        "CAST((id * 40503) % 4096 AS LONG) AS b",
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    txn.zorder_layout(df, "a", "b", n_shards=16).write.parquet(zpath)
    df.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(spath)

    def spans(path):
        out = []
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            st = txn._footer_stats(f, ["a", "b"])
            out.append(
                (
                    (st["a"][1] - st["a"][0]) / 4096.0,
                    (st["b"][1] - st["b"][0]) / 4096.0,
                )
            )
        return out

    z = spans(zpath)
    s = spans(spath)
    # 1-D layout: b is unconstrained (each file spans ~all of b)
    assert sum(b for _a, b in s) / len(s) > 0.9
    # z-order: BOTH dimensions bounded on average — files are rectangles
    avg_a = sum(a for a, _b in z) / len(z)
    avg_b = sum(b for _a, b in z) / len(z)
    assert avg_a < 0.6 and avg_b < 0.6, (avg_a, avg_b)
    # and a selective predicate on EITHER column skips files
    for col in ("a", "b"):
        hit = [
            f
            for f in sorted(glob.glob(os.path.join(zpath, "*.parquet")))
            if (st := txn._footer_stats(f, [col]))
            and not (st[col][0] > 300 or st[col][1] < 200)
        ]
        assert len(hit) < 16, col
    # rows survive the layout exactly
    assert spark.read.parquet(zpath).count() == n


# ---------------------------------------------------------------------------
# events ts-unit probe: the same decode must hold for MICROS (current
# testdata), NANOS (earlier generator), and INT96 (legacy Spark writers).
# ---------------------------------------------------------------------------


def test_events_ts_unit_probe_and_decode(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ir_analyses_spark.io.sources import events_ts_unit, read_events

    sf = "/root/testdata/sf0.001"
    micros = read_events(spark, f"{sf}/events.parquet")
    assert events_ts_unit(f"{sf}/events.parquet") == "us"
    assert dict(micros.dtypes)["ts"] == "timestamp"

    # rewrite the same rows with a TIMESTAMP(NANOS) footer
    tbl = pq.read_table(f"{sf}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    tbl_ns = tbl.set_column(
        i, "ts", tbl.column("ts").cast(pa.timestamp("ns"))
    )
    ns_path = str(tmp_path / "events_ns.parquet")
    pq.write_table(tbl_ns, ns_path)
    assert events_ts_unit(ns_path) == "ns"

    got = read_events(spark, ns_path)
    assert dict(got.dtypes)["ts"] == "timestamp"
    want_rows = sorted(map(tuple, micros.select("event_id", "ts").collect()))
    got_rows = sorted(map(tuple, got.select("event_id", "ts").collect()))
    assert got_rows == want_rows

    # empty-dir probe must NOT stick: files that arrive later decide the
    # unit (a cached 'us' here would decode the ns stage 1000x off)
    stage = tmp_path / "stage"
    stage.mkdir()
    assert events_ts_unit(str(stage)) == "us"
    pq.write_table(tbl_ns, str(stage / "part-0.parquet"))
    assert events_ts_unit(str(stage)) == "ns"

    # regenerating a file in place (new mtime/size) re-probes
    regen = tmp_path / "regen.parquet"
    pq.write_table(tbl_ns, str(regen))
    assert events_ts_unit(str(regen)) == "ns"
    import os as _os
    import time as _time

    _time.sleep(0.01)
    pq.write_table(tbl, str(regen))
    _os.utime(regen)
    assert events_ts_unit(str(regen)) == "us"

    # a mixed-unit directory fails loudly instead of decoding half wrong
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(tbl, str(mixed / "part-0.parquet"))
    pq.write_table(tbl_ns, str(mixed / "part-1.parquet"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mixed timestamp units"):
        events_ts_unit(str(mixed))


# ---------------------------------------------------------------------------
# EDINET HTTP client (io/edinet_http.py): full client logic exercised with
# an injected in-memory transport — zero network, same code paths.
# ---------------------------------------------------------------------------


def _fake_edinet_transport(tmp_path):
    """(transport, log): serves documents.json and per-doc ZIPs from memory."""
    import io as _io
    import json as _json
    import zipfile as _zip

    results = [
        {"docID": "D1", "filerName": "株式会社テスト", "docDescription": "四半期報告書（第3期）"},
        {"docID": "D2", "filerName": "年次株式会社", "docDescription": "有価証券報告書"},
        {"docID": "D3", "filerName": "第二テスト株式会社", "docDescription": "四半期報告書（第1期）"},
    ]
    tsv = (
        "要素ID\t項目名\tコンテキストID\t相対年度\t連結・個別\t期間・時点\t"
        "ユニットID\t単位\t値\n"
        'jpdei_cor:EDINETCodeDEI\tEDINETコード\tFilingDateInstant\t'
        "提出日時点\tその他\t時点\t－\t－\tE99999\n"
    ).encode("utf-16-le")
    tsv = b"\xff\xfe" + tsv  # BOM'd UTF-16LE, the real EDINET export shape

    def make_zip(doc_id):
        buf = _io.BytesIO()
        with _zip.ZipFile(buf, "w") as z:
            z.writestr(f"XBRL_TO_CSV/jpcrp_{doc_id}.csv", tsv)
            z.writestr("XBRL_TO_CSV/jpaud_ignored.csv", b"x")  # non-jpcrp
            z.writestr("manifest.xml", b"<m/>")
        return buf.getvalue()

    log = []

    def transport(url, params):
        log.append((url, dict(params)))
        if url.endswith("/documents.json"):
            if params["date"] == "2024-02-09":
                return _json.dumps({"results": results}).encode()
            return _json.dumps({"metadata": {"status": "404"}}).encode()
        if "/documents/" in url:
            doc_id = url.rsplit("/", 1)[1]
            if doc_id == "BADZIP":
                return b"this is not a zip"
            return make_zip(doc_id)
        raise AssertionError(f"unexpected url {url}")

    return transport, log


def test_edinet_client_list_filter_and_docid(tmp_path):
    from ir_analyses_spark.io.edinet_http import EdinetApiError, EdinetClient

    transport, log = _fake_edinet_transport(tmp_path)
    c = EdinetClient(api_key="k", transport=transport)
    quarterly = c.quarterly_filings("2024-02-09")
    assert [r["docID"] for r in quarterly] == ["D1", "D3"]  # 有報 filtered out
    assert log[0][1]["Subscription-Key"] == "k" and log[0][1]["type"] == 2
    assert c.doc_id_for_company(quarterly, "第二テスト株式会社") == "D3"
    with pytest.raises(EdinetApiError, match="見つかりませんでした"):
        c.doc_id_for_company(quarterly, "存在しない会社")
    with pytest.raises(EdinetApiError, match="no 'results'"):
        c.list_documents("2024-02-10")


def test_edinet_client_download_extract_and_spark_scan(spark, tmp_path):
    """End-to-end offline: list → ZIP download → jpcrp member extraction →
    the engine's encoding-sniffed distributed scan reads the extracted
    UTF-16 TSVs (the reference's fetch_single_company_dataframe path,
    reference utils/api.py:96-139)."""
    from ir_analyses_spark.io.edinet_http import EdinetApiError, EdinetClient
    from ir_analyses_spark.io.sources import read_filing_csvs

    transport, _ = _fake_edinet_transport(tmp_path)
    c = EdinetClient(api_key="k", transport=transport)
    paths = c.download_quarterly_filings(["2024-02-09"], str(tmp_path / "dl"))
    assert len(paths) == 2  # D1 + D3, one jpcrp member each
    assert all("jpaud" not in p for p in paths)

    df = read_filing_csvs(spark, paths)
    rows = df.collect()
    assert len(rows) == 2  # one data row per filing
    assert {r["値"] for r in rows} == {"E99999"}

    with pytest.raises(EdinetApiError, match="not a ZIP"):
        c.save_filing_csvs("BADZIP", str(tmp_path / "dl2"))


def test_edinet_client_typed_errors_and_skip(tmp_path, monkeypatch):
    """Missing key fails fast; transport exceptions surface as
    EdinetApiError; skip_errors=True keeps a backfill going and reports
    what it skipped."""
    from ir_analyses_spark.io.edinet_http import EdinetApiError, EdinetClient

    monkeypatch.delenv("EDINET_API_KEY", raising=False)
    with pytest.raises(EdinetApiError, match="no API key"):
        EdinetClient(transport=lambda u, p: b"{}").list_documents("2024-02-09")

    def flaky(url, params):
        raise TimeoutError("connect timeout")

    with pytest.raises(EdinetApiError, match="GET .* failed"):
        EdinetClient(api_key="k", transport=flaky).list_documents("2024-02-09")

    # skip_errors: one good date + one bad date + one corrupt ZIP
    transport, _ = _fake_edinet_transport(tmp_path)

    def mostly_good(url, params):
        if url.endswith("/documents/D3"):
            return b"broken"  # corrupt ZIP for one filing
        return transport(url, params)

    c = EdinetClient(api_key="k", transport=mostly_good)
    errs = []
    paths = c.download_quarterly_filings(
        ["2024-02-09", "2024-02-10"],  # 02-10 has no 'results'
        str(tmp_path / "dl3"),
        skip_errors=True,
        errors=errs,
    )
    assert len(paths) == 1  # D1 extracted; D3 and 02-10 skipped
    assert {e[0] for e in errs} == {"D3", "2024-02-10"}
    # default stays all-or-nothing
    with pytest.raises(EdinetApiError):
        c.download_quarterly_filings(
            ["2024-02-09", "2024-02-10"], str(tmp_path / "dl4")
        )


def test_sniff_encoding_truncated_multibyte_sample(tmp_path):
    """A 64 KiB sample that cuts a 3-byte UTF-8 character mid-sequence must
    still classify as UTF-8 (the incremental decoder treats the trailing
    partial sequence as pending, not an error) — a strict decode would
    misread the whole file as CP932 mojibake."""
    p = tmp_path / "big_utf8.csv"
    data = ("あいうえお" * 20000).encode("utf-8")
    # ensure the default 64 KiB cut lands mid-character
    assert_raises = False
    try:
        data[: 64 * 1024].decode("utf-8")
    except UnicodeDecodeError:
        assert_raises = True
    assert assert_raises, "fixture must cut a multibyte sequence"
    p.write_bytes(data)
    assert sources.sniff_encoding(str(p)) == "UTF-8"
