"""Sources: parquet table loaders, encoding-sniffed CSV/TSV scans (S1–S3).

The reference reads one filing at a time with chardet + ``pd.read_csv``
(reference utils/api.py:96-139) and bulk-backfills with a per-file python
loop (reference scripts/bypass_import_csv.py:56-72). Here the same inputs are
scanned by Spark itself; the only driver-side work is the encoding pre-pass,
because a CSV scan needs its charset up front.

Scale posture: one ``spark.read.csv`` per sniffed charset fans out across
the cluster, one task per file or per pack of small files; per-file lineage
comes from ``input_file_name()``, not a loop. Every file is read whole, so a
file is never split across tasks, however large.
"""

from __future__ import annotations

import codecs
import os
from collections import defaultdict
from glob import glob

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import EVENTS_TS_NANOS_SCHEMA, RAW_FILING_SCHEMA, TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: footer-probe cache keyed by (file path, mtime, size) — a regenerated
#: file re-probes; an empty directory is NEVER cached (its later contents
#: must decide the unit)
_TS_UNIT_CACHE: dict[tuple[str, float, int], str] = {}


def _probe_one(probe: str) -> str:
    import pyarrow.parquet as pq

    st = os.stat(probe)
    key = (probe, st.st_mtime, st.st_size)
    hit = _TS_UNIT_CACHE.get(key)
    if hit is not None:
        return hit
    pf = pq.ParquetFile(probe)
    unit = "us"
    schema = pf.schema  # parquet (physical) schema, not the arrow view
    for i in range(len(schema)):
        col = schema.column(i)
        if col.name == "ts" and col.physical_type == "INT96":
            # legacy INT96: pyarrow reports it as timestamp[ns], but Spark
            # decodes it natively into TimestampType — no narrowing needed
            break
    else:
        ts_type = pf.schema_arrow.field("ts").type
        unit = getattr(ts_type, "unit", "us")
    if len(_TS_UNIT_CACHE) > 1024:
        _TS_UNIT_CACHE.clear()
    _TS_UNIT_CACHE[key] = unit
    return unit


def events_ts_unit(path: str) -> str:
    """Probe an events parquet footer for its timestamp unit ('us', 'ns', …).

    Driver-side footer reads, never a data scan — the same decode must work
    whether the testdata generator emitted TIMESTAMP(MICROS) (current) or
    TIMESTAMP(NANOS) (earlier rounds), so the unit is read from the file
    rather than assumed. ``path`` may be a single file or a directory of
    part files (streaming stage dirs). The cache keys on the probed file's
    (path, mtime, size), so a regenerated file re-probes, and an empty
    directory is not cached at all — files that arrive later decide.

    EVERY part file of a directory is probed (footer reads are cheap and
    cached per file) and all must agree — a mixed-unit directory (e.g. a
    stale interior part from an older generator, which a first/last sample
    would miss) fails loudly here instead of silently decoding part of the
    table 1000x off.
    """
    if os.path.isdir(path):
        parts = sorted(glob(os.path.join(path, "*.parquet"))) or sorted(
            p for p in glob(os.path.join(path, "part-*")) if os.path.isfile(p)
        )
        if not parts:
            return "us"  # uncached: an empty stage dir decides later
        units = {p: _probe_one(p) for p in parts}
        distinct = set(units.values())
        if len(distinct) > 1:
            by_unit = {u: next(p for p, x in units.items() if x == u) for u in distinct}
            raise ValueError(
                f"mixed timestamp units in {path}: "
                + ", ".join(f"{u} (e.g. {p})" for u, p in by_unit.items())
                + "; restage with one unit"
            )
        return distinct.pop()
    return _probe_one(path)


def narrow_ns_to_ts(df: DataFrame) -> DataFrame:
    """ns→µs: integer division truncates exactly like DuckDB's narrowing;
    a double division would lose precision above 2^53 ns."""
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read an events parquet file/dir with unit-correct ts decoding.

    MICROS footers read straight into TimestampType; NANOS footers arrive as
    raw INT64 (legacy nanosAsLong) and narrow via integer ``div 1000`` — the
    same truncation DuckDB applies, so the oracle agrees either way.
    """
    if events_ts_unit(path) == "ns":
        return narrow_ns_to_ts(spark.read.schema(EVENTS_TS_NANOS_SCHEMA).parquet(path))
    return spark.read.schema(TESTDATA_SCHEMAS["events"]).parquet(path)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one driver synthetic table with its declared schema."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        return read_events(spark, f"{sf_dir}/{name}.parquet")
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Encoding sniffing (S1/S2): driver-side pre-pass, Spark-side scan.
# ---------------------------------------------------------------------------

_BOMS = [
    (codecs.BOM_UTF8, "UTF-8"),
    (codecs.BOM_UTF16_LE, "UTF-16LE"),
    (codecs.BOM_UTF16_BE, "UTF-16BE"),
]


def sniff_encoding(path: str) -> str:
    """Detect a file's charset from its first 64 KiB: a BOM names it;
    otherwise a sample that decodes as UTF-8 is UTF-8, and anything else
    is ``MS932``.

    ``MS932`` is Microsoft's code page 932 in both Java and Python, the
    code page the reference's pandas reader decodes Japanese filings with
    (reference utils/api.py:129-137). Java's ``CP932``/``Shift_JIS`` are
    other code pages: they read the ``－`` placeholder (0x817C) as U+2212,
    which the standardize strip then misses, and they lack the NEC/IBM
    extensions (``髙``, ``①``, ``㈱``)."""
    with open(path, "rb") as f:
        head = f.read(64 * 1024)
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    # A fixed-size sample can cut a multibyte sequence at its end; a strict
    # decode would then misclassify valid UTF-8 (CJK text hits this with
    # ~2/3 probability at any cut point) as MS932 and the permissive scan
    # would silently ship mojibake. An incremental decoder treats a
    # trailing partial sequence as "awaiting more bytes", not an error.
    try:
        codecs.getincrementaldecoder("utf-8")().decode(head, final=False)
        return "UTF-8"
    except UnicodeDecodeError:
        return "MS932"


def read_filing_csvs(
    spark: SparkSession, paths_or_glob: str | list[str]
) -> DataFrame:
    """Scan XBRL→CSV filing exports (tab-separated) into one raw
    DataFrame (S1/S2/S3).

    Accepts a glob (``download/**/*.csv``) or explicit paths. Files are
    grouped by sniffed charset, and each group is one declarative scan
    that reads every file whole (``multiLine``), as the reference's pandas
    reader does; the scans are unioned. Each carries ``_filing_path``
    lineage via ``input_file_name()``, so downstream conformance can treat
    "one filing" as a group without a per-file loop.

    Reading whole files means the CSV parser, not a byte-level line split,
    finds the records: a quoted value may hold a line break, and the
    parser recognises LF and CRLF line ends in every charset, UTF-16
    included. It also makes the ordering contract that
    ``standardize.ROW_SEQ`` relies on hold for every file: a whole-file
    scan never splits a file, so each filing's rows come out of one task
    in source order.
    """
    if isinstance(paths_or_glob, str):
        paths = sorted(glob(paths_or_glob, recursive=True))
    else:
        paths = list(paths_or_glob)
    if not paths:
        return spark.createDataFrame([], RAW_FILING_SCHEMA).withColumn(
            "_filing_path", F.lit(None).cast("string")
        )

    by_enc: dict[str, list[str]] = defaultdict(list)
    for p in paths:
        by_enc[sniff_encoding(p)].append(p)

    scans = [
        spark.read.schema(RAW_FILING_SCHEMA)
        .options(sep="\t", header=True, encoding=enc, mode="PERMISSIVE",
                 multiLine=True)
        .csv(group)
        .withColumn("_filing_path", F.input_file_name())
        for enc, group in sorted(by_enc.items())
    ]
    out = scans[0]
    for s in scans[1:]:
        out = out.unionByName(s)
    return out
