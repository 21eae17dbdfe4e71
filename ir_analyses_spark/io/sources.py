"""Sources: parquet table loaders, encoding-sniffed CSV/TSV scans (S1–S3).

The reference reads one filing at a time with chardet + ``pd.read_csv``
(reference utils/api.py:96-139) and bulk-backfills with a per-file python
loop (reference scripts/bypass_import_csv.py:56-72). Here the same inputs are
scanned by Spark itself; the only driver-side work is the encoding pre-pass,
because a CSV scan needs its charset up front.

Scale posture: a single ``spark.read.csv`` over a glob fans out across the
cluster; per-file lineage comes from ``input_file_name()``, not a loop. Files
whose sniffed encoding differs from the majority are read in per-encoding
groups (one Spark job per charset, still fully parallel within each).
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


def sniff_encoding(path: str, sample_bytes: int = 64 * 1024) -> str:
    """Detect a file's charset from its first bytes.

    BOM first; then chardet when importable; then a UTF-8/CP932 decode probe.
    Mirrors the reference's chardet sniff (reference utils/api.py:129-133)
    without requiring chardet to be installed.
    """
    with open(path, "rb") as f:
        head = f.read(sample_bytes)
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    try:
        import chardet  # type: ignore

        guess = chardet.detect(head)
        if guess and guess.get("encoding"):
            enc = guess["encoding"].upper()
            # chardet reports ascii subsets; widen to their supersets
            if enc in ("ASCII",):
                return "UTF-8"
            return enc
    except ImportError:
        pass
    # A fixed-size sample can cut a multibyte sequence at its end; a strict
    # decode would then misclassify valid UTF-8 (CJK text hits this with
    # ~2/3 probability at any cut point) as CP932 and the permissive scan
    # would silently ship mojibake. An incremental decoder treats a
    # trailing partial sequence as "awaiting more bytes", not an error.
    try:
        codecs.getincrementaldecoder("utf-8")().decode(head, final=False)
        return "UTF-8"
    except UnicodeDecodeError:
        return "CP932"  # Shift-JIS superset used by Japanese filings


_SIZE_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
               "p": 1 << 50}


def _parse_bytes(raw: str) -> int:
    """Spark byte-string forms ("134217728b", "128m", "128MB") as an int;
    unparseable degrades to 0 (callers treat 0 as 'assume splittable')."""
    s = str(raw).strip().lower()
    num = s.rstrip("kmgtpib")
    suffix = s[len(num):].lstrip("i")  # "mb"→"m" handled below, "mib"→"m"
    try:
        value = int(num)
    except ValueError:
        return 0
    return value * _SIZE_UNITS.get(suffix[:1] or "b", 1)


def _no_split_limit(spark: SparkSession) -> int:
    """The size at or below which a file can NEVER be split by the scan.

    Spark's actual split size is ``maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, bytesPerCore))`` where ``bytesPerCore`` depends on
    the TOTAL scan size and parallelism at plan time — so a file well under
    maxPartitionBytes can still split when the job has many cores and
    little data (bytesPerCore small → maxSplitBytes collapses to
    openCostInBytes). The only size-based guarantee that holds regardless
    of cluster shape is ``size <= min(maxPartitionBytes, openCostInBytes)``
    — use THAT as the no-split threshold for the within-filing row-order
    contract, never maxPartitionBytes alone. Unparseable confs degrade to
    0, routing every file through the order-safe non-splittable path."""
    mpb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    return min(mpb, open_cost)


def read_filing_csvs(
    spark: SparkSession,
    paths_or_glob: str | list[str],
    delimiter: str = "\t",
) -> DataFrame:
    """Scan XBRL→CSV filing exports into one raw DataFrame (S1/S2/S3).

    Accepts a glob (``download/**/*.csv``) or explicit paths. Groups files by
    sniffed encoding and unions one declarative scan per charset; each scan
    carries ``_filing_path`` lineage via ``input_file_name()`` so downstream
    conformance can treat "one filing" as a group without a per-file loop.

    Ordering contract (feeds ``standardize.ROW_SEQ``): downstream
    "last/first source row wins" rules need within-filing source order, and
    ``monotonically_increasing_id`` only preserves it when each file lands
    in ONE scan split (Spark bin-packs splits by size, not source order).
    A file can only possibly split when it exceeds
    ``min(maxPartitionBytes, openCostInBytes)`` (``_no_split_limit`` — the
    bound that holds on ANY cluster shape; Spark's actual split size also
    depends on total-bytes-per-core at plan time), so any such file is
    routed into a separate ``multiLine`` scan group — the multi-line CSV
    parser reads whole files and is non-splittable, trading split
    parallelism (only for those files) for an intrinsic order guarantee.
    """
    if isinstance(paths_or_glob, str):
        paths = sorted(glob(paths_or_glob, recursive=True))
    else:
        paths = list(paths_or_glob)
    if not paths:
        return spark.createDataFrame([], RAW_FILING_SCHEMA).withColumn(
            "_filing_path", F.lit(None).cast("string")
        )

    # Group by (charset, lineSep, splittable): Spark's CSV reader splits
    # lines on raw bytes, so multi-byte charsets (the UTF-16 EDINET exports)
    # need the line separator stated explicitly or every record lands on one
    # line. Files that could possibly be split (> the conservative no-split
    # bound, see _no_split_limit) go to a non-splittable multiLine group so
    # within-file order survives (docstring ordering contract).
    split_limit = _no_split_limit(spark)
    by_enc: dict[tuple[str, str | None, bool], list[str]] = defaultdict(list)
    for p in paths:
        enc = sniff_encoding(p)
        lsep = None
        if enc.upper().startswith("UTF-16"):
            with open(p, "rb") as f:
                head = f.read(64 * 1024)
            codec = "utf-16-le" if enc.upper().endswith("LE") else "utf-16-be"
            text = head.decode(codec, errors="ignore")
            lsep = "\r\n" if "\r\n" in text else "\n"
        splittable = os.path.getsize(p) <= split_limit
        by_enc[(enc, lsep, splittable)].append(p)

    scans = []
    for (enc, lsep, splittable), group in sorted(by_enc.items(), key=str):
        opts = {"sep": delimiter, "header": True, "encoding": enc,
                "mode": "PERMISSIVE"}
        if lsep is not None:
            opts["lineSep"] = lsep
        if not splittable:
            opts["multiLine"] = True
        scans.append(
            spark.read.schema(RAW_FILING_SCHEMA)
            .options(**opts)
            .csv(group)
            .withColumn("_filing_path", F.input_file_name())
        )
    out = scans[0]
    for s in scans[1:]:
        out = out.unionByName(s)
    return out
