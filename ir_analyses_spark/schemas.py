"""Declared StructType schemas for the tables the engine reads.

The reference declares its warehouse schema twice (SQLAlchemy ORM,
reference utils/db_models.py:24-122; DDL, reference sql/ddl.sql:107-256) and
infers its ingest schema per-file with pandas. The engine declares its
inputs once, here, and never infers: explicit schemas are what let the
parquet scanner prune columns and let the CSV reader run PERMISSIVE without
a sampling pass over 100 TB of input. The silver warehouse tables take their
schemas from the conform projections that build them (``etl/conform.py``),
and a load reads its own tables back with the schema of the frame it writes.

Type mapping rationale (SURVEY §1.2):
- surrogate keys are deterministic ``xxhash64`` LongType values, not DB
  identity sequences (no sequences in a distributed engine; deterministic
  keys make reloads idempotent and kill the reference's flush-to-get-an-id
  dance, reference utils/service/financial_service.py:206-232);
- the canonical fact value is DecimalType(20, 0) exactly mirroring
  ``numeric(20)`` (reference sql/ddl.sql:228) — exact, never double;
- varchar length limits become data-quality validations, not types.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw filing CSV: the 9-column Japanese-headed XBRL→CSV export layout
# (reference utils/data_mapper.py:26-36). Header names as shipped by EDINET.
# ---------------------------------------------------------------------------

RAW_JP_COLUMNS = [
    "要素ID",
    "項目名",
    "コンテキストID",
    "相対年度",
    "連結・個別",
    "期間・時点",
    "ユニットID",
    "単位",
    "値",
]

#: JP header → standardized english name (reference utils/data_mapper.py:26-36)
RAW_COLUMN_MAPPING = {
    "要素ID": "element_id",
    "項目名": "item_name_jp",
    "コンテキストID": "context_id",
    "相対年度": "fiscal_year_relative",
    "連結・個別": "consolidated_type",
    "期間・時点": "period_type",
    "ユニットID": "unit_id",
    "単位": "unit_name",
    "値": "original_value",
}

RAW_FILING_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in RAW_JP_COLUMNS]
)

#: Post-rename schema (all-string; standardize.py derives typed columns).
STANDARDIZED_INPUT_COLUMNS = list(RAW_COLUMN_MAPPING.values())

# ---------------------------------------------------------------------------
# Driver synthetic tables (TESTDATA.md / FIXTURES.md §4) — declared so scans
# never rely on inference and column pruning is schema-checked.
# ---------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            # on disk: TIMESTAMP(MICROS) — Spark's native unit, read directly.
            # Data regenerated with TIMESTAMP(NANOS) instead is handled by a
            # footer probe in io.sources (nanos arrive as raw longs under
            # legacy nanosAsLong and narrow via integer `div 1000`, the same
            # truncation DuckDB applies); see EVENTS_TS_NANOS_SCHEMA.
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

#: Read-schema for an events file whose footer declares TIMESTAMP(NANOS):
#: under ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as a raw
#: INT64 and io.sources narrows it to micros. Same shape as
#: ``TESTDATA_SCHEMAS["events"]`` with only ``ts`` retyped.
EVENTS_TS_NANOS_SCHEMA = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.LongType(), True)
        for f in TESTDATA_SCHEMAS["events"].fields
    ]
)

# ---------------------------------------------------------------------------
# Multimodal column conventions (llm/multimodal.py): media payloads are opaque
# binary columns + a typed metadata struct, the layout `binaryFile` + decode
# UDFs produce and consume.
# ---------------------------------------------------------------------------

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),  # image/audio/video
        T.StructField("format", T.StringType(), True),  # png/jpeg/wav/mp4…
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META_SCHEMA, True),
    ]
)
