"""Shared helpers for the operator library.

Oracle-exact aggregation: the driver hash-compares our results against a
DuckDB oracle. Floating-point SUM is not associative, and Spark's partial/
final aggregation adds doubles in a different order than DuckDB's sequential
scan — the low-order bits would diverge and the value-hash would miss. So
every headline SUM/AVG over a double column routes through an exact decimal
accumulator (associative, order-insensitive) and casts the final result back
to double. The per-row double→decimal cast happens inside whole-stage
codegen; at 100 TB this is the price of a reproducible answer, and it is the
same trick TPC-H kit queries use (decimal money types) expressed on parquet
double columns.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from ..io.sources import DEFAULT_SF_DIR


def local_df(spark, rows, schema) -> DataFrame:
    """A DataFrame over a small driver-local list of PRIMITIVE-typed
    rows that plans as a pure-JVM ``LocalRelation`` instead of a
    Python-RDD scan.

    ``spark.createDataFrame(list, schema)`` yields a ``LogicalRDD``
    whose EVERY action round-trips a Python worker — measured 5-7 s per
    job for a ONE-ROW frame on this box (r14, guide §4: the Python
    boundary), paid by every metadata write and literal lookup table
    sitting on a query path. Routing the same rows through a pandas
    frame takes Spark's Arrow conversion into a ``LocalRelation``: same
    rows, same schema, pure JVM execution (~0.2 s per job).

    Scope guard: cells must be int / float / str / bool / None and rows
    tuples or lists (positional against ``schema``). Richer cells
    (timestamps, decimals, nested) have conversion semantics that can
    differ between the two paths — keep those on ``createDataFrame``.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    for r in rows:
        for c in r:
            if c is not None and not isinstance(c, (int, float, str, bool)):
                raise TypeError(
                    f"local_df cells must be primitives, got {type(c)!r}"
                )
    import pandas as pd

    # dtype=object keeps ints exact (no int->float NaN promotion when a
    # column mixes None) — Arrow casts each cell straight to the schema
    # field's type, exactly like the row-based path
    pdf = pd.DataFrame(rows, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)


def spread_narrow(df: DataFrame, approx_input_bytes: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism guard for expensive aggregation work over
    a NARROW scan (guide §2.5/§2.6 shape; the dedup module's ``_spread``
    discipline applied to the relational side).

    A small parquet input arrives as ONE split (single row group), so the
    map-side partial aggregation — e.g. pricing_summary's five exact
    decimal(38,6) sums, measured ~1.5 s single-threaded at sf0.1 vs ~0.3 s
    for the bare scan — runs on one core while the rest of the cluster
    idles. When the scan has fewer partitions than the cluster's
    parallelism, a REBALANCE exchange of the (projected) rows fans the
    aggregation out; measured 2.5-3× on pricing_summary (guide §1.2 step 1:
    fix the distributed shape first).

    At real scale the scan already has ≥ defaultParallelism splits and this
    is a NO-OP — no exchange is added, so it is not a local-only tuning.
    Row→partition assignment is not deterministic under fetch-failure
    retries (round-robin), which is safe here exactly because every
    consumer is an order-insensitive aggregation (the decimal-accumulator
    discipline this module exists for); do NOT reuse this in front of
    order-sensitive operators.

    Gate cost matters: ``df.rdd.getNumPartitions()`` (the dedup module's
    gate) re-plans the query and measured ~0.1 s per call — most of the
    win. When the caller knows the input's on-disk size it passes
    ``approx_input_bytes`` and the split count is estimated Python-side
    (mirroring ``FilePartition.maxSplitBytes``: split size =
    min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))) for a
    ~0-cost gate; the RDD-based gate stays as the fallback.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    narrow: bool | None = None
    if approx_input_bytes is not None:
        try:
            conf = df.sparkSession.conf
            max_pb = _parse_bytes(
                conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
            )
            open_cost = _parse_bytes(
                conf.get("spark.sql.files.openCostInBytes", str(4 << 20))
            )
            split = min(max_pb, max(open_cost, approx_input_bytes // max(par, 1)))
            n_splits = max(1, -(-approx_input_bytes // max(split, 1)))
            narrow = n_splits < par
        except (TypeError, ValueError):
            narrow = None  # unparsable deployment conf → RDD gate below
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < par
    return df.hint("REBALANCE") if narrow else df


def table_bytes(sf_dir: str | None, name: str) -> int | None:
    """On-disk size of the testdata table ``name`` (``<sf_dir>/<name>.parquet``,
    ``sf_dir`` defaulting like ``io.sources.load_table``) — the ~0-cost
    ``approx_input_bytes`` of :func:`spread_narrow`. A single-file table is
    its file's size; a directory-layout table sums its data files, skipping
    the ``_``- and ``.``-prefixed files and directories Spark's reader skips
    (``_SUCCESS``, checksums, staging). None when the path is neither a
    readable file nor a directory (e.g. a remote URI); each caller picks its
    own fallback gate."""
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for d, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        return total
    except OSError:
        return None


_BYTE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark size-conf string → bytes ('134217728', '128m', '1g', ...)."""
    s = str(v).strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _BYTE_SUFFIX[suf])
    return int(s)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive SUM of a double column, returned as double."""
    return F.sum(_c(col).cast(f"decimal(38,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive AVG: exact decimal sum, double division by count."""
    c = _c(col)
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(c)


def sql_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`dsum` for oracle SQL strings."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"
        f" / COUNT({expr})"
    )
