"""Focused tests for helpers.spread_narrow (r14 optimization): the
scale-adaptive parallelism guard must fire on narrow inputs, stay a no-op
on wide ones, and never change results; and for helpers.table_bytes, the
on-disk size its callers pass as the gate's input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.ops.helpers import _parse_bytes, spread_narrow, table_bytes
from ir_analyses_spark.registry import all_queries


def test_parse_bytes_forms():
    assert _parse_bytes("134217728") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 4194304 ") == 4 << 20
    with pytest.raises(ValueError):
        _parse_bytes("not-a-size")


def test_gate_fires_on_narrow_input(spark):
    df = spark.range(1000)
    # tiny input → estimated splits < parallelism → REBALANCE hint applied
    out = spread_narrow(df, approx_input_bytes=10 << 20)
    assert "rebalance" in out._jdf.queryExecution().logical().toString().lower()


def test_gate_noop_on_wide_input(spark):
    df = spark.range(1000)
    # 100 TB-ish input → ≥ parallelism full-size splits → untouched plan
    out = spread_narrow(df, approx_input_bytes=100 << 40)
    assert out is df


def test_gate_rdd_fallback(spark):
    # no size hint → RDD partition-count gate; a 1-partition frame on a
    # multi-core master must be widened
    df = spark.range(1000).coalesce(1)
    if spark.sparkContext.defaultParallelism > 1:
        out = spread_narrow(df)
        assert (
            "rebalance"
            in out._jdf.queryExecution().logical().toString().lower()
        )


def test_pricing_summary_result_unchanged_by_guard(spark, sf_dir):
    """The guard must be result-invariant: compare the registry query
    (guard active at the test SF) against the same aggregation computed
    without the guard."""
    got = (
        all_queries()["pricing_summary"](spark, sf_dir)
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    dec = lambda c: F.sum(F.expr(f"CAST({c} AS DECIMAL(38,6))")).cast("double")  # noqa: E731
    plain = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec("l_quantity").alias("sum_qty"),
            dec("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(38,6)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(38,6)")).cast("double").alias("sum_charge"),
            (dec("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            (dec("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
            (dec("l_discount") / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in plain]


def test_table_bytes_sums_a_directory_layout_table(spark, tmp_path):
    """A table Spark wrote (a directory, here with partition
    subdirectories) is the sum of its data files — not the size of the
    directory entry — and Spark's ``_SUCCESS`` and ``.crc`` files do not
    count."""
    path = tmp_path / "documents.parquet"
    (
        spark.range(20_000)
        .selectExpr("id AS doc_id", "sha2(CAST(id AS STRING), 256) AS text",
                    "id % 2 AS part")
        .repartition(3)
        .write.partitionBy("part")
        .parquet(str(path))
    )
    data = [f for f in path.rglob("*.parquet") if not f.name.startswith(".")]
    assert len(data) >= 2 and (path / "_SUCCESS").exists()
    want = sum(f.stat().st_size for f in data)
    assert want > os.path.getsize(path)
    assert table_bytes(str(tmp_path), "documents") == want


def test_table_bytes_single_file_and_missing(sf_dir, tmp_path):
    assert table_bytes(sf_dir, "lineitem") == os.path.getsize(
        os.path.join(sf_dir, "lineitem.parquet"))
    assert table_bytes(str(tmp_path), "lineitem") is None
