"""Aggregation operators: hash agg, distinct agg, rollup/cube/grouping sets,
pivot/unpivot, approx sketches (SURVEY §2B Aggregation; §2A A1–A4, R3/R4).

All group-bys here are plain ``groupBy().agg`` — Catalyst plans a partial
(map-side combine) + final hash aggregate automatically, so shuffle volume is
the number of groups, not the number of rows. That is the property that makes
these safe at 100 TB: every query below shuffles a few dozen to a few
thousand group rows regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..io.sources import load_table
from .helpers import davg, dsum, spread_narrow, sql_davg, sql_dsum, table_bytes


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary over lineitem.

    The reference's whole analytical surface is grouped measures over a fact
    table (margins per report, reference utils/service/financial_service.py:150-164);
    this is that shape at scale: scan → pushed-down date filter → 4-group
    hash agg. At 100 TB the scan dominates; only ~6 group rows shuffle.

    The filtered rows are projected to the six aggregation inputs (project
    before any exchange, guide §2.3) and run through
    :func:`~.helpers.spread_narrow`: on a narrow single-split input the
    five decimal(38,6) partial sums are the measured bottleneck (~1.5 s
    single-threaded at sf0.1 vs ~0.3 s scan), so the guard fans them out;
    at scale it is a no-op and the plan is unchanged.
    """
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    rows = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    )
    return (
        spread_narrow(rows, approx_input_bytes=table_bytes(sf_dir, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + SUM(DISTINCT) per group (§2A A2 nunique oracle)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.sum_distinct(F.col("l_quantity").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_distinct_qty"),
    )


DISTINCT_AGG_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
"""


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id (§2B)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().alias("gid"),
        )
    )


ROLLUP_AGG_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority) (§2B)."""
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().alias("gid"),
    )


CUBE_AGG_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       {sql_dsum('o_totalprice')} AS sum_price,
       COUNT(*) AS n_orders,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with a declared column list (§2A R3).

    The reference pivots EAV fact rows to one wide row per report over a
    *declared* element list (reference utils/service/financial_service.py:127);
    the engine rule is the same: never unbounded ``pivot`` on an open domain.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


PIVOT_AGG_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_open,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""


def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long via ``unpivot`` (§2A R4 reshape)."""
    c = load_table(spark, "customer", sf_dir)
    return c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey_d"),
    ).unpivot("c_custkey", ["acctbal", "nationkey_d"], "measure", "val")


UNPIVOT_MELT_SQL = """
SELECT c_custkey, measure, val FROM (
  SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS val FROM customer
  UNION ALL
  SELECT c_custkey, 'nationkey_d' AS measure, CAST(c_nationkey AS DOUBLE) AS val FROM customer
)
"""


def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distinct-by-key (§2A A1).

    ``dropDuplicates`` keeps an arbitrary survivor; the engine's canonical
    dedup is rank-1-per-key with a total order (SURVEY §7.3.4) so reloads are
    idempotent. Survivor: lowest orderkey per (custkey, orderstatus).
    """
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderstatus", "o_orderkey", "o_totalprice")
    )


DEDUP_BY_KEY_SQL = """
SELECT o_custkey, o_orderstatus, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderstatus, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) AS rn
  FROM orders
)
WHERE rn = 1
"""


def latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-order-per-customer: the reference's find_latest_by_company_id
    (§2A A4, reference utils/repositories/financial_report_repository.py:18-25)
    generalized relation-wide as a rank window with a total order
    (o_orderdate DESC, o_orderkey DESC tiebreak — SURVEY §7.3.4)."""
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


LATEST_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
WHERE rn = 1
"""


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + approximate quantiles (§2B approx).

    Sketch outputs are estimator-specific, so no DuckDB oracle exists —
    registered as a rows-only check. At 100 TB these replace exact
    countDistinct (full shuffle of the key domain) with fixed-size state.
    Quantiles are emitted as three SCALAR columns (not one array column):
    the driver's canonicalization — like any hash-compare — needs hashable
    scalar cells.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("price_q50"),
        F.percentile_approx("l_extendedprice", 0.95).alias("price_q95"),
        F.percentile_approx("l_extendedprice", 0.99).alias("price_q99"),
    )


def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (§2B approx, the distributed form): build a
    Datasketches HLL per (returnflag, linestatus) cell, then UNION the
    binary sketches up to per-returnflag totals — the two-level rollup
    every incremental/aggregate-table pipeline needs, impossible with
    plain approx_count_distinct (estimates don't add; sketches do).

    ``tests/test_oracle_parity.py`` runs it rows-only; the in-repo
    merge-consistency test pins the property that makes it correct at any
    scale: the UNION result is independent of how the data was
    partitioned (register-wise max is associative/commutative), and its
    estimate stays within the sketch's error bound of the exact count.
    Note union-of-parts is NOT numerically identical to a directly-built
    single sketch in estimation mode — a direct sketch answers with the
    more accurate HIP estimator, which a union invalidates (composite
    estimator instead); both are within the error bound, and only the
    partition-independence matters for rollup correctness.
    """
    li = load_table(spark, "lineitem", sf_dir)
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch")
    )
    return (
        cells.groupBy("l_returnflag")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "l_returnflag",
            F.hll_sketch_estimate("merged").alias("approx_parts"),
        )
    )


def exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile (median) — oracle-checked counterpart of
    the approx sketch, rounded to 6 dp to absorb interpolation ulp drift."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q1_qty"),
    )


EXACT_MEDIAN_SQL = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS median_price,
       ROUND(QUANTILE_CONT(l_quantity, 0.25), 6) AS q1_qty
FROM lineitem
GROUP BY l_returnflag
"""


def minmax_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max + extreme-row extraction — the deterministic first-row
    family (§2A A3: ``.iloc[0]`` after filter, made order-total).

    Bare ``min_by(key, price)`` is NOT order-total: two orders sharing the
    extreme price let each engine pick its own survivor. The extreme row
    is instead the lexicographic min/max over a (price, orderkey) STRUCT —
    a total order both engines implement identically."""
    o = load_table(spark, "orders", sf_dir)
    pk = F.struct(
        F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
    )
    return o.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
        F.min(pk).getField("k").alias("cheapest_order"),
        F.max(pk).getField("k").alias("priciest_order"),
    )


MINMAX_EXTREMES_SQL = """
SELECT o_orderstatus,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date,
       (MIN(struct_pack(p := o_totalprice, k := o_orderkey))).k AS cheapest_order,
       (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).k AS priciest_order
FROM orders
GROUP BY o_orderstatus
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (§2B): per-flag, per-status, and grand-total
    groups in one pass — the general form rollup/cube specialize."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum("l_quantity")} AS sum_qty,
               COUNT(*) AS n_rows,
               grouping_id() AS gid
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


GROUPING_SETS_AGG_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the DESCRIBE/ANALYZE data-quality summary every
    warehouse engine ships): per-column row count, null count, exact
    distinct count, min and max — computed in ONE scan (all fifteen
    measures in a single aggregate, reshaped long with ``stack``).

    Scale note: one pass over the table; the exact countDistincts expand
    the aggregate (Spark plans an Expand + two-phase agg for multiple
    distincts) — at 100 TB you swap them for ``approx_count_distinct``
    (see ``approx_sketches``) and keep the same one-scan shape.
    """
    li = load_table(spark, "lineitem", sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


COLUMN_PROFILE_SQL = """
SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT l_quantity) AS n_distinct,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*),
       CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT l_extendedprice),
       CAST(MIN(l_extendedprice) AS DOUBLE),
       CAST(MAX(l_extendedprice) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*),
       CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT l_discount),
       CAST(MIN(l_discount) AS DOUBLE),
       CAST(MAX(l_discount) AS DOUBLE)
FROM lineitem
"""


def outlier_iqr_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection (Tukey IQR fences): per event type, the
    DISCRETE quartiles of ``value`` (percentile_disc picks actual data
    points — both engines' disc definitions align, unlike interpolated
    quantiles whose arithmetic can differ by an ulp and flip a boundary
    comparison), fences at q1/q3 ± 1.5·IQR, and the outlier count. All
    fence arithmetic is IEEE doubles over exact data values in a fixed
    order, so the flags are engine-exact.

    Scale shape: one partial/final aggregate for the quartiles (disc
    percentile is a sort-based agg per group — 5 small groups here; at a
    huge group count you'd switch to approx_percentile and accept the
    sketch bound), the tiny fence table broadcast back onto the scan, and
    the count folds map-side. The raw stream is never collected."""
    ev = load_table(spark, "events", sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    fenced = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        "value",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        fenced.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.min("lo").alias("lo_fence"),
            F.max("hi").alias("hi_fence"),
        )
    )


OUTLIER_IQR_FLAGS_SQL = """
WITH q AS (
  SELECT event_type,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.value < q1 - 1.5 * (q3 - q1)
                       OR e.value > q3 + 1.5 * (q3 - q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MIN(q1 - 1.5 * (q3 - q1)) AS lo_fence,
       MAX(q3 + 1.5 * (q3 - q1)) AS hi_fence
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
"""


QUERIES = {
    "pricing_summary": pricing_summary,
    "column_profile": column_profile,
    "grouping_sets_agg": grouping_sets_agg,
    "distinct_agg": distinct_agg,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "pivot_agg": pivot_agg,
    "unpivot_melt": unpivot_melt,
    "dedup_by_key": dedup_by_key,
    "latest_per_group": latest_per_group,
    "approx_sketches": approx_sketches,
    "hll_mergeable_rollup": hll_mergeable_rollup,
    "exact_median": exact_median,
    "minmax_extremes": minmax_extremes,
    "outlier_iqr_flags": outlier_iqr_flags,
}

ORACLES = {
    "pricing_summary": PRICING_SUMMARY_SQL,
    "column_profile": COLUMN_PROFILE_SQL,
    "grouping_sets_agg": GROUPING_SETS_AGG_SQL,
    "distinct_agg": DISTINCT_AGG_SQL,
    "rollup_agg": ROLLUP_AGG_SQL,
    "cube_agg": CUBE_AGG_SQL,
    "pivot_agg": PIVOT_AGG_SQL,
    "unpivot_melt": UNPIVOT_MELT_SQL,
    "dedup_by_key": DEDUP_BY_KEY_SQL,
    "latest_per_group": LATEST_PER_GROUP_SQL,
    # approx_sketches: estimator-specific, rows-only check by design
    "exact_median": EXACT_MEDIAN_SQL,
    "minmax_extremes": MINMAX_EXTREMES_SQL,
    "outlier_iqr_flags": OUTLIER_IQR_FLAGS_SQL,
}
