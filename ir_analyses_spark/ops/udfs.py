"""UDF/UDAF/UDTF surface (SURVEY §2B "UDF/UDAF/UDTF: scalar & grouped").

The reference's only user functions are pure-Python parser helpers
(reference utils/parser.py:16-131), all re-expressed as native columns in
etl/parsers.py. This module declares the *engine capability* for when
Python genuinely is the operator: Arrow-vectorized scalar pandas UDFs,
grouped-agg pandas UDFs, ``applyInPandas`` group transforms, and Python
UDTFs (lateral table functions).

Engine policy (SURVEY §2A "UDF surface"): built-ins first — these exist for
semantics built-ins can't express. Every query here is still
oracle-checked: the UDF bodies are written to be exactly reproducible
(integer sums below 2^53, IEEE per-op arithmetic, total-order tiebreaks),
which is the discipline any production pandas UDF at 100 TB needs anyway
(a result that depends on partitioning is a bug, not a performance win).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf, udtf

from ..io.sources import load_table

# NB: pandas_udf/udtf return-type parsing needs a live SparkSession, so all
# UDF objects are built lazily inside the query functions, never at import.


# ---------------------------------------------------------------------------
# scalar pandas UDF: Arrow-batched, elementwise
# ---------------------------------------------------------------------------

def pandas_udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar UDF over lineitem: discounted price per line.
    Arrow ships columns, numpy computes, no per-row Python — the ~10-100×
    rule vs row-at-a-time udf() (SURVEY §2B)."""

    @pandas_udf("double")
    def discounted_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        # elementwise IEEE double ops — bit-identical to the SQL expression
        return price * (1.0 - discount)

    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


PANDAS_UDF_VECTORIZED_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price
FROM lineitem
"""


# ---------------------------------------------------------------------------
# grouped-agg pandas UDF (UDAF)
# ---------------------------------------------------------------------------

def pandas_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: per-flag integer quantity total.
    Spark plans it like any UDAF (partial per partition is not available for
    pandas grouped aggs — the group's column ships once), here over 3 groups."""

    @pandas_udf("long")
    def int_quantity_sum(qty: pd.Series) -> int:
        # quantities are integral doubles ≤ 50; a float64 sum of integers
        # below 2^53 is exact in ANY accumulation order → partition-independent
        return int(qty.sum())

    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        int_quantity_sum("l_quantity").alias("sum_qty")
    )


PANDAS_GROUPED_AGG_SQL = """
SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# applyInPandas: arbitrary per-group transform
# ---------------------------------------------------------------------------

def _top2(pdf: pd.DataFrame) -> pd.DataFrame:
    # total order (price desc, orderkey, linenumber) → deterministic top-2
    out = pdf.sort_values(
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        ascending=[False, True, True],
    ).head(2)
    out = out.copy()
    out["rnk"] = range(1, len(out) + 1)
    return out


def apply_in_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(flag,status) top-2 lines by price via ``applyInPandas`` — the
    escape hatch for group logic that windows can't express (here they
    could; the point is proving the surface against the window oracle)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber",
        "l_extendedprice",
    )
    return li.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        _top2,
        schema=(
            "l_returnflag string, l_linestatus string, l_orderkey bigint, "
            "l_linenumber int, l_extendedprice double, rnk long"
        ),
    )


APPLY_IN_PANDAS_TOPK_SQL = """
SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
       l_extendedprice, rnk
FROM (
  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
         l_extendedprice,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag, l_linestatus
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS rnk
  FROM lineitem
) WHERE rnk <= 2
"""


# ---------------------------------------------------------------------------
# Python UDTF: lateral table function (Spark 3.5+)
# ---------------------------------------------------------------------------

class _ExpandSeq:
    """Yield (orderkey, 1..(orderkey mod 3)+1) — a deterministic row
    expander exercising the UDTF protocol."""

    def eval(self, o_orderkey: int):
        if o_orderkey is None:
            # emit nothing, like the oracle's UNNEST(range(1, NULL)) — a
            # bare `None % 3` would kill the whole task instead
            return
        for s in range(1, o_orderkey % 3 + 2):
            yield o_orderkey, s


def python_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral UDTF join: each order expands to 1..k rows (§2B UDTF)."""
    orders = load_table(spark, "orders", sf_dir)
    orders.createOrReplaceTempView("_udtf_orders")
    expand_seq = udtf(_ExpandSeq, returnType="o_orderkey: bigint, seq: bigint")
    spark.udtf.register("expand_seq", expand_seq)
    return spark.sql(
        "SELECT e.o_orderkey, e.seq "
        "FROM _udtf_orders o, LATERAL expand_seq(o.o_orderkey) e"
    )


PYTHON_UDTF_EXPAND_SQL = """
SELECT o_orderkey, UNNEST(range(1, o_orderkey % 3 + 2)) AS seq
FROM orders
"""


QUERIES = {
    "pandas_udf_vectorized": pandas_udf_vectorized,
    "pandas_grouped_agg_udf": pandas_grouped_agg_udf,
    "apply_in_pandas_topk": apply_in_pandas_topk,
    "python_udtf_expand": python_udtf_expand,
}

ORACLES = {
    "pandas_udf_vectorized": PANDAS_UDF_VECTORIZED_SQL,
    "pandas_grouped_agg_udf": PANDAS_GROUPED_AGG_SQL,
    "apply_in_pandas_topk": APPLY_IN_PANDAS_TOPK_SQL,
    "python_udtf_expand": PYTHON_UDTF_EXPAND_SQL,
}
