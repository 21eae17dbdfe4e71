"""Bronze standardization (SURVEY §2A P1/P3, C1–C3, F6).

The reference standardizes one filing's pandas frame at a time
(reference utils/data_mapper.py:11-52): rename the 9 Japanese headers,
strip the ``－`` placeholder, split the polymorphic ``値`` column into
``value`` (numeric) / ``value_text`` / ``is_numeric``. Here the same
transform is one set-oriented ``select`` over *all* filings at once — a
bronze DataFrame keyed by ``filing_id`` — so a 100 TB backfill is a single
scan instead of a per-file Python loop
(reference scripts/bypass_import_csv.py:56-76).

Parity notes:
- ``pd.to_numeric(errors="coerce")`` → ``try_cast(double)``: both parse
  plain/scientific decimals and yield NULL/NaN otherwise
  (reference utils/data_mapper.py:41);
- after the ``－``-strip an empty string fails the cast, so ``is_numeric``
  is false and ``value_text`` keeps the empty string — identical to the
  pandas ``.where(~is_numeric)`` behavior
  (reference utils/data_mapper.py:40-47);
- ``_row_seq`` preserves source row order inside each filing; every
  "first matching row" rule downstream (conform.extract_cover_values)
  orders by it, making the reference's ``iloc[0]`` deterministic
  (SURVEY §7.3.4). ``monotonically_increasing_id`` is sequential WITHIN a
  scan split, and ``sources.read_filing_csvs`` reads every file whole, as
  one split, so the order holds for every filing by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import RAW_COLUMN_MAPPING

ROW_SEQ = "_row_seq"
FILING_ID = "filing_id"


def standardize_raw(df: DataFrame, filing_id_col: str | None = None) -> DataFrame:
    """JP→EN rename + value split. ``df`` holds one or many filings; pass
    ``filing_id_col`` (e.g. derived from ``input_file_name()``) to keep
    per-filing lineage, else a single constant filing is assumed."""
    renames = {jp: en for jp, en in RAW_COLUMN_MAPPING.items() if jp in df.columns}
    if filing_id_col is not None:
        renames[filing_id_col] = FILING_ID
    out = df.withColumnsRenamed(renames)
    if FILING_ID not in out.columns:
        out = out.withColumn(FILING_ID, F.lit("_single_"))

    stripped = "regexp_replace(original_value, '－', '')"
    value = f"try_cast({stripped} AS DOUBLE)"
    return out.selectExpr(
        *[f"`{c}`" for c in out.columns if c != "original_value"],
        f"monotonically_increasing_id() AS {ROW_SEQ}",
        f"{value} AS value",
        f"{value} IS NOT NULL AS is_numeric",
        f"CASE WHEN {value} IS NULL THEN {stripped} END AS value_text",
    )
