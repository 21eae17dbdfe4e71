"""Property-style randomized standardize tests: the polymorphic ``値``
split (reference utils/data_mapper.py:38-49) over generated realistic XBRL
value shapes, compared in ONE Spark job against a pandas model that runs
the reference's literal recipe (str.replace → to_numeric(coerce) →
notna → where).

Generator sticks to value forms that occur in filings (integers, signed
decimals, the ``－`` placeholder, JP text, codes, date strings, empty) —
the engine's contract is defined over these; pathological pseudo-numerics
like "nan"/"inf" never appear in XBRL CSV exports and are out of contract.
"""

from __future__ import annotations

import math
import random

import pandas as pd

from ir_analyses_spark.etl import standardize
from ir_analyses_spark.schemas import RAW_FILING_SCHEMA


def gen_values(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        form = rng.randrange(10)
        if form <= 2:
            out.append(str(rng.randrange(-10**12, 10**12)))
        elif form == 3:
            out.append(f"{rng.randrange(-10**6, 10**6)}.{rng.randrange(0, 100)}")
        elif form == 4:
            out.append("－")
        elif form == 5:
            out.append(rng.choice(["四半期報告書", "テスト株式会社", "連結", "ー注記ー"]))
        elif form == 6:
            out.append(f"E{rng.randrange(10000, 99999)}")
        elif form == 7:
            out.append(f"{rng.randrange(1990, 2030)}/{rng.randrange(1,13)}/{rng.randrange(1,29)}")
        elif form == 8:
            out.append("")
        else:
            out.append(f"+{rng.randrange(0, 10**6)}")
    return out


def model_split(values: list[str]) -> pd.DataFrame:
    s = pd.Series(values, dtype="object").str.replace("－", "", regex=False)
    value = pd.to_numeric(s, errors="coerce")
    is_numeric = value.notna()
    value_text = s.where(~is_numeric)
    return pd.DataFrame(
        {"value": value, "is_numeric": is_numeric, "value_text": value_text}
    )


def test_value_split_matches_pandas_model(spark):
    rng = random.Random(7)
    values = gen_values(rng, 400)
    rows = [
        ("jppfs_cor:X", "item", "CurrentYTDDuration", "当期", "連結", "期間",
         "JPY", "円", v)
        for v in values
    ]
    df = spark.createDataFrame(rows, RAW_FILING_SCHEMA)
    std = standardize.standardize_raw(df).orderBy("_row_seq")
    got = std.select("value", "is_numeric", "value_text").collect()
    want = model_split(values)

    mismatches = []
    for i, r in enumerate(got):
        wv = want["value"].iloc[i]
        wv = None if (isinstance(wv, float) and math.isnan(wv)) else float(wv)
        wt = want["value_text"].iloc[i]
        wt = None if pd.isna(wt) else wt
        if (
            r["value"] != wv
            or r["is_numeric"] != bool(want["is_numeric"].iloc[i])
            or r["value_text"] != wt
        ):
            mismatches.append((values[i], (r["value"], r["is_numeric"], r["value_text"]), (wv, want["is_numeric"].iloc[i], wt)))
    assert not mismatches, mismatches[:5]
