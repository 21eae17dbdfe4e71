"""Seeded generator of the operator-suite tables.

Writes ``<dir>/<table>.parquet`` for the TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables that the engine's
registry queries read (``ir_analyses_spark.schemas.TESTDATA_SCHEMAS``), with
the shapes of the repository's reference test data: uniform keys and
categorical columns, order and ship dates in 1995-2001, one month of events,
word-salad documents in five languages with a few exact and near
duplicates, and 64-dimensional unit embeddings around ten labelled centres.
Row counts scale linearly with ``sf`` (lineitem = 6,000,000 x sf).

The same (seed, sf) always gives the same table contents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer query "
          "filter group big vector stream").split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_DAY_US = 86_400_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * _DAY_US, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = max(100, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype="int64")
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype="int64")
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord, dtype="int64")
    lo_day, hi_day = _days(1995, 1, 1), _days(2001, 8, 1)
    odate = rng.integers(lo_day, hi_day + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_ok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[l_ok] + rng.integers(1, 96, n_li)),
    })
    start_us = _days(2024, 1, 1) * _DAY_US
    ev_ts = np.sort(start_us + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    words = np.array(_WORDS)
    for i in range(n_docs):
        roll = rng.random()
        if i > 0 and roll < 0.002:
            texts.append(texts[int(rng.integers(0, i))])               # exact dup
        elif i > 0 and roll < 0.012:
            w = texts[int(rng.integers(0, i))].split(" ")               # near dup
            w[int(rng.integers(0, len(w)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write(seed: int, sf: float, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
