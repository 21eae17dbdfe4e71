"""llm/mixture.py: temperature-flattened sampling and token-budget
subsetting vs independent pure-Python references, with vacuity guards
(quotas/budgets must BIND on the real corpus) and plan pins for the
no-global-sort scale posture."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ir_analyses_spark.io.sources import load_table
from ir_analyses_spark.llm.mixture import (
    _KNUTH,
    _M,
    temperature_sample_df,
    token_budget_subset_df,
)

SF = "/root/testdata/sf0.001"


def _prio(doc_id: int) -> int:
    # double-pmod mirrors the engine contract: reduce the id mod _M
    # FIRST so full-range xxhash64 ids never overflow int64 in any
    # engine (Python % is floor-mod == pmod)
    return ((doc_id % _M) * _KNUTH) % _M


def _py_temperature(rows, key):
    by_s: dict = {}
    for r in rows:
        by_s.setdefault(r[key], []).append(r["doc_id"])
    n_min = min(len(v) for v in by_s.values())
    kept = set()
    for s, ids in by_s.items():
        quota = min(len(ids), math.floor(math.sqrt(len(ids) * n_min)))
        ids.sort(key=lambda i: (_prio(i), i))
        kept.update(ids[:quota])
    return kept


def test_temperature_matches_python_reference_and_binds(spark):
    docs = load_table(spark, "documents", SF)
    rows = [r.asDict() for r in docs.select("doc_id", "lang").collect()]
    want = _py_temperature(rows, "lang")
    got = {
        r["doc_id"]
        for r in temperature_sample_df(docs, source_col="lang").collect()
    }
    assert got == want
    # vacuity: at least one language was actually downsampled, and the
    # smallest language kept everything
    n_s = {}
    for r in rows:
        n_s[r["lang"]] = n_s.get(r["lang"], 0) + 1
    kept_per = {}
    for r in rows:
        if r["doc_id"] in got:
            kept_per[r["lang"]] = kept_per.get(r["lang"], 0) + 1
    assert any(kept_per[s] < n_s[s] for s in n_s)
    smallest = min(n_s, key=n_s.get)
    assert kept_per[smallest] == n_s[smallest]
    # flattening direction: kept counts are more uniform than inputs
    def spread(d):
        return max(d.values()) / min(d.values())
    assert spread(kept_per) < spread(n_s)


def test_temperature_stable_under_other_sources(spark):
    """Removing a whole OTHER language never changes which docs a
    language keeps when its quota is unchanged (hash-priority ranking
    is per-source)."""
    docs = load_table(spark, "documents", SF)
    full = {
        (r["lang"], r["doc_id"])
        for r in temperature_sample_df(docs, source_col="lang").collect()
    }
    # drop a mid-sized language; n_min (the anchor) must survive
    counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    smallest = min(counts, key=counts.get)
    biggest = max(counts, key=counts.get)
    drop = next(s for s in counts if s not in (smallest, biggest))
    sub = temperature_sample_df(
        docs.filter(F.col("lang") != drop), source_col="lang"
    )
    sub_keep = {(r["lang"], r["doc_id"]) for r in sub.collect()}
    assert sub_keep == {(s, d) for s, d in full if s != drop}


def _py_budget(rows, share):
    by_s: dict = {}
    for r in rows:
        by_s.setdefault(r["source"], []).append(r)
    kept = {}
    for s, rs in by_s.items():
        rs.sort(key=lambda r: (_prio(r["doc_id"]), r["doc_id"]))
        cum = 0
        for r in rs:
            if cum < share:
                kept[r["doc_id"]] = cum
            cum += r["n_tokens"]
    return kept


def test_budget_matches_python_reference_and_binds(spark):
    docs = load_table(spark, "documents", SF).select("doc_id", "source", "text")
    n_sources = docs.select("source").distinct().count()
    budget = 10_000
    rows = [
        r.asDict()
        for r in docs.select(
            "doc_id",
            "source",
            F.size(
                F.filter(F.split("text", r"\s+"), lambda w: w != F.lit(""))
            ).cast("bigint").alias("n_tokens"),
        ).collect()
    ]
    want = _py_budget(rows, budget // n_sources)
    got = {
        r["doc_id"]: r["tok_start"]
        for r in token_budget_subset_df(docs, budget).collect()
    }
    assert got == want
    assert 0 < len(got) < len(rows)  # the budget binds, nonempty
    # total kept tokens per source never exceeds share + one overrun doc
    share = budget // n_sources
    tok = {r["doc_id"]: r["n_tokens"] for r in rows}
    per_source: dict = {}
    for r in rows:
        if r["doc_id"] in got:
            per_source.setdefault(r["source"], []).append(r["doc_id"])
    for s, ids in per_source.items():
        total = sum(tok[i] for i in ids)
        assert total - max(tok[i] for i in ids) < share


def test_budget_rejects_negative(spark):
    import pytest

    docs = load_table(spark, "documents", SF)
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_subset_df(docs, -1)


def test_plans_never_global_sort(spark):
    """Both operators: the selection window is hash-partitioned on the
    source key — a global ORDER BY (range partition) would
    single-partition the corpus. (The registry queries' tiny OUTPUT
    orderBy is excluded by testing the operator frames directly.)"""
    docs = load_table(spark, "documents", SF)
    for df in (
        temperature_sample_df(docs, source_col="lang"),
        token_budget_subset_df(
            docs.select("doc_id", "source", "text"), 10_000
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange rangepartitioning" not in plan, plan
        assert "Exchange hashpartitioning" in plan
        assert "Window" in plan


def test_priority_is_overflow_safe_for_xxhash_ids(spark):
    """Full-range signed doc_ids (what curate.py produces) must rank
    identically in Spark, DuckDB, and the Python model — the raw
    id*KNUTH product overflows int64 (Spark wraps, DuckDB raises),
    so the priority reduces the id mod _M first (review-caught)."""
    import duckdb

    from ir_analyses_spark.llm.mixture import _priority

    ids = spark.range(2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("doc_id")
    )
    got = {
        r["doc_id"]: r["p"]
        for r in ids.select("doc_id", _priority(F.col("doc_id")).alias("p")).collect()
    }
    assert all(0 <= p < _M for p in got.values())
    for i, p in got.items():
        assert p == _prio(i), i
    # DuckDB evaluates the same formula without overflow
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in got])
    sql = (
        f"SELECT doc_id, ((((doc_id % {_M} + {_M}) % {_M}) * {_KNUTH})"
        f" % {_M} + {_M}) % {_M} AS p FROM t"
    )
    for i, p in con.execute(sql).fetchall():
        assert p == got[i], i


def test_null_source_is_a_real_group(spark):
    """NULL-source docs form their own group in BOTH operators: they
    receive a temperature quota (not silently dropped by the join) and
    count toward the budget's per-source share divisor."""
    rows = [(i, "a", "w " * 20) for i in range(40)]
    rows += [(100 + i, None, "w " * 20) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = temperature_sample_df(docs).collect()
    by_src = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    # NULL group (n=10) is the anchor: keeps all 10; 'a' downsamples to
    # floor(sqrt(40*10)) = 20
    assert by_src[None] == 10
    assert by_src["a"] == 20
    # budget: 2 groups -> share = 40 tokens each -> 2 docs per group
    sub = token_budget_subset_df(docs, 80).collect()
    per = {}
    for r in sub:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert per == {"a": 2, None: 2}


def test_property_random_corpora_match_reference(spark):
    """Randomized battery: signed full-range ids, skewed source sizes,
    NULL sources, empty texts — both operators must match the
    pure-Python references exactly on every draw."""
    import random

    rng = random.Random(20260815)
    for trial in range(4):
        n_sources = rng.randint(1, 6)
        rows = []
        used = set()
        for s in range(n_sources):
            src = None if (s == 0 and trial % 2) else f"s{s}"
            for _ in range(rng.randint(1, 40)):
                while True:
                    i = rng.randint(-(2**62), 2**62)
                    if i not in used:
                        used.add(i)
                        break
                n_words = rng.choice([0, 1, 3, 8, 20])
                rows.append((i, src, "w " * n_words))
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        # temperature
        want = _py_temperature(
            [{"doc_id": i, "source": s} for i, s, _ in rows], "source"
        )
        got = {r["doc_id"] for r in temperature_sample_df(docs).collect()}
        assert got == want, f"trial {trial} temperature"
        # budget
        budget = rng.choice([0, 7, 50, 10_000])
        groups = {s for _, s, _ in rows}
        share = budget // len(groups)
        toks = [
            {"doc_id": i, "source": s, "n_tokens": len(t.split())}
            for i, s, t in rows
        ]
        want_b = _py_budget(toks, share)
        got_b = {
            r["doc_id"]: r["tok_start"]
            for r in token_budget_subset_df(docs, budget).collect()
        }
        assert got_b == want_b, f"trial {trial} budget {budget}"


def test_temperature_oracle_keeps_null_lang_groups(spark):
    """r8 ADVICE: the DuckDB oracle joined 'r.lang = q.lang', whose
    NULL-dropping semantics would silently diverge from the
    implementation's eqNullSafe join if documents ever gained a NULL
    lang. The oracle now uses IS NOT DISTINCT FROM; certify the
    equivalence on a corpus WITH a NULL lang."""
    import duckdb

    from ir_analyses_spark.llm.mixture import TEMPERATURE_MIXTURE_SQL

    rows = [(i, "big", "t") for i in range(64)]
    rows += [(100 + i, None, "t") for i in range(9)]
    rows += [(200 + i, "mid", "t") for i in range(25)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["lang"], r["n_kept"])
        for r in temperature_sample_df(docs, source_col="lang")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, lang VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(i, s) for i, s, _ in rows],
    )
    want = set(map(tuple, con.execute(TEMPERATURE_MIXTURE_SQL).fetchall()))
    assert got == want
    # NULL group (n=9) is the anchor and keeps everything
    assert (None, 9) in got


def test_token_count_vertical_tab_cross_engine(spark):
    """The token-count oracles use an explicit whitespace class: a bare
    \\s+ diverges on vertical tab (Java includes \\x0B, RE2 does not).
    Pin Spark == DuckDB on a corpus containing one."""
    import duckdb

    from ir_analyses_spark.llm.mixture import _token_budget_sql

    rows = [(0, "a", "one\x0btwo three"), (1, "a", "x y")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["doc_id"], r["n_tokens"])
        for r in token_budget_subset_df(docs, 1000).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, source VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    sql = _token_budget_sql().replace(str(10_000), str(1000), 1)
    want = {(d, n) for d, _, n, _ in con.execute(sql).fetchall()}
    assert got == want
    assert (0, 3) in got  # \x0b split into a real boundary
