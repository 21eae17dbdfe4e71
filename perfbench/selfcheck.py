#!/usr/bin/env python3
"""Self-checks of the benchmark's own math and generators.

    python3 perfbench/selfcheck.py    # starts Spark once

1. The reported tail percentile has at least 10 samples beyond it.
2. The ``failed_frac`` base counts refused and errored requests.
3. The generators give byte-identical output for the same seed.
4. On a tiny corpus the generator's expected summaries equal the engine's
   backfill + ``financial_summary`` and an independent DuckDB recomputation
   from the CSV files as written; the expected silver row counts equal the
   engine's.
5. ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import io
import json
import math
import os
import random
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import filings  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def tail_percentile() -> None:
    rng = random.Random(0)
    for n in (1, 5, 19, 20, 21, 24, 40, 99, 100, 101, 999, 1000, 1001, 5000, 20000):
        xs = [rng.expovariate(1.0) for _ in range(n)]
        value, label, count = stats.tail(xs)
        beyond = sum(1 for x in xs if x > value)
        if n <= 2 * stats.TAIL_MIN_BEYOND:
            check(label == "max" and value == max(xs), f"tail of {n} samples is the max")
        else:
            check(beyond >= stats.TAIL_MIN_BEYOND and value >= statistics.median(xs),
                  f"tail {label} of {n} samples has {beyond} >= 10 beyond, not under the median")
    value, label, _ = stats.tail([float(i) for i in range(1, 1001)])
    check((value, label) == (990.0, "p99"), "p99 of 1..1000 is 990 by nearest rank")


def failed_frac_base() -> None:
    from workloads import FilingPipeline

    from ir_analyses_spark.queries import summary as summary_q

    corpus = filings.generate(3, 2, [2023], rows_per_filing=40)
    w = FilingPipeline.__new__(FilingPipeline)
    w.tracer, w.outcomes, w.ops = None, stats.Outcomes(), []
    w.corpus, w.t = corpus, {k: None for k in ("companies", "reports", "facts", "items")}
    w.ranked, w.cum = corpus.companies, [1.0, 2.0]
    w.company_id = {c.edinet_code: i for i, c in enumerate(corpus.companies)}
    w.item_id = {}
    w.expected = {c.edinet_code: ("right",) for c in corpus.companies}

    class Refused(RuntimeError):
        pass

    def refuse(*a, **k):
        raise Refused("request refused")

    class Wrong:
        def collect(self):
            return [("wrong",)]

    real = summary_q.financial_summary
    try:
        summary_q.financial_summary = refuse
        latency = w._request(random.Random(1), 0)
        check(math.isnan(latency) and (w.outcomes.attempted, w.outcomes.failed) == (1, 1),
              "a refused request is attempted and failed")
        summary_q.financial_summary = lambda *a, **k: Wrong()
        w._request(random.Random(2), 2)
        check((w.outcomes.attempted, w.outcomes.failed) == (2, 2),
              "a wrong answer is attempted and failed")
        w._request(random.Random(3), w.SERIES_AT)   # no item ids: errors
        check((w.outcomes.attempted, w.outcomes.failed) == (3, 3),
              "an errored request is attempted and failed")
    finally:
        summary_q.financial_summary = real
    o = stats.Outcomes()
    for ok in (True, True, False, True):
        o.record(ok)
    check(o.failed_frac == 0.25, "failed_frac = failed / attempted")


def _digest_corpus(seed: int) -> str:
    h = hashlib.sha256()
    for f in filings.generate(seed, 6, [2022, 2023]).filings:
        h.update(f.relpath.encode())
        h.update(filings.encode_filing(f))
    return h.hexdigest()


def _digest_tables(seed: int) -> str:
    h = hashlib.sha256()
    for name, t in tables.build(seed, 0.002).items():
        h.update(name.encode())
        sink = io.BytesIO()
        import pyarrow.parquet as pq

        pq.write_table(t, sink)
        h.update(sink.getvalue())
    return h.hexdigest()


def determinism() -> None:
    check(_digest_corpus(5) == _digest_corpus(5), "filing corpus: same seed, same bytes")
    check(_digest_corpus(5) != _digest_corpus(6), "filing corpus: other seed, other bytes")
    check(_digest_tables(5) == _digest_tables(5), "suite tables: same seed, same bytes")
    check(_digest_tables(5) != _digest_tables(6), "suite tables: other seed, other bytes")


def _read_back(root: str, corpus) -> list[tuple]:
    """Decode every written CSV: (filing index, row seq, element, value)."""
    enc = {"utf-8": "utf-8", "utf-8-sig": "utf-8-sig", "cp932": "cp932", "utf-16": "utf-16"}
    out = []
    for i, f in enumerate(corpus.filings):
        with open(os.path.join(root, f.relpath), "rb") as fh:
            text = fh.read().decode(enc[f.encoding])
        rows = list(csv.reader(io.StringIO(text), delimiter="\t"))
        check(tuple(rows[0]) == filings.HEADER and len(rows) - 1 == len(f.rows),
              f"{f.relpath} ({f.encoding}) reads back with its header and {len(f.rows)} rows")
        out += [(i, seq, r[0], r[8]) for seq, r in enumerate(rows[1:])]
    return out


_DUCK_SUMMARY = """
WITH latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY edinet_code
                                 ORDER BY fiscal_year DESC, period_end DESC) AS rn
    FROM filings) WHERE rn = 1),
rep AS (
  SELECT f.filing, l.* EXCLUDE (filing, rn) FROM filings f JOIN latest l
    ON f.edinet_code = l.edinet_code AND f.fiscal_year = l.fiscal_year
   AND f.quarter = l.quarter),
last_row AS (   -- last row of each element in each filing of the report
  SELECT rep.edinet_code, r.element, r.filing, arg_max(r.value, r.seq) AS v
  FROM raw r JOIN rep USING (filing) GROUP BY ALL),
per_el AS (
  SELECT edinet_code, element, min(v) AS v FROM last_row GROUP BY ALL),
ranked AS (
  SELECT p.edinet_code, c.measure,
         TRY_CAST(replace(p.v, '－', '') AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY p.edinet_code, c.measure ORDER BY c.prio) AS k
  FROM per_el p JOIN cand c USING (element)),
m AS (
  SELECT edinet_code,
    max(CASE WHEN measure = 'net_sales' THEN x END) AS s,
    max(CASE WHEN measure = 'operating_income' THEN x END) AS o,
    max(CASE WHEN measure = 'ordinary_income' THEN x END) AS r,
    max(CASE WHEN measure = 'net_income' THEN x END) AS n
  FROM ranked WHERE k = 1 GROUP BY ALL)
SELECT l.company_name, l.fiscal_year || ' Q' || l.quarter, l.fiscal_year, 'Q' || l.quarter,
  CASE WHEN o <> 0 AND s <> 0 THEN o / s * 100.0 END,
  CASE WHEN r <> 0 AND s <> 0 THEN r / s * 100.0 END,
  CASE WHEN n <> 0 AND s <> 0 THEN n / s * 100.0 END,
  s / 1000000.0, o / 1000000.0, r / 1000000.0, n / 1000000.0, l.edinet_code
FROM latest l LEFT JOIN m USING (edinet_code)
"""


def _duck_summary(raw: list[tuple], corpus, quarters) -> dict[str, tuple]:
    import duckdb

    import pandas as pd

    con = duckdb.connect()
    raw_df = pd.DataFrame(raw, columns=["filing", "seq", "element", "value"])  # noqa: F841
    con.execute("CREATE TABLE raw AS SELECT * FROM raw_df")
    con.execute("CREATE TABLE filings(filing INT, edinet_code VARCHAR, company_name VARCHAR,"
                " fiscal_year INT, quarter INT, period_end VARCHAR)")
    qs = set(quarters)
    con.executemany("INSERT INTO filings VALUES (?, ?, ?, ?, ?, ?)", [
        (i, f.company.edinet_code, f.company.name, f.fiscal_year, f.quarter, f.period_end)
        for i, f in enumerate(corpus.filings) if (f.fiscal_year, f.quarter) in qs])
    con.execute("CREATE TABLE cand(measure VARCHAR, element VARCHAR, prio INT)")
    con.executemany("INSERT INTO cand VALUES (?, ?, ?)", [
        (m, e, p) for m, es in filings.MEASURES.items() for p, e in enumerate(es)])
    rows = con.execute(_DUCK_SUMMARY).fetchall()
    con.close()
    return {r[-1]: tuple(float(v) if isinstance(v, (int, float)) and i >= 4 else v
                         for i, v in enumerate(r)) for r in rows}


def tiny_corpus() -> None:
    from harness import Env

    corpus = filings.generate(1, 6, [2022, 2023], amend_frac=0.3)
    check(any(f.amended for f in corpus.filings), "the tiny corpus has amended re-filings")
    check({f.encoding for f in corpus.filings} == {"utf-8", "utf-8-sig", "cp932", "utf-16"},
          "the tiny corpus mixes all four encodings")
    qs = corpus.quarters()
    env = Env("selfcheck")
    try:
        root = env.path("corpus")
        corpus.write(os.path.join(root, "cold"), qs[:-1])
        corpus.write(os.path.join(root, "incr"), qs[-1:])
        flat = os.path.join(env.dir, "flat")
        corpus.write(flat)
        raw = _read_back(flat, corpus)
        for q in (qs[:-1], qs):
            want = corpus.expected_summary(q)
            check(_duck_summary(raw, corpus, q) == want,
                  f"DuckDB recomputation equals the expected summary ({len(q)} quarters)")
        from ir_analyses_spark.etl import pipeline
        from ir_analyses_spark.queries import summary as summary_q

        spark, _ = env.start_spark()
        silver = env.path("silver")
        for part, q in (("cold", qs[:-1]), ("incr", qs)):
            pipeline.backfill_from_csvs(spark, os.path.join(root, part, "**", "*.csv"), silver)
            t = pipeline.read_silver(spark, silver)
            got = {r["edinet_code"]: tuple(r) for r in summary_q.financial_summary(
                t["companies"], t["reports"], t["facts"], t["items"]).collect()}
            check(got == corpus.expected_summary(q),
                  f"engine summary equals the expected summary after the {part} load")
            counts = {k: t[k].count() for k in ("companies", "items", "reports", "facts")}
            want = corpus.expected_counts(q)
            check(all(counts[k] == want[k] for k in counts),
                  f"engine silver counts {counts} equal the expected counts")
    finally:
        env.close()


def benchmark_json() -> None:
    import layers
    from run import E2E, WORKLOAD_NAMES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    check([(m["name"], m["unit"]) for m in doc["end_to_end"]] == E2E,
          "BENCHMARK.json end_to_end metrics are the ones run.py prints")
    check([(m["name"], m["unit"]) for m in doc["per_layer"]] == layers.names(),
          "BENCHMARK.json per_layer metrics are the ones run.py prints")
    check(tuple(w["name"] for w in doc["workloads"]) == WORKLOAD_NAMES,
          "BENCHMARK.json workloads are the ones run.py runs")


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n", 1)[0]).parse_args()
    tail_percentile()
    failed_frac_base()
    determinism()
    benchmark_json()
    tiny_corpus()
    print("all self-checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
