"""The two workloads. Each one generates its inputs from the seed
(``generate``), prepares and warms up (``prepare``), runs operations until
a deadline (``measure``) and checks every answer against the generator's
expectations or the DuckDB oracle; failures count in ``Outcomes``.

In a traced run operations 1 and 2 of every four run with tracing on; the
untraced ones give the comparison for the tracing overhead, in an order
(off, on, on, off) that a warming trend does not bias.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import filings
import tables
from spans import scan_metrics
from stats import tail

from ir_analyses_spark.etl import pipeline
from ir_analyses_spark.queries import summary as summary_q


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


class Workload:
    #: the operations' name in reports
    op = "operations"

    def __init__(self, env, spark, seed: int, tracer, outcomes) -> None:
        self.env, self.spark, self.seed = env, spark, seed
        self.tracer, self.outcomes = tracer, outcomes
        #: (latency seconds, traced) per completed operation
        self.ops: list[tuple[float, bool]] = []
        self.report: dict = {}

    def traced(self, i: int) -> bool:
        return self.tracer is not None and i % 4 in (1, 2)

    def tracing(self, i: int, request: str):
        return self.tracer.on(request) if self.traced(i) else contextlib.nullcontext()

    def span(self, name: str, group: bool = False):
        return self.tracer.span(name, group=group) if self.tracer else contextlib.nullcontext({})

    def keep_going(self, i: int, deadline: float) -> bool:
        """Run until the deadline; a traced run makes at least one off, on,
        on, off round per client."""
        return time.perf_counter() < deadline or (self.tracer is not None and i < 4)

    def untraced(self) -> list[float]:
        return [s for s, traced in self.ops if not traced]

    def overhead(self) -> float:
        on = [s for s, traced in self.ops if traced]
        off = self.untraced()
        return median(on) / median(off) - 1.0 if on and off else 0.0

    def check(self, ok: bool, note: str) -> None:
        self.outcomes.record(ok, "" if ok else note)


# ---------------------------------------------------------------------------
# filing_pipeline
# ---------------------------------------------------------------------------


class FilingPipeline(Workload):
    """The paper's product path in one process, as a user meets it.

    Load: a fresh JVM runs one cycle like a ``backfill.py --summary``
    invocation: cold backfill of three fiscal years of quarterly reports
    (Q1-Q3 of each) into an empty silver directory, the all-company
    ``financial_summary`` collect, then an incremental backfill of the next
    quarter (the next fiscal year's first) into the same silver, whose facts
    then span four ``fiscal_year`` partitions.

    Serve: a closed loop of ``nproc`` dashboard clients on that silver, each
    sending its next request when the previous one returns. Companies are
    drawn by a Zipf law; six in seven requests are
    ``financial_summary(edinet_code=X).collect()``, one
    ``item_time_series(company_id, item_id).collect()``; the clients are
    out of phase, so time-series requests do not all arrive together."""

    op = "requests"
    N_COMPANIES = 8
    FISCAL_YEARS = [2021, 2022, 2023]
    ZIPF_S = 1.1
    SERIES_EVERY = 7          # 1 in 7 requests (14%) is a time series
    SERIES_AT = 1             # ... the second of every seven

    def generate(self, k: int) -> float:
        t0 = time.perf_counter()
        corpus = filings.generate(self.seed, self.N_COMPANIES, self.FISCAL_YEARS)
        root = self.env.path(f"corpus{k}")
        qs = corpus.quarters()
        self.cold_q, self.incr_q = qs[:-1], qs[-1:]
        self.bytes_in = (corpus.write(os.path.join(root, "cold"), self.cold_q)
                         + corpus.write(os.path.join(root, "incr"), self.incr_q))
        shutil.rmtree(self.env.path(f"corpus{k - 1}"), ignore_errors=True)
        self.corpus, self.root = corpus, root
        return time.perf_counter() - t0

    def prepare(self) -> float:
        """No warm-up: the load runs in a fresh JVM, so its JIT and code
        generation work is part of the measured cycle, as it is for every
        ``backfill.py`` run."""
        return 0.0

    def _cycle(self, silver: str) -> tuple[float, float]:
        """One load cycle; returns (cold backfill + summary, incremental)
        seconds."""
        with self.span("op.cycle"):
            t0 = time.perf_counter()
            with self.span("backfill.cold", group=True):
                pipeline.backfill_from_csvs(
                    self.spark, os.path.join(self.root, "cold", "**", "*.csv"), silver)
            with self.span("backfill.read_silver"):
                t = pipeline.read_silver(self.spark, silver)
            with self.span("summary.plan"):
                df = summary_q.financial_summary(
                    t["companies"], t["reports"], t["facts"], t["items"])
            with self.span("summary.exec", group=True):
                rows = df.collect()
            t1 = time.perf_counter()
            with self.span("backfill.incremental", group=True):
                pipeline.backfill_from_csvs(
                    self.spark, os.path.join(self.root, "incr", "**", "*.csv"), silver)
            t2 = time.perf_counter()
        got = {r["edinet_code"]: tuple(r) for r in rows}
        self.check(got == self.corpus.expected_summary(self.cold_q),
                   "cold-load summary differs from the generator's expectation")
        return t1 - t0, t2 - t1

    def measure(self, deadline: float) -> None:
        """One load cycle (traced in a traced run), one untimed warm-up
        request per client (client 1's a time series), then serve for the
        measuring window."""
        window = deadline - time.perf_counter()
        self.silver = self.env.path("silver")
        ctx = self.tracer.on("load") if self.tracer else contextlib.nullcontext()
        with ctx:
            self.cycle = self._cycle(self.silver)
        self._serve_setup()
        with ThreadPoolExecutor(max_workers=self.env.cpus) as pool:
            list(pool.map(lambda n: self._request(random.Random(f"{self.seed}/warm/{n}"), n),
                          range(self.env.cpus)))
        self._serve(time.perf_counter() + window)

    def _serve_setup(self) -> None:
        self.t = pipeline.read_silver(self.spark, self.silver)
        self.company_id = {r["edinet_code"]: r["company_id"] for r in
                           self.t["companies"].select("edinet_code", "company_id").collect()}
        self.item_id = {r["element_id"]: r["item_id"] for r in
                        self.t["items"].select("element_id", "item_id").collect()}
        quarters = self.cold_q + self.incr_q
        self.expected = self.corpus.expected_summary(quarters)
        self.series = {(c.edinet_code, e): self.corpus.expected_series(quarters, c.edinet_code, e)
                       for c in self.corpus.companies
                       for e in (c.sales_elements[0], c.net_element)}
        rng = random.Random(f"{self.seed}/order")
        self.ranked = rng.sample(self.corpus.companies, len(self.corpus.companies))
        weights = [1.0 / (r + 1) ** self.ZIPF_S for r in range(len(self.ranked))]
        self.cum = [sum(weights[:r + 1]) for r in range(len(weights))]

    def _request(self, rng: random.Random, n: int) -> float:
        """Request slot ``n``: one slot in ``SERIES_EVERY`` is a time series,
        the others are summaries, so every run has the same mix."""
        c = rng.choices(self.ranked, cum_weights=self.cum)[0]
        kind = "series" if n % self.SERIES_EVERY == self.SERIES_AT else "summary"
        element = rng.choice((c.sales_elements[0], c.net_element))
        t = self.t
        try:
            with self.span("op.request"):
                t0 = time.perf_counter()
                if kind == "summary":
                    with self.span("summary.plan"):
                        df = summary_q.financial_summary(
                            t["companies"], t["reports"], t["facts"], t["items"],
                            edinet_code=c.edinet_code)
                    with self.span("summary.exec", group=True) as rec:
                        rows = df.collect()
                else:
                    with self.span("timeseries.plan"):
                        df = summary_q.item_time_series(
                            t["facts"], t["reports"], self.company_id[c.edinet_code],
                            self.item_id[element])
                    with self.span("timeseries.exec", group=True) as rec:
                        rows = df.collect()
                latency = time.perf_counter() - t0
            if self.tracer is not None and self.tracer.active:
                rec.update(scan_metrics(df), rows_returned=len(rows))
        except Exception as exc:  # a failed request is counted, the loop goes on
            self.check(False, f"{kind} {c.edinet_code}: {type(exc).__name__}: {exc}")
            return math.nan
        if kind == "summary":
            ok = [tuple(r) for r in rows] == [self.expected[c.edinet_code]]
        else:
            got = sorted(((r[0].isoformat(), r[1], r[3]) for r in rows), key=repr)
            ok = got == self.series[(c.edinet_code, element)]
        self.check(ok, f"{kind} {c.edinet_code}: wrong answer")
        return latency

    def _serve(self, deadline: float) -> None:
        lock = threading.Lock()
        errors: list[BaseException] = []
        rates: list[float] = []

        def client(n: int) -> None:
            rng = random.Random(f"{self.seed}/client/{n}")
            i = done = 0
            try:
                while self.keep_going(i, deadline):
                    # client n's slots start at n: a traced run traces
                    # both kinds in op 1, on clients 0 and 1
                    with self.tracing(i, f"c{n}-{i}"):
                        latency = self._request(rng, i + n)
                    if not math.isnan(latency):
                        done += 1
                        with lock:
                            self.ops.append((latency, self.traced(i)))
                    i += 1
                # this client's completions over its own busy time: no
                # request is cut by the window's edges
                with lock:
                    rates.append(done / (time.perf_counter() - start))
            except BaseException as exc:  # re-raised by the main thread
                errors.append(exc)

        start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(n,), daemon=True)
                   for n in range(self.env.cpus)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        self.qps = sum(rates)

    def verify(self) -> None:
        """Silver row counts after the increment, once per run."""
        want = self.corpus.expected_counts(self.cold_q + self.incr_q)
        got = {k: self.t[k].count() for k in ("companies", "items", "reports", "facts")}
        self.check(all(got[k] == want[k] for k in got),
                   f"silver counts {got} != expected {want}")
        cold_rows = self.corpus.expected_counts(self.cold_q)["raw_rows"]
        cold_s, incr_s = self.cycle
        self.report.update(
            corpus_filings=len(self.corpus.filings), corpus_rows=want["raw_rows"],
            input_bytes=self.bytes_in, clients=self.env.cpus, zipf_s=self.ZIPF_S,
            backfill_rows_per_s=cold_rows / cold_s, incremental_s=incr_s,
            silver_bytes_per_input_byte=_du(self.silver) / self.bytes_in,
        )

    def work_s(self) -> float:
        return sum(self.cycle)

    def throughput(self) -> float:
        return self.qps


# ---------------------------------------------------------------------------
# operator_suite
# ---------------------------------------------------------------------------

#: the operator headline set (``bench.py`` HEADLINE), the longest-running
#: query first so that a pass on ``nproc`` threads does not wait for it to
#: start late. The WARC -> curation funnel query is left out: it costs ~20 s
#: cold and ~8 s warm, more than the rest of a pass, which the benchmark's
#: time budget cannot carry.
SUITE = [
    "minhash_lsh_nearup", "pricing_summary", "regional_revenue",
    "join_broadcast_dims", "join_multiway_topk", "join_asof", "latest_per_group",
    "window_ranking", "window_running_frames", "window_sessionize", "rollup_agg",
    "exact_dedup", "ann_brute_topk", "text_stats", "quality_score",
    "stream_tumbling_batch",
]


class OperatorSuite(Workload):
    """Passes of every ``SUITE`` query, each into the ``noop`` sink, over
    seeded tables; the operation is one query execution, ``nproc`` of
    them at a time."""

    op = "queries"
    SF = 0.01

    def generate(self, k: int) -> float:
        t0 = time.perf_counter()
        self.sf_dir = self.env.path(f"sf{k}")
        self.bytes_in = tables.write(self.seed, self.SF, self.sf_dir)
        shutil.rmtree(self.env.path(f"sf{k - 1}"), ignore_errors=True)
        return time.perf_counter() - t0

    def prepare(self) -> float:
        """The correctness check, then one untimed pass: the check runs every
        query once (``nproc`` at a time) and compares it with its DuckDB
        oracle, and the pass compiles the ``noop`` plans, so the timed
        passes run with compiled code and filled caches."""
        from ir_analyses_spark.registry import all_queries

        t0 = time.perf_counter()
        self.queries = all_queries()
        self._check_oracles()
        with ThreadPoolExecutor(max_workers=self.env.cpus) as pool:
            list(pool.map(lambda q: self._query(q, 0), SUITE))
        return time.perf_counter() - t0

    def measure(self, deadline: float) -> None:
        """Whole passes; another one starts only if the last one's length
        still fits before ``deadline`` (a traced run makes four, two of
        them traced). A pass runs every query once on ``nproc`` threads, in
        ``SUITE`` order."""
        self.passes: list[float] = []
        i, last = 0, 0.0
        with ThreadPoolExecutor(max_workers=self.env.cpus) as pool:
            while i == 0 or time.perf_counter() + last <= deadline or (
                    self.tracer is not None and i < 4):
                t0 = time.perf_counter()
                latencies = list(pool.map(lambda q, i=i: self._query(q, i), SUITE))
                last = time.perf_counter() - t0
                if not self.traced(i):
                    self.passes.append(last)
                self.ops += [(s, self.traced(i)) for s in latencies if not math.isnan(s)]
                i += 1

    def _query(self, q: str, i: int) -> float:
        """Query ``q`` of pass ``i`` into the ``noop`` sink; its latency, or
        NaN if it failed."""
        t0 = time.perf_counter()
        try:
            with self.tracing(i, f"pass-{i}"), self.span(f"suite.{q}", group=True):
                self.queries[q](self.spark, self.sf_dir).write \
                    .format("noop").mode("overwrite").save()
        except Exception as exc:  # counted; the pass goes on
            self.check(False, f"{q}: {type(exc).__name__}: {exc}")
            return math.nan
        self.check(True, "")
        return time.perf_counter() - t0

    def _check_oracles(self) -> None:
        """Each query against its DuckDB oracle with the test suite's
        comparison (row count, columns, order-insensitive cell values),
        ``nproc`` queries at a time; a failed or wrong query is counted."""
        from ir_analyses_spark.registry import all_oracles
        from tests.compare import assert_matches_oracle, duckdb_conn

        oracles = all_oracles()
        con = duckdb_conn(self.sf_dir)
        con.execute(f"SET temp_directory = '{self.env.tmp}'")

        def check_one(q: str) -> None:
            try:
                with con.cursor() as cur:   # one DuckDB connection per thread
                    assert_matches_oracle(self.queries[q](self.spark, self.sf_dir),
                                          cur, oracles[q], q)
            except Exception as exc:  # counted; the run goes on
                self.check(False, f"{q}: {type(exc).__name__}: {exc}")
                return
            self.check(True, "")

        with ThreadPoolExecutor(max_workers=self.env.cpus) as pool:
            list(pool.map(check_one, SUITE))
        con.close()

    def verify(self) -> None:
        """Outputs were checked in ``prepare``; report the run's figures."""
        self.report.update(sf=self.SF, input_bytes=self.bytes_in,
                           passes=len(self.passes), pass_s=[round(p, 3) for p in self.passes],
                           suite_s=median(self.passes))

    def work_s(self) -> float:
        return median(self.passes)

    def throughput(self) -> float:
        return len(self.untraced()) / sum(self.passes)


WORKLOADS = {
    "filing_pipeline": FilingPipeline,
    "operator_suite": OperatorSuite,
}


def e2e(w: Workload, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics, tail report) from the untraced ops."""
    lat_ms = [s * 1000.0 for s in w.untraced()]
    tail_ms, label, n = tail(lat_ms)
    return ({"setup_s": setup_s, "work_s": w.work_s(), "p50_ms": median(lat_ms),
             "throughput_per_s": w.throughput(), "peak_rss_mb": peak_rss_mb},
            {"tail_ms": tail_ms, "tail_percentile": label, "samples": n})
