"""Per-layer metrics of a traced run: which engine functions are wrapped,
and how their spans and counts become the reported figures.

Layer boundaries (the engine's public functions):

- ``io.sources``: ``read_filing_csvs`` (incl. the driver-side
  ``sniff_encoding`` loop) -> ``sources.*``
- ``etl``: ``standardize_raw``, ``conform_all_with_mappings`` -> ``etl.*``
- ``io.sinks``: the backfill's four writes -> ``sinks.<call>_<table>.*``
- ``etl.pipeline``: ``backfill_from_csvs`` / ``read_silver`` -> ``backfill.*``
- ``queries.summary``: ``financial_summary`` / ``item_time_series`` and the
  ``collect()`` of their plans -> ``summary.*`` / ``timeseries.*``
- ``ops`` / ``llm`` / ``streaming``: each suite query -> ``suite.<query>.*``

Backfill-side figures are per traced load cycle; request figures are means
over traced dashboard requests; suite figures are per traced pass. Self
times (span time not covered by child spans) are totals over the traced
operations, and as a share of their traced time.
"""

from __future__ import annotations

import os

from spans import written_files
from workloads import SUITE

SINK_CALLS = ("merge_upsert_companies", "append_missing_items",
              "merge_upsert_reports", "replace_partition_facts")
SELF_LAYERS = ("op", "backfill", "sources", "etl", "sinks", "summary",
               "timeseries", "suite")
_TABLES = {"companies": "companies", "financial_items": "items",
           "financial_reports": "reports", "financial_data": "facts"}


def names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    out = [("sources.scan_plan_s", "s"), ("sources.files", "count"),
           ("sources.scan_groups", "count"), ("etl.plan_s", "s")]
    for c in SINK_CALLS:
        out += [(f"sinks.{c}.s", "s"), (f"sinks.{c}.jobs", "count"),
                (f"sinks.{c}.stages", "count"), (f"sinks.{c}.tasks", "count")]
    out += [("backfill.stages", "count"), ("backfill.tasks", "count"),
            ("sinks.files_written", "count"), ("sinks.bytes_written", "bytes")]
    for k in ("summary", "timeseries"):
        out += [(f"{k}.plan_ms", "ms"), (f"{k}.exec_ms", "ms"),
                (f"{k}.tasks_per_request", "count"),
                (f"{k}.files_read_per_request", "count"),
                (f"{k}.rows_scanned_per_row_returned", "ratio")]
    for q in SUITE:
        out += [(f"suite.{q}.s", "s"), (f"suite.{q}.stages", "count")]
    for layer in SELF_LAYERS:
        out += [(f"self.{layer}_s", "s"), (f"self.{layer}_frac", "ratio")]
    out += [("jvm.gc_ms", "ms"), ("driver.py_cpu_s", "s"), ("driver.py_cpu_frac", "ratio"),
            ("trace.overhead_frac", "ratio"), ("trace.spans", "count")]
    return out


def install(tracer) -> None:
    """Wrap the layer-boundary functions the backfill calls."""
    from ir_analyses_spark.etl import pipeline
    from ir_analyses_spark.io import sinks, sources

    def scan_groups(rec, df, args, kwargs):
        rec["scan_groups"] = df._jdf.queryExecution().logical().toString().count("Relation [")

    def written(rec, result, args, kwargs):
        rec["files_written"], rec["bytes_written"] = written_files(args[1], rec["wall"])

    tracer.wrap(pipeline, "read_filing_csvs", "sources.read_filing_csvs", after=scan_groups)
    tracer.wrap(sources, "sniff_encoding", "sources.sniff_encoding")
    tracer.wrap(pipeline, "standardize_raw", "etl.standardize_raw")
    tracer.wrap(pipeline, "conform_all_with_mappings", "etl.conform_all_with_mappings")
    for fn in ("merge_upsert", "append_missing", "replace_partition"):
        tracer.wrap(sinks, fn,
                    lambda _df, target, *a, _fn=fn, **k:
                    f"sinks.{_fn}_{_TABLES[os.path.basename(target.rstrip('/'))]}",
                    group=True, after=written)


def metrics(tracer, workload, phase: dict) -> dict[str, float]:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    def named(name):
        return [s for s in spans if s["name"] == name]

    def request(ss):
        return [s for s in ss if root(s)["name"] == "op.request"]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def total(ss, key):
        return sum(s.get(key, 0) for s in ss)

    loads = named("backfill.cold") + named("backfill.incremental")
    n_loads = max(1, len({root(s)["id"] for s in loads}))
    m: dict[str, float] = {
        "sources.scan_plan_s": dur(named("sources.read_filing_csvs")) / n_loads,
        "sources.files": len(named("sources.sniff_encoding")) / n_loads,
        "sources.scan_groups": total(named("sources.read_filing_csvs"), "scan_groups") / n_loads,
        "etl.plan_s": (dur(named("etl.standardize_raw"))
                       + dur(named("etl.conform_all_with_mappings"))) / n_loads,
    }
    for c in SINK_CALLS:
        ss = named(f"sinks.{c}")
        m[f"sinks.{c}.s"] = dur(ss) / n_loads
        for key in ("jobs", "stages", "tasks"):
            m[f"sinks.{c}.{key}"] = total(ss, key) / n_loads
    in_loads = [x for s in loads for x in tracer.subtree(s)]
    m["backfill.stages"] = total(in_loads, "stages") / n_loads
    m["backfill.tasks"] = total(in_loads, "tasks") / n_loads
    m["sinks.files_written"] = total(in_loads, "files_written") / n_loads
    m["sinks.bytes_written"] = total(in_loads, "bytes_written") / n_loads
    for k in ("summary", "timeseries"):
        plans, execs = (request(named(f"{k}.plan")), request(named(f"{k}.exec")))
        n = max(1, len(execs))
        m[f"{k}.plan_ms"] = 1000.0 * dur(plans) / n
        m[f"{k}.exec_ms"] = 1000.0 * dur(execs) / n
        m[f"{k}.tasks_per_request"] = total(execs, "tasks") / n
        m[f"{k}.files_read_per_request"] = total(execs, "files_read") / n
        m[f"{k}.rows_scanned_per_row_returned"] = (
            total(execs, "rows_scanned") / max(1, total(execs, "rows_returned")))
    passes = max(1, len({s["request"] for s in spans if s["name"].startswith("suite.")}))
    for q in SUITE:
        ss = named(f"suite.{q}")
        m[f"suite.{q}.s"] = dur(ss) / passes
        m[f"suite.{q}.stages"] = total(ss, "stages") / passes
    self_s = tracer.self_times(spans)
    traced_s = sum(dur([s]) for s in spans if s["parent"] is None)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = self_s.get(layer, 0.0)
        m[f"self.{layer}_frac"] = self_s.get(layer, 0.0) / traced_s if traced_s else 0.0
    m.update(phase)
    m["trace.overhead_frac"] = workload.overhead()
    m["trace.spans"] = len(spans)
    return m
