#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload filing_pipeline --seed 1 --seconds 8 --trace 0

Workloads (``workloads.py``): ``filing_pipeline`` (a fresh-JVM backfill load
cycle of a seeded EDINET filing corpus, then closed-loop dashboard requests
on the silver it wrote) and ``operator_suite`` (passes of 16 registry
queries into the ``noop`` sink over seeded TPC-H-like tables).

End-to-end metrics (``--trace 0``): ``setup_s``, ``work_s`` (the load cycle
/ one pass), ``p50_ms`` (median request / query latency),
``throughput_per_s`` (requests / queries per second) and ``peak_rss_mb``
(driver Python + JVM). Failed or wrong operations count in ``attempted`` /
``failed``. The ``# name = value`` lines before the JSON line report the
pinned environment, input sizes, the tail latency with its percentile and
sample count, and the workload's own figures.

``--trace 1`` prints the per-layer metrics of ``layers.py`` instead, with
the tracing overhead; the spans go to
``.perfbench_traces/<workload>-<seed>.json``. See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

E2E = [("setup_s", "s"), ("work_s", "s"), ("p50_ms", "ms"),
       ("throughput_per_s", "1/s"), ("peak_rss_mb", "MB")]
WORKLOAD_NAMES = ("filing_pipeline", "operator_suite")


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run(args) -> dict:
    from statistics import median

    from harness import Env
    from stats import Outcomes
    from workloads import WORKLOADS, e2e

    env = Env(args.workload)
    outcomes = Outcomes()
    try:
        spark, session_s = env.start_spark()
        tracer = None
        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer(spark)
            layers.install(tracer)
        w = WORKLOADS[args.workload](env, spark, args.seed, tracer, outcomes)
        gen_s = median([w.generate(k) for k in range(3)])
        prep_s = w.prepare()
        setup_s = session_s + gen_s + prep_s

        gc0, cpu0, t0 = env.gc_ms(), time.process_time(), time.perf_counter()
        w.measure(t0 + args.seconds)
        wall = time.perf_counter() - t0
        phase = {"jvm.gc_ms": env.gc_ms() - gc0,
                 "driver.py_cpu_s": time.process_time() - cpu0}
        phase["driver.py_cpu_frac"] = phase["driver.py_cpu_s"] / wall
        w.verify()
        peak = env.peak_rss_mb()

        metrics, tail_info = e2e(w, setup_s, peak)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, **env.pinning(), "session_s": session_s,
                  "generate_s": gen_s, "prepare_s": prep_s, "measured_s": wall,
                  w.op: len(w.ops), **tail_info, **w.report,
                  "failed_frac": outcomes.failed_frac}
        if args.workload == "filing_pipeline":
            report.update(serve_p50_ms=metrics["p50_ms"], serve_tail_ms=tail_info["tail_ms"],
                          serve_qps=metrics["throughput_per_s"])
        if args.trace:
            import layers

            lm = layers.metrics(tracer, w, phase)
            out = {name: {"value": float(lm[name]), "unit": unit}
                   for name, unit in layers.names()}
            path = os.path.join(ROOT, ".perfbench_traces",
                                f"{args.workload}-{args.seed}.json")
            tracer.dump(path)
            report["spans_file"] = os.path.relpath(path, ROOT)
        else:
            report.update(phase)
            out = {name: {"value": float(metrics[name]), "unit": unit} for name, unit in E2E}
        for k, v in report.items():
            print(f"# {k} = {_fmt(v)}")
        for note in outcomes.errors:
            print(f"# FAILED {note}")
        return {"correct": outcomes.failed == 0, "attempted": outcomes.attempted,
                "failed": outcomes.failed, "metrics": out}
    finally:
        env.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import ir_analyses_spark  # noqa: F401  the engine under test
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
