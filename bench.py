"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query materializes fully through the `noop` sink (no driver collect, no
result pruning), timed individually after a session warm-up. The headline set
spans the operator families: scan+agg, broadcast star join, top-k join,
windows, sessionization, as-of join, dedup (exact + MinHash LSH), ANN
similarity, text analysis, streaming batch-twin.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ir_analyses_spark.registry import all_queries  # noqa: E402
from ir_analyses_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "pricing_summary",
    "regional_revenue",
    "join_broadcast_dims",
    "join_multiway_topk",
    "join_asof",
    "latest_per_group",
    "window_ranking",
    "window_running_frames",
    "window_sessionize",
    "rollup_agg",
    "exact_dedup",
    "minhash_lsh_nearup",
    "ann_brute_topk",
    "text_stats",
    "quality_score",
    "stream_tumbling_batch",
]


WARMUP_SF_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")

#: timed reps per query (see ``_time_headline``)
_N_REPS = 3
#: queries whose provisional median is under this many seconds run
#: ``_N_EXTRA_PAIRS`` extra interleaved pairs
_SUBSEC_CUTOFF_S = 0.8
_N_EXTRA_PAIRS = 4


def _sf_of(path: str) -> float | None:
    """Scale factor from a ``.../sf<N>`` directory name, or None — ONE
    parser shared by the record emitter and the prior-timings reader (an
    unguarded float() here would crash after all timed runs and lose the
    record)."""
    tail = path.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return None


def _ab_ref() -> str | None:
    """Git ref of the interleaved A/B baseline tree: the last driver
    round-boundary commit ('round N: ...'), overridable via
    $SPARK_GRAFT_AB_REF; $SPARK_GRAFT_AB=0 disables. None when no
    baseline is resolvable (fresh repo, no git) — the bench then runs
    current-tree-only exactly as before."""
    import subprocess

    if os.environ.get("SPARK_GRAFT_AB", "1") == "0":
        return None
    ref = os.environ.get("SPARK_GRAFT_AB_REF")
    if ref:
        return ref
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        # subject-line match in Python, not `git log --grep`: --grep
        # matches ANY line of the full message (and [0-9]* accepts zero
        # digits), so a newer commit merely QUOTING round text would
        # silently become the baseline and ab_ratio would compare the
        # current tree against nearly-current code (review-caught)
        import re

        # FULL history, no -n cap: a cap would silently drop the A/B
        # column — the documented load-independent signal — once enough
        # commits accumulate past the newest boundary (review-caught)
        out = subprocess.run(
            ["git", "log", "--format=%H %s"],
            cwd=here, capture_output=True, text=True, timeout=30,
        )
        for line in out.stdout.splitlines():
            sha, _, subject = line.partition(" ")
            if re.match(r"^round \d+:", subject):
                return sha
        return None
    except (OSError, subprocess.SubprocessError):
        return None


def _extract_tree(ref: str) -> str | None:
    """``git archive`` the baseline ref into a DETERMINISTIC per-ref
    cache dir, reused across runs (mkdtemp would leak one full tree per
    bench invocation — review-caught; one dir per round-boundary sha is
    self-limiting). The cache lives under a USER-PRIVATE 0700 directory
    (r9 ADVICE: a world-writable tempfile.gettempdir() path lets any
    local user pre-create the dir + completion marker and have the
    bench import and execute their Python). None on any failure — the
    A/B column is best-effort, never lose the record."""
    import stat
    import subprocess
    import tarfile

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", ref], cwd=here, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip()
        if not sha:
            return None
        base = os.path.join(
            os.path.expanduser("~"), ".cache", "ir_analyses_spark_bench"
        )
        os.makedirs(base, mode=0o700, exist_ok=True)
        st = os.stat(base)
        if st.st_uid != os.getuid():
            # someone else owns the cache root — refuse to trust (or
            # write) anything under it
            return None
        if stat.S_IMODE(st.st_mode) & 0o077:
            # our own dir with group/world bits (e.g. created by an
            # earlier bench version under a permissive umask):
            # exist_ok=True keeps the old mode, so refusing here would
            # PERMANENTLY disable the A/B column (r10 ADVICE) — we own
            # it, so tighten it instead of bailing. But anything
            # ALREADY inside was writable while the dir was loose (a
            # pre-planted tree + completion marker would be imported
            # and executed below), so the cache contents are
            # invalidated along with the mode (review-caught
            # chmod-then-trust). The wipe must actually succeed: a
            # pre-planted SYMLINK named bench_ab_<sha> survives
            # rmtree(ignore_errors=True) — rmtree refuses symlinks and
            # the error was swallowed — and the marker check below
            # would follow it into an attacker-owned tree
            # (review-caught, verified by experiment). Unlink
            # non-dirs/symlinks explicitly and BAIL if anything
            # survives.
            import shutil

            os.chmod(base, 0o700)
            for entry in os.listdir(base):
                p = os.path.join(base, entry)
                try:
                    if os.path.islink(p) or not os.path.isdir(p):
                        os.unlink(p)
                    else:
                        shutil.rmtree(p)
                except OSError:
                    pass
            if os.listdir(base):
                return None
        d = os.path.join(base, f"bench_ab_{sha[:16]}")
        marker = os.path.join(d, ".extract_complete")
        if os.path.exists(marker):
            return d
        out = subprocess.run(
            ["git", "archive", sha], cwd=here, capture_output=True,
            timeout=120,
        )
        if out.returncode != 0:
            return None
        os.makedirs(d, exist_ok=True)
        import io

        with tarfile.open(fileobj=io.BytesIO(out.stdout)) as tf:
            tf.extractall(d, filter="data")
        with open(marker, "w") as fh:
            fh.write(sha)
        return d
    except (OSError, subprocess.SubprocessError, tarfile.TarError):
        return None


def _load_registry_from(root: str) -> dict | None:
    """Import the baseline tree's registry under a scrubbed module
    cache, then restore the current tree's modules. The returned query
    callables keep working afterwards (their defining modules stay
    alive via closure references); only the sys.modules NAMES are
    swapped back, so the two trees never see each other's code.
    Limitation: a baseline query that lazily imports an
    ir_analyses_spark submodule INSIDE its function body would resolve
    the current tree's module after the restore — the headline set has
    no such import (verified: the only function-body intra-package
    imports live in the txn-sink streaming paths, not benched here)."""
    saved = {
        k: sys.modules.pop(k)
        for k in list(sys.modules)
        if k == "ir_analyses_spark" or k.startswith("ir_analyses_spark.")
    }
    sys.path.insert(0, root)
    try:
        from ir_analyses_spark.registry import all_queries as prior_all

        return prior_all()
    except Exception:
        return None
    finally:
        sys.path.remove(root)
        for k in [
            k
            for k in list(sys.modules)
            if k == "ir_analyses_spark" or k.startswith("ir_analyses_spark.")
        ]:
            del sys.modules[k]
        sys.modules.update(saved)


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def _time_headline(run_current, run_baseline, names: list[str], ab: bool) -> dict:
    """The timed protocol over the queries ``names``: ``run_current(name)``
    runs the current tree's query and returns its seconds (raising on an
    error); ``run_baseline(name)`` runs the baseline tree's twin and
    returns its seconds, or None when there is none or it failed. ``ab``
    says whether a baseline interleaves.

    Returns the per-query steady-state medians (``timings``), cold first
    reps (``first_run``), rep counts (``reps``), baseline medians
    (``ab_timings``), the timings of queries that errored in a required
    rep (``partial``, with the message in ``errors``), the messages of
    queries that failed only in an extra rep (``extra_rep_errors``), and
    ``n_pair_reps``."""
    # Timed protocol (r5, per VERDICT r4 item 4): THREE timed repetitions
    # per query at the target SF, no separate target-SF warmup pass.
    #   - rep 1 is a cold-at-target-SF run — exactly the r1-r3 methodology
    #     (it still pays JVM JIT tier-up of the generated code at real row
    #     volume; measured on pricing_summary at sf0.1: first run
    #     ~1.9-2.0 s, later runs ~1.25 s — per-plan compilation, not IO).
    #   - the per-query MEDIAN of the 3 reps is the steady-state headline
    #     (what r4's extra warmup pass measured), and the median also
    #     damps the documented ±25% page-cache/co-tenant noise.
    # One record therefore carries BOTH numbers: "value" (median,
    # steady state) and "value_first_run" (r3-comparable cold pass), so
    # cross-round deltas decompose into methodology vs real gains.
    reps: dict[str, list[float]] = {}
    ab_reps: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    extra_errors: dict[str, str] = {}

    def _current(name: str, failures: dict) -> None:
        try:
            reps.setdefault(name, []).append(run_current(name))
        except Exception as exc:  # one bad query must not lose the record
            failures[name] = f"{type(exc).__name__}: {str(exc)[:200]}"

    def _pair(name: str, current_first: bool, failures: dict) -> None:
        if current_first:
            _current(name, failures)
        dt = run_baseline(name) if ab else None
        if dt is not None:
            ab_reps.setdefault(name, []).append(dt)
        if not current_first:
            _current(name, failures)

    # Rep 0 is CURRENT-ONLY: value_first_run's contract is "the cold
    # first rep, the r1-r3 methodology", and an interleaved baseline
    # twin at rep 0 would pre-warm page cache + JIT for half the
    # queries (a measured ~28% effect), making first_run read a
    # phantom cross-round speedup (review-caught). The A/B pairs run
    # as _N_REPS additional interleaved passes, order alternating by
    # (rep, query) parity — the second run of an identical plan rides
    # the first's warmth, so a fixed order biases the comparison.
    # Steady-state medians for BOTH columns come from the interleaved
    # passes only (identical conditions for the two trees); rep 0
    # feeds first_run alone.
    for name in names:
        _current(name, errors)
    first_run_raw = {name: ts[0] for name, ts in reps.items()}
    n_pair_reps = _N_REPS if ab else _N_REPS - 1
    for rep in range(n_pair_reps):
        for qi, name in enumerate(names):
            if name not in errors:
                _pair(name, (rep + qi) % 2 == 0, errors)

    # r15 (VERDICT r14 item 4/7): the documented small-rep order-parity
    # noise — sub-second queries' 3-rep medians swing ±35-60% and get
    # re-adjudicated with manual bisects every round. ADDITIONS-ONLY
    # protocol extension: queries whose provisional interleaved median
    # is under the cutoff run extra interleaved pairs (same alternating
    # (rep, query)-parity, same session, both trees), and the reported
    # median uses ALL interleaved reps. Output keys are unchanged; the
    # per-query rep count is recorded under the new "reps" field.
    subsec = {
        name
        for name, ts in reps.items()
        if name not in errors
        and len(ts) == 1 + n_pair_reps
        and _median(ts[1:] if ab else ts) < _SUBSEC_CUTOFF_S
    }
    for rep in range(n_pair_reps, n_pair_reps + _N_EXTRA_PAIRS):
        for qi, name in enumerate(names):
            if name in subsec and name not in extra_errors:
                _pair(name, (rep + qi) % 2 == 0, extra_errors)
    # extra reps only add evidence: a query that fails in one keeps its
    # provisional median (cold rep 0 + the required pairs) on both sides
    for name in extra_errors:
        subsec.discard(name)
        reps[name] = reps[name][: 1 + n_pair_reps]
        if name in ab_reps:
            ab_reps[name] = ab_reps[name][:n_pair_reps]
    # expected rep counts per query (cold rep 0 + interleaved passes)
    n_expected = {
        name: 1
        + n_pair_reps
        + (_N_EXTRA_PAIRS if name in subsec else 0)
        for name in names
    }
    n_expected_ab = {
        name: _N_REPS + (_N_EXTRA_PAIRS if name in subsec else 0)
        for name in names
    }

    # ADVICE r5: a query that errored mid-way has fewer timings — that
    # is NOT a steady-state median, and _best_prior_timings in a later
    # round would ingest it as one. Full-rep queries only; partials are
    # recorded under an explicit key the cross-round reader never
    # consumes. Steady state = median of the reps AFTER the cold rep 0
    # when a baseline interleaves (all passes see identical
    # conditions), else of all three reps (the r5-r8 protocol).
    full = {name: ts for name, ts in reps.items() if len(ts) == n_expected[name]}
    return {
        "timings": {
            name: round(_median(ts[1:] if ab else ts), 3)
            for name, ts in full.items()
        },
        "first_run": {
            name: round(first_run_raw[name], 3)
            for name in full
            if name in first_run_raw
        },
        "reps": {name: len(ts) - (1 if ab else 0) for name, ts in full.items()},
        "ab_timings": {
            name: round(_median(ts), 3)
            for name, ts in ab_reps.items()
            if len(ts) == n_expected_ab[name]
        },
        "partial": {
            name: [round(t, 3) for t in ts]
            for name, ts in reps.items()
            if len(ts) < n_expected[name]
        },
        "errors": errors,
        "extra_rep_errors": extra_errors,
        "n_pair_reps": n_pair_reps,
    }


def main() -> None:
    spark = get_spark(app_name="ir_analyses_spark_bench")
    queries = all_queries()
    # Interleaved A/B (r8 VERDICT item 7): two consecutive rounds showed
    # ±17-25% wall-clock drift on FROZEN query code — machine load was
    # eating the signal. The fix is a same-session baseline: the prior
    # round-boundary tree's registry runs the same headline set, with
    # each (rep, query) timed back-to-back current-then-baseline, so
    # both columns see the same page cache, co-tenant load, and JIT
    # state. Cross-round comparisons should use ab_ratio (load-
    # independent), not absolute totals.
    ab_ref = _ab_ref()
    ab_queries: dict | None = None
    ab_root = None
    if ab_ref:
        ab_root = _extract_tree(ab_ref)
        if ab_root:
            ab_queries = _load_registry_from(ab_root)
    # Warm-up: JVM, parquet footer caches, and — decisively — whole-stage
    # codegen compilation, by running every headline plan once at the tiny
    # SF. Generated-class compilation is a fixed per-plan cost (Janino
    # caches by source hash); timing it against sf0.1 data would charge a
    # constant to a throughput metric. The timed runs below measure the
    # data-proportional steady state, which is what scales to 100 TB.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for qmap in ([queries, ab_queries] if ab_queries else [queries]):
        for name in HEADLINE:
            try:
                qmap[name](spark, WARMUP_SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warm-up is best-effort; timed runs surface errors
    # timed protocol: see _time_headline
    def _run_current(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _run_baseline(name: str) -> float | None:
        if not (ab_queries and name in ab_queries):
            return None
        t0 = time.perf_counter()
        try:
            ab_queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            return None  # baseline is advisory; never fails the bench
        return time.perf_counter() - t0

    t = _time_headline(_run_current, _run_baseline, HEADLINE, bool(ab_queries))
    timings, first_run, errors = t["timings"], t["first_run"], t["errors"]
    n_pair_reps = t["n_pair_reps"]
    record = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(SF_DIR),
        # self-description must track the ACTUAL protocol — a stale
        # "3 reps" note in A/B mode would let a cross-round reader
        # attribute the warm-only median to a real speedup
        # (review-caught)
        "warmup": (
            "plans at tiny SF; cold current-only rep 0, then "
            f"{n_pair_reps} interleaved current/baseline pairs "
            f"(+{_N_EXTRA_PAIRS} extra pairs for sub-{_SUBSEC_CUTOFF_S}s "
            "queries, see reps); timed = median of the interleaved reps"
            if ab_queries
            else (
                "plans at tiny SF; timed = median of 3 reps at target SF "
                f"(+{_N_EXTRA_PAIRS} extra reps for "
                f"sub-{_SUBSEC_CUTOFF_S}s queries, see reps)"
            )
        ),
        "value_first_run": round(sum(first_run.values()), 3),
        "queries_first_run": first_run,
        "methodology_note": (
            (
                "value/queries are per-query medians of the "
                f"{n_pair_reps} interleaved (post-cold) target-SF reps; "
                "value_first_run/queries_first_run are the cold "
                "current-only rep 0 - the r1-r3 methodology; ab_ratio "
                "(current/baseline, same session, counterbalanced "
                "order) is the load-independent cross-round signal"
            )
            if ab_queries
            else (
                "value/queries are per-query medians of 3 target-SF "
                "reps (steady state, noise-damped); value_first_run/"
                "queries_first_run are the cold first reps - the r1-r3 "
                "methodology - so round deltas separate methodology "
                "from real gains"
            )
        ),
    }
    # per-query interleaved rep counts actually used for the medians
    # (additions-only: 3 everywhere pre-r15; sub-second queries now 7)
    record["reps"] = t["reps"]
    if ab_queries:
        ab_timings = t["ab_timings"]
        ab_total = round(sum(ab_timings.values()), 3)
        record["ab_baseline"] = {
            "ref": ab_ref,
            "value": ab_total,
            "queries": ab_timings,
            "protocol": (
                "same session, interleaved per (rep, query): current "
                "then baseline back-to-back; medians of 3"
            ),
        }
        if ab_total and set(ab_timings) == set(timings):
            # load-independent round delta: <1 means the current tree is
            # faster than the prior round's on THIS box RIGHT NOW
            record["ab_ratio"] = round(
                sum(timings.values()) / ab_total, 4
            )
    elif ab_ref:
        record["ab_baseline"] = {"ref": ab_ref, "error": "load failed"}
    if t["partial"]:
        record["partial"] = t["partial"]
    if t["extra_rep_errors"]:
        # the provisional median stands; the failure stays visible
        record["extra_rep_errors"] = t["extra_rep_errors"]
    if errors:
        # a partial sum reads as a faster-looking total to any tool that
        # compares "value" across rounds — null it so an errored run can
        # never be mistaken for a full-run record
        record["value"] = None
        record["value_first_run"] = None
        record["errors"] = errors
    print(json.dumps(record))
    if errors:
        for name, msg in errors.items():
            print(f"BENCH ERROR {name}: {msg}", file=sys.stderr)
        sys.exit(1)

    # Regression gate: every headline query must stay within 2× of its best
    # recorded per-round time (BENCH_r*.json are the driver's artifacts).
    # Sub-second queries need an absolute floor too: at 0.3 s the timing is
    # dominated by scheduling jitter, and a 2× ratio alone would fail the
    # whole bench on noise. The JSON line above is already printed, so a
    # failure loses no record.
    best = _best_prior_timings()
    regressions = {
        name: (t, best[name])
        for name, t in timings.items()
        if name in best
        and best[name] > 0
        and t > 2.0 * best[name]
        and t - best[name] > 1.0
    }
    if regressions:
        for name, (now, prior) in regressions.items():
            print(
                f"REGRESSION {name}: {now:.2f}s vs best prior {prior:.2f}s "
                f"(>{2.0:.0f}x)",
                file=sys.stderr,
            )
        sys.exit(1)


def _best_prior_timings() -> dict[str, float]:
    """Best per-query wall time across all recorded rounds (BENCH_r*.json
    next to this script), at the same SF as this run."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    sf = _sf_of(SF_DIR)
    best: dict[str, float] = {}
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        # The driver wraps the bench JSON line under "parsed" (alongside
        # rc/tail); accept both the bare and the wrapped shape.
        if "parsed" in rec and isinstance(rec["parsed"], dict):
            rec = {**rec, **rec["parsed"]}
        try:
            same_sf = sf is not None and float(rec.get("sf")) == sf
        except (TypeError, ValueError):
            same_sf = False
        if not same_sf:
            continue
        if rec.get("errors"):
            # pre-r6 records from errored runs may carry 1-2-rep values in
            # "queries" (the writer now segregates those under "partial");
            # never read an errored run's timings as steady-state medians
            continue
        for name, t in (rec.get("queries") or {}).items():
            if isinstance(t, (int, float)):
                best[name] = min(best.get(name, float("inf")), float(t))
    return best


if __name__ == "__main__":
    main()
