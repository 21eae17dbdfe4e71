"""Spans and counters recorded from outside the engine, at the calls into
each layer's public functions (traced runs only).

A span has a name, start, end, parent and request id; spans live in memory
and are written out once at the end. A span opened with ``group=True`` runs
its Spark work under its own job group, and on close reads the group's job,
stage and task counts from ``SparkContext.statusTracker()``; the listener
bus is drained first, so the counts repeat exactly for the same input.

Tracing is switched on per thread (``Tracer.on()``), so one process can
alternate traced and untraced operations and measure the tracing overhead
as the difference between the two.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- switching -------------------------------------------------------
    @property
    def active(self) -> bool:
        return getattr(self._local, "active", False)

    @contextmanager
    def on(self, request: str | None = None):
        prev = (self.active, getattr(self._local, "request", None))
        self._local.active, self._local.request = True, request
        try:
            yield
        finally:
            self._local.active, self._local.request = prev

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        """Record ``name`` around the block when tracing is on in this
        thread; the yielded dict takes extra attributes."""
        if not self.active:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "request": getattr(self._local, "request", None), **attrs}
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            rec["group"] = f"perfbench-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["wall"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec.update(self.job_counts(rec["group"]))
            with self._lock:
                self.spans.append(rec)

    def job_counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def wrap(self, module, attr: str, name, group: bool = False, after=None):
        """Replace ``module.attr`` by a wrapper that records a span (named
        ``name`` or ``name(*args)``) around each call while tracing is on;
        ``after(rec, result, args, kwargs)`` adds attributes."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, group=group) as rec:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(rec, result, args, kwargs)
            return result

        setattr(module, attr, wrapper)

    # -- reporting ---------------------------------------------------------
    def children(self, spans=None) -> dict:
        kids: dict = {}
        for s in self.spans if spans is None else spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self, spans) -> dict[str, float]:
        """Seconds per layer (span-name prefix) of ``spans`` not covered by
        their child spans."""
        kids = self.children(spans)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], ())])
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def subtree(self, span: dict) -> list[dict]:
        kids, out, todo = self.children(), [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(sorted(rows, key=lambda s: s["id"]), fh, indent=0)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def scan_metrics(df) -> dict:
    """Files and rows read by the file scans of ``df``'s executed plan
    (descending into adaptive query stages and reused exchanges)."""
    plan = df._jdf.queryExecution().executedPlan()
    files = rows = 0
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if cls == "FileSourceScanExec":
            files += _metric(node, "numFiles")
            rows += _metric(node, "numOutputRows")
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return {"files_read": files, "rows_scanned": rows}


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def written_files(root: str, since: float) -> tuple[int, int]:
    """(files, bytes) of parquet data files under ``root`` modified at or
    after the wall-clock time ``since``."""
    files = size = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                st = os.stat(os.path.join(d, n))
                if st.st_mtime >= since:
                    files += 1
                    size += st.st_size
    return files, size
