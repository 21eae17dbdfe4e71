"""Transaction-log table format: snapshot-isolated parquet tables.

The one table format the silver load (``etl/pipeline.py``) and the
streaming sinks (``streaming/pipeline.py``) commit through. It closes
what a bare-directory staged swap cannot: such a layout has a brief
no-target blink between renames, a concurrent reader
can see partition A new while B is still old, and an applied-batch marker
kept beside the data commits per partition, not per batch. The
reference never faces any of this because PostgreSQL gives it MVCC
transactions (reference utils/service/unitofwork.py:120-143); this module
is the storage-level equivalent for a Spark engine on plain parquet — the
same design Delta Lake / Iceberg use, cut down to what the engine needs:

- A table is a directory. Data files live under ``data/<commit-uuid>/``
  (a partitioned table's under ``data/<commit-uuid>/by_<col>=<value>/``)
  and are IMMUTABLE once written; readers never list directories. Every
  file holds whole rows, the partition column included, so any set of
  files reads as ONE scan under the table schema.
- The only source of truth is ``_txnlog/<version>.json`` — a manifest
  naming every live data file (with its partition value, for pruning),
  the table schema, and the applied-batch ledger. Readers resolve the
  highest committed version and read exactly those files: there is no
  moment with no table, no torn multi-partition state, ever.
- A commit writes its data files (invisible: no manifest names them yet),
  then publishes manifest ``v+1`` with ``os.link(tmp, final)`` — atomic,
  and EXCLUSIVE: if another writer took ``v+1`` first the link raises
  ``FileExistsError`` and the commit loop re-resolves the new snapshot
  and rebuilds (optimistic concurrency, Delta's protocol). A crash at any
  point before the link leaves the table exactly at version ``v``; the
  orphaned data directory is swept by ``vacuum``.
- Snapshot isolation: a reader that resolved version ``v`` keeps reading
  ``v``'s files correctly regardless of later commits, until a ``vacuum``
  retires versions older than its retention window (same contract as
  Delta VACUUM).
- The additive merge records ``batch_id`` in the manifest itself, so
  "data applied" and "batch applied" are ONE filesystem operation across
  ALL touched partitions — a replayed streaming batch can never
  double-count, and no reader can observe half a batch.

Scale note (100 TB): each manifest is a FULL file listing, so resolving a
snapshot costs one small-file read — no log replay. At very large file
counts you would shard the listing and checkpoint like Delta does; at
this engine's file sizes (``compact`` keeps files near 128 MB) a
manifest stays in the low MBs up to ~10⁵ files per table. Partition
pruning happens at the MANIFEST level: a pruned read hands Spark only the
matching files, so there is no directory listing at all — cheaper than
Hive-style discovery, and the reason ``merge_upsert`` costs O(touched
partitions) in both I/O and metadata.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

_LOG_DIR = "_txnlog"
_DATA_DIR = "data"
#: a partitioned commit's files sit under ``<prefix><col>=<value>/``
_PART_PREFIX = "by_"
#: applied-batch ids retained in the manifest ledger; Structured Streaming
#: replays only batches at/after the checkpoint frontier, so a bounded
#: recent window is sufficient
_LEDGER_KEEP = 128


class ConcurrentWriteRetryExceeded(RuntimeError):
    """A commit lost the optimistic-concurrency race too many times."""


@dataclass(frozen=True)
class Snapshot:
    """An immutable view of one committed table version."""

    version: int  # 0 = empty, pre-creation
    schema_json: str | None
    #: list of {"path": rel_path, "partition": {col: value} | None}
    files: list[dict] = field(default_factory=list)
    applied_batches: list[int] = field(default_factory=list)
    partition_by: str | None = None

    def file_paths(self, table: str) -> list[str]:
        return [os.path.join(table, f["path"]) for f in self.files]


def _pstr(v):
    """Canonical partition-value domain for membership tests: null stays
    None (``_write_data`` already folds Spark's hive-default marker back
    to null), everything else compares as its string form. Without one
    canonical domain, a NULL-partition file (stored as the marker) and a
    NULL update key (``str(None)``) would never match — and a
    partition-scoped merge would silently duplicate NULL-partition rows."""
    return None if v is None else str(v)


#: sentinel distinguishing "partition key absent from the file's
#: metadata" (membership UNKNOWN → never prune, always rewrite) from
#: "key present with null value" (a concrete, matchable value)
_ABSENT = object()


def _require_layout(snap: "Snapshot", partition_arg: str | None, op: str) -> None:
    """Writers must agree with the table's committed partition layout.
    Silently accepting a different column would record files whose
    partition metadata later reads and merges misinterpret (pruning by a
    key the file never recorded). A partitioned write into a table whose
    manifest is unpartitioned is equally refused: its files would record
    partition values that the table's layout does not have."""
    if snap.schema_json is None or partition_arg is None:
        return
    if snap.partition_by != partition_arg:
        raise ValueError(
            f"{op}: table is partitioned by {snap.partition_by!r}, "
            f"not {partition_arg!r}"
        )


def _log_path(table: str, version: int, log: str = _LOG_DIR) -> str:
    return os.path.join(table, log, f"{version:020d}.json")


def _list_versions(table: str, log: str = _LOG_DIR) -> list[int]:
    log_dir = os.path.join(table, log)
    if not os.path.isdir(log_dir):
        return []
    out = []
    for name in os.listdir(log_dir):
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def snapshot(table: str, version: int | None = None) -> Snapshot:
    """Resolve the newest committed version (or a pinned historical one —
    time travel, as long as vacuum has not retired it)."""
    versions = _list_versions(table)
    if version is None:
        if not versions:
            return Snapshot(version=0, schema_json=None)
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} of {table} does not exist (have {versions})"
        )
    with open(_log_path(table, version)) as fh:
        m = json.load(fh)
    return Snapshot(
        version=m["version"],
        schema_json=m.get("schema"),
        files=m.get("files", []),
        applied_batches=m.get("applied_batches", []),
        partition_by=m.get("partition_by"),
    )


def history(table: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per committed version — version number,
    operation kind, file/row counts, layout, ledger size — computed from
    the manifests ALONE. Row counts were harvested into each manifest at
    write time from the parquet FOOTERS, so the whole history of a 100 TB
    table answers with a handful of small JSON reads and zero data IO
    (the Delta `DESCRIBE HISTORY` contract). ``n_rows`` is None when any
    file of a (pre-upgrade) version lacks a recorded count — absent
    evidence is reported as absent, never as 0."""
    versions = _list_versions(table)
    # Versions are DENSE by construction (_commit assigns strictly +1 and
    # retries on collision) and vacuum retires only a PREFIX, so a legal
    # log listing is always one contiguous integer range. A hole means a
    # manifest was lost out-of-band for a version retention would have
    # kept — that must surface as an error, never silently vanish from
    # history (review-hardened: the deleted-before-the-call shape never
    # reaches the open() below, so the loop's race guard cannot see it).
    if versions and versions != list(range(versions[0], versions[0] + len(versions))):
        # report the GAP BOUNDARIES, not the listing: a long-lived table
        # has thousands of versions and an error message that inlines the
        # whole list is unreadable exactly when it matters (r6 ADVICE)
        gaps = [
            f"{a}..{b}"
            for a, b in zip(versions, versions[1:])
            if b != a + 1
        ]
        raise FileNotFoundError(
            f"history hole at {table}: manifest(s) lost out-of-band in "
            f"gap(s) {', '.join(gaps)} (surviving range "
            f"{versions[0]}..{versions[-1]}, {len(versions)} manifests)"
        )
    out = []
    for v in versions:
        try:
            with open(_log_path(table, v)) as fh:
                m = json.load(fh)
        except FileNotFoundError:
            # a concurrent vacuum(keep_versions=N) may retire old
            # manifests between the version listing and this open; per
            # the retention contract history truncates to the surviving
            # versions. But vacuum only ever deletes a PREFIX of the
            # version sequence, so a benign race leaves the CURRENT
            # listing a contiguous suffix. Two loss shapes must raise
            # instead of silently vanishing ("evidence is reported as
            # absent, never as 0" — review-hardened twice):
            #   - still listed yet unreadable (fs fault);
            #   - a HOLE: this version gone while an OLDER one survives
            #     in the current listing — retention cannot produce that,
            #     only out-of-band deletion can.
            current = _list_versions(table)
            if v in current or any(o["version"] in current for o in out):
                raise
            # benign prefix truncation: versions already emitted in this
            # pass were retired too — drop them with it
            out = [o for o in out if o["version"] in current]
            continue
        files = m.get("files", [])
        if not files:
            rows: int | None = 0
        elif all("rows" in f for f in files):
            rows = sum(f["rows"] for f in files)
        else:
            rows = None
        out.append(
            {
                "version": m["version"],
                "operation": m.get("operation"),
                "n_files": len(files),
                "n_rows": rows,
                "partition_by": m.get("partition_by"),
                "n_applied_batches": len(m.get("applied_batches", [])),
            }
        )
    return out


def _publish(table: str, manifest: dict, log: str = _LOG_DIR) -> bool:
    """Atomically publish a manifest for ``manifest['version']`` in the
    ``log`` directory under ``table`` (the table's own log unless a caller
    versions something else the same way). Returns False if that version
    was taken by a concurrent writer (the caller re-resolves and retries).
    ``os.link`` is the commit point: atomic on POSIX and it FAILS on an
    existing target, unlike ``os.rename`` which would silently clobber the
    winner's commit."""
    target = _log_path(table, manifest["version"], log)
    log_dir = os.path.dirname(target)
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, target)
        # durability-after-ack: the link is only crash-proof once the
        # DIRECTORY entry is flushed — without this, an acknowledged
        # commit (e.g. a streaming batch whose checkpoint then advances)
        # could vanish on power loss and never be replayed
        dfd = os.open(log_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _footer_stats(path: str, cols: list[str]) -> dict | None:
    """Per-file [min, max] for ``cols`` read from the parquet FOOTER
    (pyarrow metadata) — no data scan, no extra Spark job. Values are kept
    JSON-portable (dates/timestamps → ISO strings, bytes → utf-8). A
    column with incomplete row-group stats is omitted (no skipping claim
    for IT) without discarding the other columns' valid stats."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

    def _norm(v):
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        if isinstance(v, (int, float, str)) or v is None:
            return v
        return str(v)  # dates/timestamps → ISO form

    out = {}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        complete = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                complete = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if complete and lo is not None:
            out[col] = [_norm(lo), _norm(hi)]
    return out or None


def _write_data(
    df: DataFrame,
    table: str,
    partition_by: str | None,
    stats_cols: list[str] | None = None,
) -> tuple[list[dict], str]:
    """Write ``df``'s files under a fresh commit directory and return
    their manifest entries. Invisible to every reader until a manifest
    that names them is published. A file whose footer counts no row is
    deleted, not entered: Spark writes one for an empty unpartitioned
    write, and it would add a file to every later read. With
    ``stats_cols``, each entry carries per-file [min, max] harvested from
    the parquet footer — the basis of manifest-level file SKIPPING on
    read (Delta's data-skipping stats)."""
    commit_id = uuid.uuid4().hex
    rel_dir = os.path.join(_DATA_DIR, commit_id)
    out_dir = os.path.join(table, rel_dir)
    w = df.write
    if partition_by:
        # partition by a copy of the column, so every file keeps the real
        # one: any file subset then reads as one scan under the table schema
        copy = _PART_PREFIX + partition_by
        w = df.withColumn(copy, F.col(partition_by)).write.partitionBy(copy)
    w.mode("errorifexists").parquet(out_dir)
    import pyarrow.parquet as pq

    entries: list[dict] = []
    for root, _dirs, names in os.walk(out_dir):
        for name in names:
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            full = os.path.join(root, name)
            # manifest paths are ALWAYS posix-form, whatever the host os.sep
            rel = os.path.relpath(full, table).replace(os.sep, "/")
            part = None
            if partition_by:
                # spark encodes the value into the dir name (url-escaped;
                # NULL becomes the hive default marker — canonicalize it
                # back to null so membership tests can't miss it); the
                # manifest keeps it for pruning
                seg = os.path.relpath(root, out_dir).split(os.sep)[0]
                val = urllib.parse.unquote(seg.partition("=")[2])
                part = {partition_by: None if val == "__HIVE_DEFAULT_PARTITION__" else val}
            entry = {"path": rel, "partition": part}
            try:
                # footer-only row count → manifests can answer DESCRIBE
                # HISTORY with zero data IO (see ``history``)
                entry["rows"] = pq.ParquetFile(full).metadata.num_rows
            except Exception:
                pass
            if entry.get("rows") == 0:
                os.remove(full)
                continue
            if stats_cols:
                stats = _footer_stats(full, stats_cols)
                if stats:
                    entry["stats"] = stats
            entries.append(entry)
    return entries, rel_dir


def _commit(table: str, build, max_retries: int = 20) -> Snapshot:
    """Optimistic-concurrency commit loop. ``build(snap)`` runs the Spark
    job(s) against snapshot ``snap`` and returns the next manifest dict
    (version must be ``snap.version + 1``), or None to skip (nothing to
    do — e.g. an already-applied batch)."""
    for _ in range(max_retries):
        snap = snapshot(table)
        manifest = build(snap)
        if manifest is None:
            return snap
        if _publish(table, manifest):
            return Snapshot(
                version=manifest["version"],
                schema_json=manifest.get("schema"),
                files=manifest.get("files", []),
                applied_batches=manifest.get("applied_batches", []),
                partition_by=manifest.get("partition_by"),
            )
        # lost the race: loop re-resolves the winner's snapshot and
        # rebuilds; our orphaned data files are swept by vacuum()
    raise ConcurrentWriteRetryExceeded(table)


def partition_matches(f: dict, allowed: dict[str, set]) -> bool:
    """Manifest-level partition membership — conservative: a file with no
    recorded partition, or partitioned by another column, is KEPT (its
    membership is unknown). ``allowed`` values are in ``_pstr`` form."""
    if f["partition"] is None:
        return True  # unknown membership: must keep
    for c, vs in allowed.items():
        v = f["partition"].get(c, _ABSENT)
        if v is _ABSENT:
            return True  # partitioned by another column: keep
        if _pstr(v) not in vs:
            return False
    return True


def stats_may_hit(f: dict, range_filter: dict[str, tuple]) -> bool:
    """Min/max file skipping — conservative: a file without stats for the
    column, or with an incomparable bound, is KEPT. Bounds compare in the
    stats' stored domain (non-primitives are strings, see _footer_stats)."""
    stats = f.get("stats") or {}
    for col, (lo, hi) in range_filter.items():
        rng = stats.get(col)
        if rng is None:
            continue  # no stats → cannot skip
        if lo is not None and isinstance(rng[1], str):
            lo = lo if isinstance(lo, str) else str(lo)
        if hi is not None and isinstance(rng[0], str):
            hi = hi if isinstance(hi, str) else str(hi)
        try:
            if (hi is not None and rng[0] > hi) or (
                lo is not None and rng[1] < lo
            ):
                return False
        except TypeError:
            continue  # incomparable → cannot skip, keep the file
    return True


def read(
    spark: SparkSession,
    table: str,
    partition_values: dict[str, list] | None = None,
    at_version: int | None = None,
    range_filter: dict[str, tuple] | None = None,
) -> DataFrame:
    """Snapshot read. BOTH pruning arguments are OPTIMIZATIONS, never
    filters: a file whose membership can't be decided is conservatively
    kept, and the caller still applies the actual predicate.

    ``partition_values`` prunes at the MANIFEST level ({col: [allowed
    values]}; values compare as strings, the directory-encoding form) —
    files with no recorded partition (written unpartitioned into a
    partitioned table) are KEPT, since they can hold any value.
    ``range_filter`` ({col: (lo, hi)} inclusive) skips files whose
    recorded min/max (see ``stats_cols`` on the writers) cannot
    intersect; bounds are normalized to the stats' stored form (dates/
    timestamps → ISO strings), and an incomparable pair keeps the file.
    ``at_version`` time travels to a retained historical version."""
    snap = snapshot(table, at_version)
    if snap.schema_json is None:
        raise FileNotFoundError(f"no committed version at {table}")
    schema = StructType.fromJson(json.loads(snap.schema_json))
    files = snap.files
    if partition_values:
        allowed = {c: {_pstr(v) for v in vs} for c, vs in partition_values.items()}
        files = [f for f in files if partition_matches(f, allowed)]
    if range_filter:
        files = [f for f in files if stats_may_hit(f, range_filter)]
    return _read_files(spark, table, files, schema)


def _read_files(
    spark: SparkSession, table: str, files: list[dict], schema: StructType
) -> DataFrame:
    """Read a manifest file subset as one scan under an explicit schema.
    Every file holds whole rows, so the files' directories carry nothing
    the read needs; the schema pins each column's type, and parquet
    resolves columns by name, null-filling one a file predates."""
    if not files:
        # an empty LOCAL relation, which the optimizer folds away;
        # ``createDataFrame([], schema)`` would plan Python worker tasks
        jss = spark._jsparkSession
        empty = jss.createDataFrame(
            spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
        )
        return DataFrame(empty, spark)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, f["path"]) for f in files]
    )


def read_changes(
    spark: SparkSession,
    table: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two committed versions (Delta CDF
    semantics, computed ON DEMAND from the manifest diff — no change
    files are ever written, so every write path stays untouched).

    Mechanics: manifests name immutable files, so a row can only change
    by its file being REPLACED — the diff of the two file sets is the
    complete superset of changed rows. Only the removed files (pre-image
    side) and added files (post-image side) are read — carried-over files
    never scan, which at 100 TB means a change feed over a
    partition-scoped merge reads just the touched partitions. The keyed
    full-outer comparison then classifies rows:

    - key only on the post side → ``insert``
    - key only on the pre side → ``delete``
    - both sides, any non-key column differing (null-safe) →
      ``update_preimage`` + ``update_postimage``
    - both sides, all columns equal → dropped (a rewrite that didn't
      change the row — compaction, or the untouched remainder of a
      rewritten file)

    Output: the table schema (the TO version's — evolved columns
    null-fill on the pre side) plus ``_change_type`` and
    ``_commit_version`` (the TO version). Like Delta's MERGE, keys must
    be non-null: a null key never joins, so a null-keyed rewrite reports
    as delete + insert rather than an update pair (documented, not
    silent — the same rows ARE all reported)."""
    snap_a = snapshot(table, from_version)
    snap_b = snapshot(table, to_version)
    if snap_b.schema_json is None:
        raise FileNotFoundError(f"no committed version at {table}")
    if snap_a.partition_by != snap_b.partition_by:
        raise ValueError(
            "read_changes across a partition-layout change is ambiguous: "
            f"{snap_a.partition_by!r} → {snap_b.partition_by!r}"
        )
    schema = StructType.fromJson(json.loads(snap_b.schema_json))
    paths_a = {f["path"] for f in snap_a.files}
    paths_b = {f["path"] for f in snap_b.files}
    pre = _read_files(
        spark, table,
        [f for f in snap_a.files if f["path"] not in paths_b],
        schema,
    )
    post = _read_files(
        spark, table,
        [f for f in snap_b.files if f["path"] not in paths_a],
        schema,
    )
    cols = [f.name for f in schema.fields]
    non_keys = [c for c in cols if c not in keys]
    old = pre.select(
        *[F.col(c).alias(f"__old_{c}") for c in cols],
        F.lit(True).alias("__old_present"),
    )
    new = post.select(
        *[F.col(c).alias(f"__new_{c}") for c in cols],
        F.lit(True).alias("__new_present"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__old_{k}") == F.col(f"__new_{k}")
        cond = c if cond is None else (cond & c)
    joined = old.join(new, cond, "full_outer")
    differs = F.lit(False)
    for c in non_keys:
        differs = differs | ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))

    def _emit(frame: DataFrame, side: str, change: str) -> DataFrame:
        return frame.select(
            *[F.col(f"__{side}_{c}").alias(c) for c in cols],
            F.lit(change).alias("_change_type"),
            F.lit(snap_b.version).alias("_commit_version"),
        )

    inserts = joined.filter(F.col("__old_present").isNull())
    deletes = joined.filter(F.col("__new_present").isNull())
    updated = joined.filter(
        F.col("__old_present").isNotNull()
        & F.col("__new_present").isNotNull()
        & differs
    )
    return (
        _emit(inserts, "new", "insert")
        .unionByName(_emit(deletes, "old", "delete"))
        .unionByName(_emit(updated, "old", "update_preimage"))
        .unionByName(_emit(updated, "new", "update_postimage"))
    )


def overwrite(
    df: DataFrame,
    table: str,
    partition_by: str | None = None,
    stats_cols: list[str] | None = None,
) -> Snapshot:
    """Full replace: new manifest names only this commit's files.
    ``stats_cols`` records per-file min/max for manifest-level skipping
    (pair with a range-sharded layout — ``repartitionByRange`` plus
    ``sortWithinPartitions`` on the key — for disjoint per-file ranges,
    where a point read prunes to ONE file)."""
    entries, _ = _write_data(df, table, partition_by, stats_cols)
    schema = df.schema.json()

    def build(snap: Snapshot) -> dict:
        return {
            "version": snap.version + 1,
            "schema": schema,
            "partition_by": partition_by,
            "files": entries,
            "applied_batches": [],
            "operation": "overwrite",
        }

    return _commit(table, build)


def append(
    df: DataFrame,
    table: str,
    partition_by: str | None = None,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
) -> Snapshot:
    """Append: next manifest = prior files + this commit's files. The data
    job runs once; only the (cheap) manifest build re-runs on a lost
    race, so two concurrent appends both land. An append of no rows to an
    existing table publishes no version and returns the current snapshot.

    ``merge_schema=True`` allows the append to ADD columns (Delta's
    mergeSchema): the manifest schema widens to the union, and readers
    null-fill the new columns for pre-evolution files (the explicit read
    schema makes parquet do this for free). Without it the appended
    frame's columns must match the table schema exactly; a type change
    to an existing column is refused in EITHER mode — silently
    committing files the manifest schema cannot read bricks every later
    scan of the table."""
    entries, _ = _write_data(df, table, partition_by, stats_cols)
    schema = df.schema.json()

    def build(snap: Snapshot) -> dict:
        _require_layout(snap, partition_by, "append")
        out_schema = snap.schema_json or schema
        if snap.schema_json:
            old = StructType.fromJson(json.loads(snap.schema_json))
            by_name = {f.name: f for f in old.fields}
            added = []
            for f in df.schema.fields:
                have = by_name.get(f.name)
                if have is None:
                    added.append(f)
                elif have.dataType != f.dataType:
                    raise TypeError(
                        f"append cannot change column "
                        f"{f.name}: {have.dataType} -> {f.dataType}"
                    )
            if merge_schema:
                # an ADDED column is null for every pre-evolution file, so
                # it must be recorded nullable no matter what the appended
                # frame declared (a lit()-built column arrives
                # non-nullable, and readers null-filling old files against
                # a non-nullable field crash in the JVM arrow accessor)
                added = [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in added
                ]
                out_schema = StructType(old.fields + added).json()
            elif added or len(df.schema.fields) != len(old.fields):
                raise TypeError(
                    "append schema mismatch (extra or missing columns); "
                    "pass merge_schema=True to add columns"
                )
        if not entries and out_schema == snap.schema_json:
            return None  # nothing to add: the table stays at its version
        return {
            "version": snap.version + 1,
            "schema": out_schema,
            "partition_by": snap.partition_by if snap.schema_json else partition_by,
            "files": snap.files + entries,
            "applied_batches": snap.applied_batches,
            "operation": "append",
        }

    return _commit(table, build)


def merge_upsert(
    updates: DataFrame,
    table: str,
    keys: list[str],
    partition_col: str | None = None,
    replace: DataFrame | None = None,
) -> Snapshot:
    """Keyed MERGE with snapshot isolation: at most one update row per key
    (collapse a batch to latest-per-key first if the feed can repeat
    keys; with duplicates, all duplicate rows land).

    ``replace`` (default ``updates``) holds the keys being replaced: every
    row whose keys match one of its rows goes, and ``updates`` lands. A
    load that replaces a parent's child rows as a unit passes the parent
    keys, so a parent reloaded with fewer children, or none, keeps none of
    its old ones; a partition or the whole table left without a row simply
    has no file in the new manifest.

    With ``partition_col`` the rewrite is scoped to the partitions present
    in ``replace`` (which carries that column): untouched partitions'
    FILES carry over into the new manifest verbatim — zero read, zero
    write, zero metadata churn for them. Precondition (as in every
    partition-scoped MERGE): ``partition_col`` functionally depends on
    ``keys``. The merge writes new files beside the live ones and never
    rewrites a file a reader may hold. On a lost commit race the merge job
    re-runs against the winning snapshot, so concurrent merges serialize
    correctly instead of silently dropping each other's rows."""
    spark = updates.sparkSession
    replace = updates if replace is None else replace

    def build(snap: Snapshot) -> dict:
        _require_layout(snap, partition_col, "merge_upsert")
        if snap.schema_json is None:
            entries, _ = _write_data(updates, table, partition_col)
            return {
                "version": 1,
                "schema": updates.schema.json(),
                "partition_by": partition_col,
                "files": entries,
                "applied_batches": [],
                # the find-or-create path is still a MERGE commit; the
                # model-based lifecycle test caught this label missing
                # (DESCRIBE HISTORY answered None for such tables' v1)
                "operation": "merge_upsert",
            }
        # a file with unknown partition membership — written unpartitioned
        # into a partitioned table, or missing this key entirely — can
        # hold ANY key, so it always joins the rewrite set, never the
        # carry-over set
        unknown = [
            f
            for f in snap.files
            if f["partition"] is None or partition_col not in f["partition"]
        ] if partition_col is not None else []
        if partition_col is not None and not unknown:
            touched = {
                _pstr(r[0])
                for r in replace.select(partition_col).distinct().collect()
            }
            kept_entries = [
                f
                for f in snap.files
                if _pstr(f["partition"].get(partition_col)) not in touched
            ]
            current = read(
                spark,
                table,
                partition_values={partition_col: list(touched)},
                at_version=snap.version,
            )
        else:
            kept_entries = []
            current = read(spark, table, at_version=snap.version)
        # a left anti join ignores duplicate keys on its right side, so the
        # key list needs no distinct (and no shuffle) of its own
        kept = current.join(replace.select(*keys), keys, "left_anti")
        merged = kept.unionByName(updates.select(*current.columns))
        entries, _ = _write_data(merged, table, partition_col)
        return {
            "version": snap.version + 1,
            "schema": snap.schema_json,
            "partition_by": snap.partition_by,
            "files": kept_entries + entries,
            "applied_batches": snap.applied_batches,
            "operation": "merge_upsert",
        }

    return _commit(table, build)


def additive_merge(
    delta: DataFrame,
    table: str,
    partition_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    batch_id: int,
) -> Snapshot:
    """Additive (re-aggregating) merge with exactly-once batch semantics:
    existing rows and the delta re-aggregate (counts/sums accumulate,
    unlike keyed MERGE which replaces rows), pruned to the partitions the
    delta touches. ``batch_id`` membership in the manifest ledger IS the
    applied test, and the ledger travels in the same manifest link as the
    data — so across ALL touched partitions, "merged" and "marked" are
    one atomic operation. A replayed batch short-circuits to a no-op; a
    crash anywhere before the link leaves the prior version fully intact;
    a concurrent reader sees the whole batch or none of it."""
    spark = delta.sparkSession

    def build(snap: Snapshot) -> dict | None:
        if batch_id in snap.applied_batches:
            return None  # replay of an applied batch: exactly-once no-op
        _require_layout(snap, partition_col, "additive_merge")
        unknown = [
            f
            for f in snap.files
            if f["partition"] is None or partition_col not in f["partition"]
        ]
        if snap.schema_json is None:
            merged = delta.groupBy(*group_cols).agg(
                *[F.sum(c).alias(c) for c in sum_cols]
            )
            kept_entries: list[dict] = []
        elif unknown:
            # partition-unknown files could hold touched groups: full merge
            merged = (
                read(spark, table, at_version=snap.version)
                .unionByName(delta.select(*group_cols, *sum_cols))
                .groupBy(*group_cols)
                .agg(*[F.sum(c).alias(c) for c in sum_cols])
            )
            kept_entries = []
        else:
            # the touched-partition collect is only needed (and only paid)
            # on the pruned path
            touched = {
                _pstr(r[0])
                for r in delta.select(partition_col).distinct().collect()
            }
            current = read(
                spark,
                table,
                partition_values={partition_col: list(touched)},
                at_version=snap.version,
            )
            merged = (
                current.unionByName(delta.select(*current.columns))
                .groupBy(*group_cols)
                .agg(*[F.sum(c).alias(c) for c in sum_cols])
            )
            kept_entries = [
                f
                for f in snap.files
                if _pstr(f["partition"].get(partition_col)) not in touched
            ]
        entries, _ = _write_data(merged, table, partition_col)
        ledger = sorted(set(snap.applied_batches) | {batch_id}, reverse=True)
        return {
            "version": snap.version + 1,
            "schema": snap.schema_json or merged.schema.json(),
            "partition_by": snap.partition_by or partition_col,
            "files": kept_entries + entries,
            "applied_batches": ledger[:_LEDGER_KEEP],
            "operation": "additive_merge",
        }

    return _commit(table, build)


def transform_commit(
    spark: SparkSession,
    table: str,
    compute,
    batch_id: int | None = None,
) -> Snapshot:
    """Read-modify-write as one transaction: ``compute(current_df_or_None)``
    returns the table's full next state, committed with snapshot isolation
    and (with ``batch_id``) exactly-once replay protection via the
    manifest ledger. On a lost commit race ``compute`` re-runs against the
    winning snapshot — the general OCC building block.
    Because the commit replaces EVERY file, the manifest takes compute's
    output schema verbatim — a transform that adds a column evolves the
    table (pinning the old schema would silently hide the new column on
    read). The next state keeps the table's partition layout; a first
    commit writes it unpartitioned."""

    def build(snap: Snapshot) -> dict | None:
        if batch_id is not None and batch_id in snap.applied_batches:
            return None
        cur = (
            read(spark, table, at_version=snap.version)
            if snap.schema_json is not None
            else None
        )
        out = compute(cur)
        entries, _ = _write_data(out, table, snap.partition_by)
        ledger = snap.applied_batches
        if batch_id is not None:
            ledger = sorted(set(ledger) | {batch_id}, reverse=True)[
                :_LEDGER_KEEP
            ]
        return {
            "version": snap.version + 1,
            "schema": out.schema.json(),
            "partition_by": snap.partition_by,
            "files": entries,
            "applied_batches": ledger,
            "operation": "transform",
        }

    return _commit(table, build)


def restore(table: str, to_version: int) -> Snapshot:
    """RESTORE (Delta's ROLLBACK-as-commit): publish a NEW version whose
    file list, schema, and layout are the target version's — history is
    preserved (the bad commits stay inspectable and time-travelable), the
    applied-batch ledger carries over from the CURRENT tip (a restored
    table must still treat already-applied batch ids as applied — resetting
    the ledger would let a replayed batch double-count into the restored
    state), and no data is copied: manifests name immutable files, so a
    restore is one JSON write. Fails if the target was vacuumed away."""
    target = snapshot(table, to_version)
    if target.schema_json is None:
        raise FileNotFoundError(f"no committed version at {table}")
    missing = [
        f["path"] for f in target.files
        if not os.path.exists(os.path.join(table, f["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {table} to v{to_version}: {len(missing)} data "
            f"file(s) were vacuumed (first: {missing[0]})"
        )

    def build(snap: Snapshot) -> dict:
        return {
            "version": snap.version + 1,
            "schema": target.schema_json,
            "partition_by": target.partition_by,
            "files": target.files,
            "applied_batches": snap.applied_batches,
            "operation": "restore",
        }

    return _commit(table, build)


def zorder_value(col_a, col_b, bits: int = 16) -> "pyspark.sql.Column":  # noqa: F821
    """Morton (Z-order) interleave of two pre-scaled integer columns
    (each in [0, 2^bits)): bit i of ``col_a`` lands at position 2i+1, of
    ``col_b`` at 2i. Pure shift/and/or expressions — whole-stage codegen,
    no UDF. Locality property: keys close in EITHER dimension are close
    in z-value, so range-sharding by z bounds BOTH columns' per-file
    ranges (1-D sorting bounds only its own column)."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(col_a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(col_b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def zorder_layout(
    df: DataFrame, col_a: str, col_b: str, n_shards: int, bits: int = 16
) -> DataFrame:
    """The z-layout pipeline of ``compact(zorder_by=…)`` (Delta's
    ``OPTIMIZE ZORDER BY``): scale both columns to ``bits``-bit ranks
    (min/max from one scalar aggregate), Morton-interleave, range-shard
    and locally sort. Every output file then covers a small rectangle of
    (col_a, col_b) space, so min/max skipping prunes selective predicates
    on EITHER column. Linear min/max scaling is rank-faithful enough for
    uniform-ish keys; skewed keys want histogram ranks under the same
    interleave. An EMPTY frame returns unchanged (no min/max to scale by);
    non-numeric or all-NULL z-columns raise a clear error instead of a
    deep TypeError or a silent not-actually-zordered commit."""
    lo_a, hi_a, lo_b, hi_b, n_rows = df.select(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b),
        F.count(F.lit(1)),
    ).first()
    if n_rows == 0:
        return df  # empty input: nothing to lay out
    if lo_a is None or lo_b is None:
        # rows exist but a z-column is ALL NULL — silently skipping the
        # layout would commit a 'zorder'-labeled version that is neither
        # z-ordered nor resharded
        raise ValueError(
            f"z-order column {col_a if lo_a is None else col_b!r} is "
            "entirely NULL"
        )
    try:
        lo_af, span_af = float(lo_a), float(hi_a - lo_a) or 1.0
        lo_bf, span_bf = float(lo_b), float(hi_b - lo_b) or 1.0
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"z-order requires numeric columns, got {col_a!r}/{col_b!r}"
        ) from exc
    top = (1 << bits) - 1

    def scaled(c, lo, span):
        return F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * top
        ).cast("long")

    z = zorder_value(
        scaled(col_a, lo_af, span_af), scaled(col_b, lo_bf, span_bf), bits
    )
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_shards, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def compact(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    stats_cols: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> Snapshot:
    """OPTIMIZE: rewrite the current snapshot into ~target-sized files and
    commit the new layout as one version. Readers of the old snapshot are
    untouched (old files persist until vacuum) — compaction never blocks
    or breaks a concurrent query. A partitioned table keeps its layout and
    per-file partition metadata, and a partition larger than the byte
    target splits into several files. Pass ``stats_cols`` to re-harvest
    min/max skipping stats for the rewritten files (a compaction without
    it drops them — skipping then degrades to scan-everything, safe but
    slower).

    ``zorder_by=(col_a, col_b)`` is Delta's ``OPTIMIZE ZORDER BY``: the
    rewrite range-shards and locally sorts by the Morton interleave of
    the two columns (``zorder_value`` — pure codegen), so every
    rewritten file covers a small RECTANGLE of (a, b) space and the
    manifest's min/max stats (pass both columns in ``stats_cols``) prune
    selective predicates on EITHER column. Unpartitioned tables only —
    z-ordering across hive partitions would break per-partition merge
    pruning."""
    snap = snapshot(table)
    if snap.schema_json is None:
        raise FileNotFoundError(f"no committed version at {table}")
    total = sum(
        os.path.getsize(p)
        for p in snap.file_paths(table)
        if os.path.exists(p)
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = read(spark, table, at_version=snap.version)
    if zorder_by is not None:
        if snap.partition_by:
            raise ValueError(
                "zorder_by on a partitioned table is unsupported: the "
                "z-shards would span partition values"
            )
        col_a, col_b = zorder_by
        df = zorder_layout(df, col_a, col_b, n_files)
    elif snap.partition_by:
        # partition layout (and per-file partition metadata — the basis of
        # merge pruning) must survive compaction, so rows repartition by
        # (partition value, row salt). Keying by the value alone would
        # bound each value to ONE task, hence one file, so a hot partition
        # could never split to the byte target. The salt spreads each
        # value over ceil(n_files / n_values) tasks; with fewer files than
        # values it is constant and each value stays one file.
        part = snap.partition_by
        n_values = max(
            1, len({_pstr((f["partition"] or {}).get(part)) for f in snap.files})
        )
        spread = -(-n_files // n_values)
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(spread))
        df = df.repartition(max(n_files, n_values), F.col(part), salt)
    else:
        df = df.repartition(n_files)
    entries, _ = _write_data(df, table, snap.partition_by, stats_cols)

    def build(s: Snapshot) -> dict | None:
        if s.version != snap.version:
            return None  # table moved on; stale compaction abandons itself
        return {
            "version": s.version + 1,
            "schema": s.schema_json,
            "partition_by": s.partition_by,
            "files": entries,
            "applied_batches": s.applied_batches,
            "operation": "zorder" if zorder_by is not None else "compact",
        }

    return _commit(table, build)


def vacuum(
    table: str,
    keep_versions: int = 2,
    orphan_min_age_seconds: float = 600.0,
    keep_from_version: int | None = None,
) -> dict:
    """Retire history: keep the newest ``keep_versions`` manifests, delete
    every data file none of them references, and sweep orphaned commit
    directories (crashed/lost-race writers). Readers pinned to a retired
    snapshot break afterwards — the standard retention contract; size
    ``keep_versions`` to the longest-running query.

    ``keep_from_version`` is an ABSOLUTE retention floor: no manifest with
    version >= the floor is ever retired, however the newest-N window
    falls. A time-based caller (RETAIN HOURS in ``io/txn_maint.py``)
    resolves its cutoff to the oldest in-retention VERSION at planning
    time and passes it here, so a commit landing between the plan and the
    vacuum widens the kept set instead of shifting a count-based window
    over manifests the plan promised to retain (the Delta semantics:
    retention is an instant in history, not a count).

    A commit directory with NO live files might belong to an IN-FLIGHT
    writer that has written data but not yet published its manifest —
    deleting it would corrupt that commit the instant its link lands. Such
    fully-orphaned directories are only swept once older than
    ``orphan_min_age_seconds`` (Delta VACUUM's retention-window rule);
    dead files inside partially-live directories are always safe — their
    commit published, so nothing in-flight references them."""
    import time

    if keep_versions < 1:
        # keep_versions=0 would slice versions[-0:] == ALL versions into
        # `live` while the manifest loop deletes every log file — a table
        # whose data survives but whose log is gone. Retiring the whole
        # table is directory removal, not a vacuum setting.
        raise ValueError("vacuum requires keep_versions >= 1")
    versions = _list_versions(table)
    keep = versions[-keep_versions:] if versions else []
    if keep_from_version is not None:
        # both the newest-N set and the >=floor set are suffixes of the
        # dense version range, so their union is whichever starts earlier
        floored = [v for v in versions if v >= keep_from_version]
        if len(floored) > len(keep):
            keep = floored
    # keep is always a suffix of the dense version range, but a
    # keep_from_version floor can make it nearly the whole history — a
    # list-membership test in this loop would be O(n^2) on a
    # thousand-version table (review-caught)
    keep_set = set(keep)
    live: set[str] = set()
    published: set[str] = set()  # named by ANY manifest → not in-flight
    for v in versions:
        paths = {f["path"] for f in snapshot(table, v).files}
        published |= paths
        if v in keep_set:
            live |= paths
    removed_files = 0
    now = time.time()
    data_root = os.path.join(table, _DATA_DIR)
    if os.path.isdir(data_root):
        for commit_id in os.listdir(data_root):
            cdir = os.path.join(data_root, commit_id)
            all_files = [
                os.path.relpath(os.path.join(root, name), table)
                for root, _dirs, names in os.walk(cdir)
                for name in names
            ]
            if not any(rel in live for rel in all_files):
                if not any(rel in published for rel in all_files):
                    # never referenced by a manifest: could be an
                    # IN-FLIGHT writer's data — only sweep when old
                    try:
                        age = now - os.path.getmtime(cdir)
                    except OSError:
                        continue
                    if age < orphan_min_age_seconds:
                        continue
                removed_files += len(all_files)
                shutil.rmtree(cdir, ignore_errors=True)
                continue
            for root, _dirs, names in os.walk(cdir, topdown=False):
                for name in names:
                    rel = os.path.relpath(os.path.join(root, name), table)
                    if rel not in live:
                        os.remove(os.path.join(root, name))
                        removed_files += 1
            for root, dirs, names in os.walk(cdir, topdown=False):
                if not dirs and not names and root != cdir:
                    os.rmdir(root)
    removed_versions = 0
    for v in versions[: len(versions) - len(keep)]:
        os.remove(_log_path(table, v))
        removed_versions += 1
    # sweep aged .tmp-* manifests (a writer killed between link and its
    # finally-remove leaves one; harmless to readers but they accumulate)
    log_dir = os.path.join(table, _LOG_DIR)
    if os.path.isdir(log_dir):
        for name in os.listdir(log_dir):
            if not name.startswith(".tmp-"):
                continue
            p = os.path.join(log_dir, name)
            try:
                if now - os.path.getmtime(p) >= orphan_min_age_seconds:
                    os.remove(p)
                    removed_files += 1
            except OSError:
                pass
    return {"removed_files": removed_files, "removed_versions": removed_versions}
