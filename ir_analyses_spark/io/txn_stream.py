"""Spark DataSource integration for the transaction-log table format
(``io/txn.py``): a streaming SOURCE (tail a txn table the way Delta
readers tail a Delta table) and a BATCH WRITER
(``df.write.format("txn_table")``) whose two-phase commit maps exactly
onto the manifest log — executor tasks write invisible files and return
commit messages, the driver's ``commit()`` publishes ONE manifest (the
atomic point), and ``abort()`` removes every written file, so a failed
job leaves the table byte-identical.

Offsets are COMMIT VERSIONS — the natural streaming clock of a
manifest-log table. Each micro-batch is the file-set diff between two
committed versions, planned as ONE input partition per added file, read
EXECUTOR-SIDE with pyarrow (the driver only ever touches the manifest
JSON — no data rows flow through it, unlike SimpleDataSourceStreamReader
whose prefetch materializes on the driver). Version diffing also makes
crash recovery exact: the WAL stores version pairs, and replaying a
committed range re-lists the same immutable files.

Append-only discipline (Delta's default): if any file was REMOVED between
the offsets, the table changed by rewrite (merge/compact/overwrite) and
tailing it as an append stream would double-read rewritten rows — the
reader refuses loudly and points at the batch change-feed API
(``txn.read_changes``) instead of silently corrupting the stream.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import txn


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _read_file_batches(path: str, schema: StructType):
    """Executor-side file → arrow batches, shared by the batch and stream
    readers: ONE footer open (column projection reuses the same handle),
    and pre-evolution files read by column INTERSECTION with declared-type
    null-fill. Every txn file holds whole rows, partition column included.
    Mirrors ``txn._read_files``'s explicit-schema semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    names = [f.name for f in schema.fields]
    with pq.ParquetFile(path) as pf:
        in_file = set(pf.schema_arrow.names)
        file_cols = [n for n in names if n in in_file]
        table = pf.read(columns=file_cols)
    if len(file_cols) == len(names):
        yield from table.to_batches()
        return
    types = {f.name: to_arrow_type(f.dataType) for f in schema.fields}
    for batch in table.to_batches():
        cols = [
            batch.column(n) if n in in_file
            # evolved column absent from this file
            else pa.nulls(batch.num_rows, type=types[n])
            for n in names
        ]
        yield pa.RecordBatch.from_arrays(cols, names=names)


class TxnTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("option 'path' is required")
        snap = txn.snapshot(self.table)
        if snap.schema_json is None:
            raise FileNotFoundError(f"no committed version at {self.table}")
        self._schema = StructType.fromJson(json.loads(snap.schema_json))

    # -- offset protocol -------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        return {"version": txn.snapshot(self.table).version}

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        if end["version"] <= start["version"]:
            return []
        snap_a = (
            txn.Snapshot(version=0, schema_json=None)
            if start["version"] == 0
            else txn.snapshot(self.table, start["version"])
        )
        snap_b = txn.snapshot(self.table, end["version"])
        paths_a = {f["path"] for f in snap_a.files}
        paths_b = {f["path"] for f in snap_b.files}
        removed = paths_a - paths_b
        if removed:
            raise ValueError(
                f"txn table {self.table} changed by rewrite between "
                f"versions {start['version']} and {end['version']} "
                f"({len(removed)} file(s) removed) — an append stream "
                "would double-read rewritten rows; use txn.read_changes"
            )
        return [
            _FilePartition(os.path.join(self.table, p))
            for p in sorted(paths_b - paths_a)
        ]

    def commit(self, end: dict) -> None:
        pass  # the manifest log IS the source of truth; nothing to ack

    # -- executor-side read ---------------------------------------------
    def read(self, partition: _FilePartition) -> Iterator:
        # arrow batches stream straight into Spark's arrow pipe — no
        # per-row Python; shared helper handles pre-evolution files by
        # column intersection + null-fill (same as the batch reader)
        yield from _read_file_batches(partition.path, self._schema)



class _TxnWriteMessage(WriterCommitMessage):
    def __init__(self, rel_path: str | None, rows: int):
        self.rel_path = rel_path
        self.rows = rows



def _new_job_dir() -> str:
    """Per-job commit directory under txn's data root. MUST live under
    ``txn._DATA_DIR`` — vacuum's orphan sweep walks only that root, so a
    file from a failed/speculative task that never reported a commit
    message is reclaimable by the age-gated sweep."""
    import uuid as _uuid

    return os.path.join(txn._DATA_DIR, _uuid.uuid4().hex)


def _write_task_file(table: str, rel_dir: str, iterator) -> _TxnWriteMessage:
    """Executor-side task write shared by the batch and stream writers:
    RecordBatches stream INCREMENTALLY through one pq.ParquetWriter (peak
    memory = one batch, not the whole partition) into a single file that
    stays invisible until a manifest names it."""
    import uuid as _uuid

    import pyarrow.parquet as pq

    writer = None
    rel = os.path.join(rel_dir, f"part-{_uuid.uuid4().hex}.parquet")
    full = os.path.join(table, rel)
    rows = 0
    try:
        for batch in iterator:
            if not batch.num_rows:
                continue
            if writer is None:
                os.makedirs(os.path.dirname(full), exist_ok=True)
                writer = pq.ParquetWriter(full, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return _TxnWriteMessage(None, 0)
    return _TxnWriteMessage(rel.replace(os.sep, "/"), rows)


def _check_append_schema(old_json: str, new_json: str, what: str) -> None:
    """Exact (name, type, order) schema equality for appends — mirrors
    ``txn.append``'s refusal to silently evolve: committing files the
    manifest schema cannot read bricks every later scan."""
    old = StructType.fromJson(json.loads(old_json))
    new = StructType.fromJson(json.loads(new_json))
    if [(f.name, f.dataType) for f in old.fields] != [
        (f.name, f.dataType) for f in new.fields
    ]:
        raise ValueError(
            f"{what} schema mismatch: table has {old.simpleString()}, "
            f"write has {new.simpleString()}"
        )


class TxnTableArrowWriter(DataSourceArrowWriter):
    """Arrow-batched batch writer with manifest-log two-phase commit.

    Each task streams its RecordBatches into one parquet file under a
    per-JOB commit directory (invisible: no manifest names it yet) and
    reports (path, row count) as its commit message — the row count
    rides into the manifest so ``txn.history`` stays data-IO-free. The
    driver's ``commit()`` then runs the same optimistic-concurrency loop
    every txn writer uses; ``abort()`` deletes the job's files. Schema
    enforcement mirrors ``txn.append``: an append must match the table
    schema EXACTLY (a silently evolving writer would brick later scans),
    and partitioned tables are refused (a task's file can hold several
    partition values, so it has no one value to record)."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("option 'path' is required")
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.commit_dir = _new_job_dir()

    def write(self, iterator) -> _TxnWriteMessage:
        return _write_task_file(self.table, self.commit_dir, iterator)

    def commit(self, messages) -> None:
        entries = [
            {"path": m.rel_path, "partition": None, "rows": m.rows}
            for m in messages
            if m is not None and m.rel_path is not None
        ]

        def build(snap: txn.Snapshot) -> dict:
            if snap.partition_by is not None:
                raise ValueError(
                    "txn_table writer does not support partitioned tables"
                )
            if self.overwrite or snap.schema_json is None:
                files = entries
            else:
                _check_append_schema(snap.schema_json, self.schema_json, "append")
                files = snap.files + entries
            return {
                "version": snap.version + 1,
                "schema": self.schema_json,
                "partition_by": None,
                "files": files,
                "applied_batches": [] if self.overwrite else snap.applied_batches,
                "operation": "overwrite" if self.overwrite else "append",
            }

        txn._commit(self.table, build)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.table, self.commit_dir), ignore_errors=True)




class TxnTableBatchReader(DataSourceReader):
    """Batch reader: ``spark.read.format("txn_table")``, with TIME TRAVEL
    via ``.option("version", N)``. The driver resolves ONE manifest and
    plans one input partition per data file; executors stream the files
    as arrow batches (same column-pruned read the stream reader uses).

    Partitioned tables read the same way: every file holds whole rows,
    the partition column included, and the manifest's partition values
    only prune files (``pushFilters``)."""

    def __init__(
        self, options: dict, schema: StructType, snap: "txn.Snapshot | None" = None
    ):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("option 'path' is required")
        version = options.get("version")
        # reuse the snapshot schema() already resolved: re-resolving here
        # would race a concurrent commit and plan a DIFFERENT version's
        # files under the first version's read schema
        self._snap = snap or txn.snapshot(
            self.table, int(version) if version is not None else None
        )
        if self._snap.schema_json is None:
            raise FileNotFoundError(f"no committed version at {self.table}")
        self._schema = schema
        self._allowed: dict[str, set] = {}
        self._ranges: dict[str, tuple] = {}

    def partitions(self) -> list[_FilePartition]:
        files = self._snap.files
        if self._allowed:
            files = [f for f in files if txn.partition_matches(f, self._allowed)]
        if self._ranges:
            files = [f for f in files if txn.stats_may_hit(f, self._ranges)]
        return [_FilePartition(os.path.join(self.table, f["path"])) for f in files]

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _read_file_batches(partition.path, self._schema)


class TxnTablePushdownReader(TxnTableBatchReader):
    """The batch reader + Spark-driven manifest skipping. This is the
    DEFAULT reader class (see ``TxnTableStreamDataSource.reader``):
    merely DEFINING ``pushFilters`` makes Spark require
    ``spark.sql.python.filterPushdown.enabled`` (on in ENGINE_SQL_CONF;
    a session without it gets Spark's own actionable
    DATA_SOURCE_PUSHDOWN_DISABLED error), and
    ``.option("pushdown", "false")`` selects the plain base class for
    sessions that keep the conf off. The split exists because the choice
    cannot be conf-driven: ``reader()`` executes in Spark's session-less
    Python planner worker."""

    def pushFilters(self, filters):
        """Spark's pushed predicates drive MANIFEST-LEVEL file skipping:
        equality/IN on the partition column prunes by the manifest's
        partition metadata, and comparison predicates on stats columns
        prune by the per-file min/max harvested at commit time — before
        a single data byte is read. Pruning is conservative (files kept
        unless provably excluded), so EVERY filter is returned as
        residual for Spark to re-apply; correctness never depends on the
        skip."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def _dir_form(v):
            # manifest partition values are Spark's DIRECTORY encoding;
            # str() matches it only for strings and integers (str(True) is
            # 'True' vs dir 'true'; floats/dates have format drift) — any
            # other type must NOT prune (conservative keep-all)
            if isinstance(v, bool) or not isinstance(v, (str, int)):
                return None
            return txn._pstr(v)

        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            if isinstance(flt, EqualTo):
                if col == self._snap.partition_by:
                    d = _dir_form(flt.value)
                    if d is not None:
                        self._allowed.setdefault(col, set()).add(d)
                self._merge_range(col, flt.value, flt.value)
            elif isinstance(flt, In) and col == self._snap.partition_by:
                ds = [_dir_form(v) for v in flt.value]
                if all(d is not None for d in ds):
                    self._allowed.setdefault(col, set()).update(ds)
            elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
                self._merge_range(col, flt.value, None)
            elif isinstance(flt, (LessThan, LessThanOrEqual)):
                self._merge_range(col, None, flt.value)
        return filters  # all residual: the skip is an optimization only

    def _merge_range(self, col: str, lo, hi) -> None:
        cur_lo, cur_hi = self._ranges.get(col, (None, None))
        self._ranges[col] = (
            lo if cur_lo is None else (cur_lo if lo is None else max(cur_lo, lo)),
            hi if cur_hi is None else (cur_hi if hi is None else min(cur_hi, hi)),
        )




class TxnTableStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming SINK: ``writeStream.format("txn_table")``.

    Same task-level mechanics as the batch writer, but ``commit`` carries
    the micro-batch id, which lands in the manifest's applied-batch
    LEDGER in the SAME atomic publication as the files — so a replayed
    batch (checkpoint recovery re-running a committed epoch) is detected
    inside the OCC loop and becomes a no-op commit instead of an
    append-again double-count. This is the DataSource-API form of the
    guarantee the foreachBatch sinks implement by hand; appends only
    (complete/update output modes would need a rewriting commit).

    Replay-window caveat (same one the additive_merge ledger carries):
    the manifest ledger is truncated to the ``txn._LEDGER_KEEP`` (128)
    newest batch ids, so an epoch replayed only after 128+ SUBSEQUENT
    commits would no longer be recognized and would re-apply. Structured
    Streaming's checkpoint makes that practically unreachable — recovery
    replays at most the one in-flight epoch, never one 128 commits old —
    but the no-op guarantee is bounded by the ledger, not unconditional."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "txn_table streaming sink is append-only: complete/update "
                "output modes would need a truncating per-epoch commit — "
                "use outputMode('append')"
            )
        self.table = options.get("path")
        if not self.table:
            raise ValueError("option 'path' is required")
        self.schema_json = schema.json()
        self.job_dir = _new_job_dir()

    def write(self, iterator) -> _TxnWriteMessage:
        return _write_task_file(self.table, self.job_dir, iterator)

    def commit(self, messages, batchId: int) -> None:
        entries = [
            {"path": m.rel_path, "partition": None, "rows": m.rows}
            for m in messages
            if m is not None and m.rel_path is not None
        ]

        def build(snap: txn.Snapshot) -> dict | None:
            if batchId in snap.applied_batches:
                return None  # replayed epoch: exactly-once no-op
            if snap.partition_by is not None:
                raise ValueError(
                    "txn_table stream writer does not support partitioned tables"
                )
            if snap.schema_json is not None:
                _check_append_schema(
                    snap.schema_json, self.schema_json, "stream append"
                )
            ledger = sorted(
                set(snap.applied_batches) | {batchId}, reverse=True
            )[: txn._LEDGER_KEEP]
            return {
                "version": snap.version + 1,
                "schema": self.schema_json,
                "partition_by": None,
                "files": snap.files + entries,
                "applied_batches": ledger,
                "operation": "stream_append",
            }

        txn._commit(self.table, build)

    def abort(self, messages, batchId: int) -> None:
        # the writer instance persists across epochs and they share
        # self.job_dir, so a whole-directory rmtree here would delete
        # files already COMMITTED by earlier micro-batches — remove only
        # this epoch's reported files; files from failed tasks that never
        # reported a message are orphans for vacuum's age-gated sweep
        for m in messages:
            if m is not None and m.rel_path is not None:
                try:
                    os.remove(os.path.join(self.table, m.rel_path))
                except OSError:
                    pass



class TxnTableStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txn_table"

    def schema(self) -> StructType:
        table = self.options.get("path")
        if not table:
            raise ValueError("option 'path' is required")
        version = self.options.get("version")
        # resolve ONCE and pin: reader() reuses this snapshot so a commit
        # landing between schema inference and planning cannot split the
        # read across two versions
        self._snap = txn.snapshot(
            table, int(version) if version is not None else None
        )
        if self._snap.schema_json is None:
            raise FileNotFoundError(f"no committed version at {table}")
        declared = StructType.fromJson(json.loads(self._snap.schema_json))
        # read schemas are ALWAYS nullable (Spark's own file sources do
        # the same): pre-nullability-fix manifests can carry non-nullable
        # fields whose null-filled reads would crash the arrow accessor
        from pyspark.sql.types import StructField

        return StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in declared]
        )

    def reader(self, schema) -> TxnTableBatchReader:
        # DataSource.reader() runs in Spark's Python PLANNER WORKER, where
        # no SparkSession/SparkContext exists — the conf CANNOT be probed
        # here (a getActiveSession() check compiles but always sees None,
        # silently disabling pushdown). The choice is therefore
        # option-driven: pushdown by default — it requires
        # spark.sql.python.filterPushdown.enabled, which ENGINE_SQL_CONF
        # sets and whose absence produces Spark's own actionable
        # DATA_SOURCE_PUSHDOWN_DISABLED error — and
        # .option("pushdown", "false") opts a conf-less session back into
        # the plain reader.
        if str(self.options.get("pushdown", "true")).lower() == "false":
            return TxnTableBatchReader(
                self.options, schema, getattr(self, "_snap", None)
            )
        return TxnTablePushdownReader(
            self.options, schema, getattr(self, "_snap", None)
        )

    def streamReader(self, schema) -> TxnTableStreamReader:
        return TxnTableStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> TxnTableArrowWriter:
        return TxnTableArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> TxnTableStreamWriter:
        return TxnTableStreamWriter(self.options, schema, overwrite)
