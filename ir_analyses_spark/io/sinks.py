"""Sinks (SURVEY §2A S6/S7, A5–A7): the silver load's table writes on
bare parquet directories.

The reference upserts row-at-a-time through an ORM session (reference
utils/repositories/base_repository.py:54-58); the engine's write unit is a
whole DataFrame. ``etl/pipeline.py`` commits the four silver tables here:
``merge_upsert`` (anti-join + union + staged swap, or a partition-scoped
dynamic overwrite) and ``append_missing`` (insert-only append). All
upserts key on *natural* keys (SURVEY §7.3.2) so reloads are idempotent.
``write_table`` and ``replace_partition`` are the plain overwrite and
partition-replace writes. Streaming sinks and table maintenance commit
through the transaction-log format in ``io/txn.py`` instead.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, functions as F


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None):
    """Plain table write. At scale: partition pruning comes from
    ``partition_by`` (e.g. fiscal_year for the fact table)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _swap_in(staging: str, target_dir: str) -> None:
    """Staged swap: move the old table aside, promote staging, drop the old
    copy. Guarantee: data is NEVER lost — a crash at any step leaves the
    complete old table (at ``target`` or ``__old``) and/or the complete new
    table (at ``__staging`` or ``target``) on disk, and a re-run converges
    (pinned by ``test_swap_in_crash_window_leaves_valid_copy``). There IS a
    brief no-target window between the two renames (plain filesystems lack
    an atomic exchange); readers that must never observe it need a
    transactional table format (Delta/Iceberg), where this helper becomes
    a ``MERGE``/``REPLACE`` one-liner.

    Callers that READ the target before staging a new version must call
    ``_recover_swap`` first — after a between-renames crash the only copy
    lives at ``__old``, and reading the absent target as "empty table"
    would silently drop it from the merged result."""
    old = target_dir.rstrip("/") + "__old"
    if os.path.exists(old):
        if not os.path.exists(target_dir):
            # between-renames crash remnant: ``old`` IS the table; the
            # caller should have recovered it, but never delete it here
            os.rename(old, target_dir)
        shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target_dir):
        os.rename(target_dir, old)
    os.rename(staging, target_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def _recover_swap(target_dir: str) -> None:
    """Resolve a crashed ``_swap_in``: if a ``__old`` remnant exists with
    no live target, the crash hit between the two renames and ``__old`` is
    the authoritative table — restore it; with a live target, promotion
    succeeded and ``__old`` is garbage. Idempotent; call before reading a
    swap-managed directory you are about to rewrite."""
    old = target_dir.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(target_dir):
            shutil.rmtree(old)
        else:
            os.rename(old, target_dir)


def merge_upsert(
    updates: DataFrame,
    target_dir: str,
    keys: list[str],
    partition_col: str | None = None,
    replace: DataFrame | None = None,
) -> None:
    """Keyed upsert into a parquet directory (MERGE emulation, §2A A5/A7).

    Contract (same as SQL MERGE): at most ONE row per key in ``updates`` —
    collapse a batch to latest-per-key first (A4) if the feed can repeat
    keys; with duplicates, all duplicate rows land in the target.

    ``replace`` (default ``updates``) holds the keys being replaced: every
    target row whose keys match one of its rows goes, and ``updates``
    lands. A load that replaces a parent's child rows as a unit passes the
    parent keys, so a parent reloaded with fewer children, or none, keeps
    none of its old ones.

    Unpartitioned: current ⟕anti replace-by-key, union updates, stage, swap
    (the swap promotes a fully-written directory, see ``_swap_in``). On
    Delta this is exactly ``MERGE INTO t USING u ON keys``.

    With ``partition_col`` (the 100 TB path): the rewrite is scoped to the
    partitions that appear in ``replace`` (which carries that column) —
    current is PRUNED to those partitions (partition filter, no full-table
    scan), merged, and written back with dynamic partition overwrite; a
    touched partition left with no row is rewritten empty. Untouched
    partitions' files are never read or rewritten, so an upsert costs
    O(touched partitions), not O(table). Precondition: ``partition_col`` must be
    functionally dependent on ``keys`` (a key never moves between
    partition values) — an update that moved a key to a new partition
    would leave the old partition's row in place, because pruning never
    reads it. Same rule every partition-scoped MERGE engine imposes. A
    first write into a missing target lays out the same partitions.

    The target is read with ``updates``' schema, which is the table's own:
    passing it skips Spark's footer-reading schema-inference job.
    """
    spark = updates.sparkSession
    replace = updates if replace is None else replace
    _recover_swap(target_dir)
    if partition_col is not None and os.path.exists(target_dir):
        touched = [
            r[0]
            for r in replace.select(partition_col).distinct().collect()
        ]
        current = spark.read.schema(updates.schema).parquet(target_dir).filter(
            F.col(partition_col).isin(touched)
        )
        # a left anti join ignores duplicate keys on its right side, so the
        # key list needs no distinct (and no shuffle) of its own
        kept = current.join(replace.select(*keys), keys, "left_anti")
        # Materialize before the overwrite: the merged plan reads the same
        # path it is about to replace, so cut the lineage to the file scan
        # (and dodge Spark's self-overwrite guard) with an eager checkpoint.
        merged = kept.unionByName(updates).localCheckpoint(eager=True)
        try:
            before = _partition_listings(target_dir, partition_col, touched)
            # per-WRITE dynamic mode — never session-level conf.set, which
            # would leak into unrelated overwrites and stop them deleting
            # partitions
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(target_dir)
            )
        finally:
            release_checkpoint(merged)
        # dynamic overwrite replaces only the partitions it writes rows
        # into, under new file names; one it left as it was has no row
        # left. Rewrite it empty: a file with the schema keeps the table
        # readable even when no row remains at all.
        emptied = [p for p, files in before.items() if sorted(os.listdir(p)) == files]
        if emptied:
            empty = spark.createDataFrame([], updates.drop(partition_col).schema)
            for part in emptied:
                empty.write.mode("overwrite").parquet(part)
        return
    if os.path.exists(target_dir):
        current = spark.read.schema(updates.schema).parquet(target_dir)
        kept = current.join(replace.select(*keys), keys, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    staging = target_dir.rstrip("/") + "__staging"
    w = merged.write.mode("overwrite")
    if partition_col is not None:
        # a flat first write would mix layouts with the partitioned
        # merges that follow it
        w = w.partitionBy(partition_col)
    w.parquet(staging)
    _swap_in(staging, target_dir)


def _partition_listings(
    target_dir: str, partition_col: str, values: list
) -> dict[str, list[str]]:
    """{directory: sorted file names} of the partitions of ``values`` that
    exist under ``target_dir`` (Spark escapes partition values in directory
    names as ``%XX``)."""
    prefix = partition_col + "="
    wanted = {str(v) for v in values}
    out = {}
    for name in os.listdir(target_dir):
        if name.startswith(prefix) and unquote(name[len(prefix):]) in wanted:
            part = os.path.join(target_dir, name)
            out[part] = sorted(os.listdir(part))
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of an eager ``localCheckpoint`` now, instead of
    whenever the JVM garbage-collects its RDD. ``DataFrame.unpersist`` does
    not reach them: a local checkpoint persists the RDD under the frame's
    ``LogicalRDD`` leaf, not a cache-manager entry."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def append_missing(
    new_rows: DataFrame, target_dir: str, key: str | list[str]
) -> None:
    """Existence-check insert (§2A A6): append only rows whose key is not
    yet in the target — the set-oriented version of the reference's per-row
    find-or-create loop (reference utils/service/financial_service.py:209-219).

    Insert-only means no existing row changes, so this appends NEW parquet
    files into the live directory instead of rewriting the table: existing
    files are untouched (O(new rows), not O(table)). Only the key columns
    are read, with ``new_rows``' key schema, so no schema-inference job
    runs."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = new_rows.sparkSession
    if os.path.exists(target_dir):
        existing = spark.read.schema(new_rows.select(*keys).schema).parquet(target_dir)
        to_add = new_rows.join(existing, keys, "left_anti")
        to_add.write.mode("append").parquet(target_dir)
    else:
        new_rows.write.parquet(target_dir)


def replace_partition(
    updates: DataFrame, target_dir: str, partition_col: str
) -> None:
    """Partition replace (the roadmap's 洗い替え delete-then-insert,
    reference documents/old/IR_Analysis_Roadmap_and_Design.md:61-64):
    overwrite only the partitions present in ``updates`` — Spark's dynamic
    partition overwrite, the idempotent way to reload one report/day.
    Dynamic mode is set per-write (never on the session, where it would
    leak into unrelated overwrites)."""
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_dir)
    )

