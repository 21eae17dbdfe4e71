"""Sinks (SURVEY §2A S6/S7, A5–A7): batch table writes and MERGE emulation
on bare parquet.

The reference upserts row-at-a-time through an ORM session (reference
utils/repositories/base_repository.py:54-58); the engine's write unit is a
whole DataFrame. With Delta/Iceberg available these helpers become
``MERGE INTO`` / ``replaceWhere`` one-liners; on bare parquet the same
semantics are anti-join + union + staged atomic swap. All upserts key on
*natural* keys (SURVEY §7.3.2) so reloads are idempotent.
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


def batch_ledger(target_dir: str, batch_id) -> tuple[bool, "Callable[[], None]"]:
    """Applied-batch ledger for non-idempotent (additive / versioning)
    foreachBatch sinks: returns (already_applied, mark_applied).

    The ledger lives INSIDE the table directory (``<target>/_applied/<id>``
    — underscore-prefixed, so parquet scans never see it). That placement
    is the point: a sink that commits through a staged swap writes the
    marker into the STAGING directory before the swap, so marker and data
    are promoted by the SAME rename — there is no between-merge-and-mark
    crash window (the poor-man's manifest commit; Delta's txn version does
    this inside its log). ``scd2_merge(batch_id=...)`` and
    ``additive_merge_committed`` both commit that way; ``mark_applied``
    (tmp+rename, so a torn marker can never silently skip an unapplied
    batch) remains for callers without a staged swap, which do retain the
    classic two-phase gap."""
    import os as _os

    ledger = _os.path.join(target_dir, "_applied")
    marker = _os.path.join(ledger, str(batch_id))
    # tables written before the ledger moved inside the table directory
    # kept markers at the sibling <target>__applied — honor them so an
    # upgraded deployment doesn't re-apply every historical batch
    legacy = _os.path.join(
        target_dir.rstrip("/") + "__applied", str(batch_id)
    )

    def mark_applied() -> None:
        _os.makedirs(ledger, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w"):
            pass
        _os.rename(tmp, marker)

    applied = _os.path.exists(marker) or _os.path.exists(legacy)
    return applied, mark_applied


#: retain at most this many applied-batch markers per ledger; Structured
#: Streaming replays only batches at/after the checkpoint frontier, so
#: markers far behind it are dead weight (empty files, but at one per
#: batch per partition they would dominate directory listings eventually)
_LEDGER_KEEP = 128


def _carry_markers(live_dir: str, staging_dir: str, batch_id: int) -> None:
    """Copy prior batch markers from the live directory into staging and
    add this batch's marker, so ONE rename commits data + full ledger.
    Markers are bare files named ``_applied_<id>`` at the directory root
    (hidden from scans by the underscore prefix)."""
    prior = []
    if os.path.isdir(live_dir):
        prior = [
            f for f in os.listdir(live_dir) if f.startswith("_applied_")
        ]
    keep = sorted(
        (int(f.rsplit("_", 1)[1]) for f in prior),
        reverse=True,
    )[:_LEDGER_KEEP]
    os.makedirs(staging_dir, exist_ok=True)
    for bid in keep:
        with open(os.path.join(staging_dir, f"_applied_{bid}"), "w"):
            pass
    with open(os.path.join(staging_dir, f"_applied_{batch_id}"), "w"):
        pass


def additive_merge_committed(
    delta: DataFrame,
    target_dir: str,
    partition_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    batch_id: int,
) -> None:
    """ADDITIVE merge with an atomic per-partition commit: existing rows
    and the delta re-aggregate (counts/sums accumulate, unlike keyed MERGE
    which replaces rows), and each touched partition directory is swapped
    in by ONE rename that carries both the merged data and this batch's
    applied marker — so a replayed batch can never double-count, crash
    anywhere included.

    Protocol per batch: (1) prune to partitions NOT already carrying this
    batch's marker; (2) one Spark job writes every such partition's merged
    result into a staging root; (3) per partition, copy forward prior
    markers + add this batch's marker into the staging directory, then
    rename it into place. Crash before a partition's rename leaves that
    partition untouched and unmarked → replay redoes it; crash after
    leaves data+marker committed together → replay skips it. The rewrite
    is O(touched partitions), never O(table), and step 3 is pure
    filesystem metadata.

    Residual (documented, same as every non-transactional layout): a
    reader can see partition A new while B is still old, and each swap has
    the brief no-target blink of ``_swap_in``. Fixing those needs a
    transactional table format (Delta/Iceberg), where this whole function
    is ``MERGE`` + txn id.

    Precondition: ``partition_col`` values must be directory-name-safe
    (the engine's day strings are); ``group_cols`` must contain
    ``partition_col``.
    """
    spark = delta.sparkSession
    staging_root = target_dir.rstrip("/") + "__staging"
    if os.path.exists(staging_root):
        shutil.rmtree(staging_root)

    def _part(root: str, value) -> str:
        return os.path.join(root, f"{partition_col}={value}")

    def _part_old(value) -> str:
        # the old copy parks in a SIBLING directory of the table root — a
        # "day=X__old" dir inside it would be discovered as a phantom
        # partition value by any concurrent reader (Spark's partition
        # inference parses every directory component, hidden-prefix or not)
        return os.path.join(
            target_dir.rstrip("/") + "__oldparts", f"{partition_col}={value}"
        )

    def _recover_part(value) -> None:
        # resolve a partition whose previous swap crashed between renames
        # (its only copy is the hidden old dir): restore if the live dir
        # is missing, else the old copy is post-promotion garbage
        old, live = _part_old(value), _part(target_dir, value)
        if os.path.exists(old):
            if os.path.exists(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)

    marker = f"_applied_{batch_id}"
    touched = sorted(
        r[0] for r in delta.select(partition_col).distinct().collect()
    )  # deterministic commit order: replays resume at the first uncommitted
    # recovery BEFORE the pruned read below — reading an absent live dir
    # as "no current rows" would drop prior batches from the merge
    for v in touched:
        _recover_part(v)
    todo = [
        v
        for v in touched
        if not os.path.exists(os.path.join(_part(target_dir, v), marker))
    ]
    if not todo:
        return
    delta_todo = delta.filter(F.col(partition_col).isin(todo))
    # "current exists" must mean AT LEAST ONE committed partition
    # directory, not merely the directory inode: a crash between the
    # first batch's makedirs and its first partition rename leaves an
    # EMPTY target, and reading that as parquet throws on every replay —
    # a permanent wedge the bare-exists check caused.
    has_current = os.path.isdir(target_dir) and any(
        e.startswith(f"{partition_col}=") for e in os.listdir(target_dir)
    )
    if has_current:
        # partition-pruned read: only the todo directories are scanned.
        # NOTE a partially-committed prior attempt is handled by the todo
        # filter, not here — an already-swapped partition's (corrupt to
        # re-merge) staging output is simply never promoted again.
        current = spark.read.parquet(target_dir).filter(
            F.col(partition_col).isin(todo)
        )
        merged = current.unionByName(delta_todo)
    else:
        merged = delta_todo
    merged = merged.groupBy(*group_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    # one job, all todo partitions; no localCheckpoint needed — staging is
    # a different path, so the plan never overwrites its own input
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(
        staging_root
    )
    os.makedirs(target_dir, exist_ok=True)
    for v in todo:
        live, stage = _part(target_dir, v), _part(staging_root, v)
        if not os.path.isdir(stage):
            continue  # empty merged partition: nothing to commit, replay retries
        _carry_markers(live, stage, batch_id)
        old = _part_old(v)
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(live):
            os.makedirs(os.path.dirname(old), exist_ok=True)
            os.rename(live, old)
        os.rename(stage, live)  # THE commit point for this partition
        if os.path.exists(old):
            shutil.rmtree(old)
    shutil.rmtree(staging_root, ignore_errors=True)


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


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Bucketed managed table (SURVEY §7.3.6: "+ bucketing by report_id at
    100 TB"): co-locates rows by key at WRITE time so every later join or
    aggregation on the bucket key skips its shuffle entirely — the
    pay-once-shuffle-never-again layout for fact⋈fact joins.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def scd2_merge(
    updates: DataFrame,
    target_dir: str,
    key: str,
    change_cols: list[str],
    effective_col: str = "effective_from",
    batch_id: int | None = None,
) -> None:
    """Slowly-changing-dimension type-2 merge: history-preserving upsert.

    The target keeps one row per (key, version) with ``effective_from`` /
    ``effective_to`` / ``is_current``; an update whose ``change_cols``
    differ from the key's current row CLOSES that row (effective_to :=
    update's effective_from) and appends the new version. Unchanged keys
    and non-current history rows pass through untouched — at scale,
    combine with a partition column the way ``merge_upsert`` does.

    The reference keeps only latest state (ORM upsert); SCD2 is what the
    same write needs once history must be queryable "as of" any date.
    Like SQL MERGE, one update row per key per batch — collapse a batch
    to latest-per-key first (A4) if the feed can repeat keys.

    With ``batch_id`` (streaming replay protection), the applied-batch
    marker is written into the staging directory BEFORE the swap, so the
    rename that promotes the merged table promotes the marker with it —
    data and "applied" commit atomically; there is no window where the
    merge landed but the ledger didn't (see ``batch_ledger``).
    """
    spark = updates.sparkSession
    _recover_swap(target_dir)

    def _commit(df: DataFrame) -> None:
        staging = target_dir.rstrip("/") + "__staging"
        df.write.mode("overwrite").parquet(staging)
        # the swap replaces the whole directory, so the ledger must ride
        # along: carry prior markers forward even on a non-ledgered call
        # (mixed ledgered/ad-hoc use must not amnesia the ledger)
        live_ledger = os.path.join(target_dir, "_applied")
        stage_ledger = os.path.join(staging, "_applied")
        if os.path.isdir(live_ledger):
            os.makedirs(stage_ledger, exist_ok=True)
            # bounded carry (same _LEDGER_KEEP rationale as the additive
            # sink): streaming replays only reach back to the checkpoint
            # frontier, so carrying every historical marker forward would
            # recreate O(n) files per batch — O(n²) over a stream's life
            names = os.listdir(live_ledger)
            numeric = sorted(
                (int(f) for f in names if f.isdigit()), reverse=True
            )[:_LEDGER_KEEP]
            keep = {str(b) for b in numeric} | {
                f for f in names if not f.isdigit()
            }
            for f in keep:
                with open(os.path.join(stage_ledger, f), "w"):
                    pass
        if batch_id is not None:
            os.makedirs(stage_ledger, exist_ok=True)
            with open(os.path.join(stage_ledger, str(batch_id)), "w"):
                pass
        _swap_in(staging, target_dir)

    merged = scd2_apply(
        spark.read.parquet(target_dir) if os.path.exists(target_dir) else None,
        updates,
        key,
        change_cols,
        effective_col,
    )
    if os.path.exists(target_dir):
        # the merged plan reads the path it replaces: cut lineage first
        merged = merged.localCheckpoint(eager=True)
    _commit(merged)


def scd2_apply(
    current: DataFrame | None,
    updates: DataFrame,
    key: str,
    change_cols: list[str],
    effective_col: str = "effective_from",
) -> DataFrame:
    """The SCD2 state transition as a pure transform: (current table or
    None, one-row-per-key updates) → next table. Shared by the staged-swap
    sink above and the txn-format sink (``txn.scd2_merge_txn``)."""
    upd = updates.select(
        F.col(key),
        *[F.col(c) for c in change_cols],
        F.col(effective_col).alias("_new_from"),
    )
    if current is None:
        return upd.select(
            key,
            *change_cols,
            F.col("_new_from").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    # null-safe change test: plain struct != returns NULL when a member is
    # NULL, which would silently skip NULL→value (and value→NULL) changes
    changed = ~(
        F.struct(*[f"cur.{c}" for c in change_cols]).eqNullSafe(
            F.struct(*[f"u.{c}" for c in change_cols])
        )
    )
    cur = current.alias("cur")
    u = upd.alias("u")
    joined = cur.join(u, F.col(f"cur.{key}") == F.col(f"u.{key}"), "left")
    # current rows: close if a differing update arrived, else keep as-is
    kept_or_closed = joined.select(
        F.col(f"cur.{key}").alias(key),
        *[F.col(f"cur.{c}").alias(c) for c in change_cols],
        F.col("cur.effective_from").alias("effective_from"),
        F.when(
            F.col("cur.is_current") & F.col("u._new_from").isNotNull() & changed,
            F.col("u._new_from"),
        )
        .otherwise(F.col("cur.effective_to"))
        .alias("effective_to"),
        F.when(
            F.col("cur.is_current") & F.col("u._new_from").isNotNull() & changed,
            F.lit(False),
        )
        .otherwise(F.col("cur.is_current"))
        .alias("is_current"),
    )
    # new versions: updates that differ from the key's current row, plus
    # brand-new keys
    cur_now = current.filter("is_current").alias("cur")
    new_rows = (
        u.join(cur_now, F.col(f"u.{key}") == F.col(f"cur.{key}"), "left")
        .filter(F.col(f"cur.{key}").isNull() | changed)
        .select(
            F.col(f"u.{key}").alias(key),
            *[F.col(f"u.{c}").alias(c) for c in change_cols],
            F.col("u._new_from").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return kept_or_closed.unionByName(new_rows)


def scd2_point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    date_col: str,
) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: each fact row picks
    the version whose [effective_from, effective_to) interval contains the
    fact date — the query the versioned history exists for. A half-open
    interval join; the optimizer runs it as an equi-join on the key with
    the interval as residual predicate, so it costs one shuffle per side
    (or none, if both are bucketed by the key)."""
    d = dim.alias("d")
    f = facts.alias("f")
    return f.join(
        d,
        (F.col(f"f.{key}") == F.col(f"d.{key}"))
        & (F.col("d.effective_from") <= F.col(f"f.{date_col}"))
        & (
            F.col("d.effective_to").isNull()
            | (F.col("d.effective_to") > F.col(f"f.{date_col}"))
        ),
        "left",
    ).drop(F.col(f"d.{key}"))


def compact_small_files(
    spark,
    target_dir: str,
    partition_col: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction (table maintenance, the OPTIMIZE of
    Delta/Iceberg on bare parquet): streaming upserts and per-batch appends
    accrete tiny files until scan planning, footer reads, and task
    scheduling dominate query time — at 100 TB a table with 10⁶ kilobyte
    files is unreadable regardless of its byte size.

    Rewrites the table (or, with ``partition_col``, each partition) into
    ``ceil(bytes / target_file_bytes)`` files via a staged atomic swap.
    Data is unchanged — only the file layout. Returns {files_before,
    files_after}. At scale you run this per-partition on the partitions a
    merge touched (the same pruning discipline as ``merge_upsert``).
    """
    import math

    def _data_files(d: str) -> list[str]:
        # prune _/.-prefixed dirs (mirrors llm/substring_dedup.
        # _committed_files): a write killed mid-job leaves _temporary
        # task-attempt dirs holding uncommitted parquet, and counting
        # that debris would inflate files_before/total — compaction
        # would size its output off bytes the table never committed
        # (r11 VERDICT item 2)
        out = []
        for root, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out += [
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return out

    def _carry_ledgers(staging: str) -> None:
        """The applied-batch ledgers live INSIDE the table directory (see
        ``batch_ledger``), so a whole-directory swap that doesn't copy
        them would amnesia every applied batch and re-enable replay
        double-application — compaction must carry both ledger kinds."""
        live_ledger = os.path.join(target_dir, "_applied")
        if os.path.isdir(live_ledger):
            stage_ledger = os.path.join(staging, "_applied")
            os.makedirs(stage_ledger, exist_ok=True)
            for f in os.listdir(live_ledger):
                with open(os.path.join(stage_ledger, f), "w"):
                    pass
        if partition_col:
            for e in os.listdir(target_dir):
                if not e.startswith(f"{partition_col}="):
                    continue
                part_dir = os.path.join(target_dir, e)
                if not os.path.isdir(part_dir):
                    continue
                for f in os.listdir(part_dir):
                    if f.startswith("_applied_"):
                        dst = os.path.join(staging, e)
                        os.makedirs(dst, exist_ok=True)
                        with open(os.path.join(dst, f), "w"):
                            pass

    _recover_swap(target_dir)
    before = _data_files(target_dir)
    total = sum(os.path.getsize(f) for f in before)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(target_dir)
    staging = target_dir.rstrip("/") + "__staging"
    if partition_col is not None:
        # Repartition by (partition value, row salt): keying by the value
        # alone would bound each directory to ONE task — and therefore one
        # file — so a hot partition could never split to the byte target.
        # The salt spreads each value over ceil(n_files / n_dirs) tasks;
        # the dynamic writer still emits one file per (task, value).
        n_dirs = max(
            1, len({os.path.dirname(f) for f in before})
        )
        spread = max(1, -(-n_files // n_dirs))
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(spread)
        )
        (
            df.repartition(max(n_files, n_dirs), F.col(partition_col), salt)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    _carry_ledgers(staging)
    _swap_in(staging, target_dir)
    return {"files_before": len(before), "files_after": len(_data_files(target_dir))}


def write_sorted_shards(
    df: DataFrame, path: str, sort_col: str, n_shards: int
) -> None:
    """Range-sharded sorted output: ``repartitionByRange`` samples the sort
    key to build balanced, NON-OVERLAPPING shard boundaries, then each
    shard sorts locally — a full distributed sort without any single
    machine seeing all data. This is both the training-shard layout
    (readers stream shard k independently, globally ordered across shards)
    and the precondition for min/max file skipping: disjoint per-file key
    ranges make a point query touch exactly one file."""
    (
        df.repartitionByRange(n_shards, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


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


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_shards: int,
    bits: int = 16,
) -> None:
    """Z-ordered two-dimensional layout (Delta's ``OPTIMIZE ZORDER BY``):
    scale both columns to ``bits``-bit ranks (min/max from one scalar
    aggregate, broadcast), interleave into a Morton key, range-shard and
    locally sort by it. Result: every file covers a small rectangle of
    (col_a, col_b) space, so min/max file skipping — parquet footers, or
    ``txn`` manifest stats — prunes selective predicates on EITHER
    column; a 1-D sorted layout can only ever prune its sort column.

    Production note: linear min/max scaling is rank-faithful enough for
    uniform-ish keys; heavily skewed keys want histogram/range-bin ranks
    (same z-interleave on top). Scaling constants come from the data in
    ONE extra scalar aggregate — no shuffle added beyond the range
    exchange every sorted layout needs.
    """
    (
        zorder_layout(df, col_a, col_b, n_shards, bits)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_layout(
    df: DataFrame, col_a: str, col_b: str, n_shards: int, bits: int = 16
) -> DataFrame:
    """The reusable z-layout pipeline (shared by ``write_zordered`` and
    ``txn.compact(zorder_by=…)``): scale both columns to ``bits``-bit
    ranks, Morton-interleave, range-shard and locally sort. An EMPTY frame
    returns unchanged (no min/max to scale by); non-numeric or all-NULL
    z-columns raise a clear error instead of a deep TypeError or a
    silent not-actually-zordered commit."""
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


def surrogate_key(*cols) -> "pyspark.sql.Column":  # noqa: F821
    """Deterministic 64-bit surrogate key (SURVEY §7.3.1): xxhash64 of the
    natural key — stable across runs/executors, unlike
    monotonically_increasing_id, and needs no sequence/flush dance."""
    return F.xxhash64(*cols)
