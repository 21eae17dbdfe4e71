"""Sinks (SURVEY §2A S6/S7, A5–A7): the silver load's table writes, and
the staged directory swap the LLM corpus stores use.

The reference upserts row-at-a-time through an ORM session (reference
utils/repositories/base_repository.py:54-58); the engine's write unit is a
whole DataFrame. ``etl/pipeline.py`` commits the four silver tables through
the transaction-log format in ``io/txn.py``: ``merge_upsert`` (keyed MERGE,
partition-scoped for the facts) and ``append_missing`` (insert-only). All
upserts key on *natural* keys (SURVEY §7.3.2) so reloads are idempotent.
``replace_partition`` is the partition-replace commit. Each is one txn
commit: a reader sees the table before it or after it, never between.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from . import txn


def _swap_in(staging: str, target_dir: str) -> None:
    """Staged swap: move the old table aside, promote staging, drop the old
    copy. Guarantee: data is NEVER lost — a crash at any step leaves the
    complete old table (at ``target`` or ``__old``) and/or the complete new
    table (at ``__staging`` or ``target``) on disk, and a re-run converges
    (pinned by ``test_swap_in_crash_window_leaves_valid_copy``). There IS a
    brief no-target window between the two renames (plain filesystems lack
    an atomic exchange); readers that must never observe it need a
    transactional table format such as ``io/txn.py``.

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
) -> txn.Snapshot:
    """Keyed upsert (MERGE, §2A A5/A7) as one txn commit; the semantics,
    ``replace`` and the partition-scoped path are ``txn.merge_upsert``'s."""
    return txn.merge_upsert(updates, target_dir, keys, partition_col, replace)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of an eager ``localCheckpoint`` now, instead of
    whenever the JVM garbage-collects its RDD. ``DataFrame.unpersist`` does
    not reach them: a local checkpoint persists the RDD under the frame's
    ``LogicalRDD`` leaf, not a cache-manager entry."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def append_missing(
    new_rows: DataFrame, target_dir: str, key: str | list[str]
) -> txn.Snapshot:
    """Existence-check insert (§2A A6): append only rows whose key is not
    yet in the target — the set-oriented version of the reference's per-row
    find-or-create loop (reference utils/service/financial_service.py:209-219).

    Insert-only means no existing row changes, so the commit adds new
    files and carries every existing file over (O(new rows), not
    O(table)); a batch with no new key commits nothing. Only the key
    columns of the target are read. One load writes a table at a time:
    two concurrent appends of one new key would both land."""
    keys = [key] if isinstance(key, str) else list(key)
    if txn.snapshot(target_dir).schema_json is not None:
        existing = txn.read(new_rows.sparkSession, target_dir).select(*keys)
        new_rows = new_rows.join(existing, keys, "left_anti")
    return txn.append(new_rows, target_dir)


def replace_partition(
    updates: DataFrame, target_dir: str, partition_col: str
) -> txn.Snapshot:
    """Partition replace (the roadmap's 洗い替え delete-then-insert,
    reference documents/old/IR_Analysis_Roadmap_and_Design.md:61-64):
    every partition present in ``updates`` is replaced by its rows, in
    one txn commit — a MERGE keyed on the partition column itself."""
    return txn.merge_upsert(updates, target_dir, [partition_col], partition_col)
