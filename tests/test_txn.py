"""Transaction-log table format (io/txn.py): the properties a bare
staged-swap directory lacks, proven positively here — no no-target
window, snapshot isolation under concurrent commits, atomic
multi-partition batch application, optimistic concurrency, retention.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.io import txn


def _mk(spark, rows, cols=("k", "day", "v")):
    return spark.createDataFrame(rows, list(cols))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_overwrite_read_roundtrip_and_versioning(spark, tmp_path):
    t = str(tmp_path / "t")
    s1 = txn.overwrite(_mk(spark, [(1, "a", 10), (2, "b", 20)]), t)
    assert s1.version == 1
    s2 = txn.overwrite(_mk(spark, [(3, "c", 30)]), t)
    assert s2.version == 2
    assert _rows(txn.read(spark, t)) == [(3, "c", 30)]
    # time travel to the retained old version
    assert _rows(txn.read(spark, t, at_version=1)) == [(1, "a", 10), (2, "b", 20)]


def test_append_accumulates(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.append(_mk(spark, [(2, "b", 20)]), t)
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20)]


def test_no_uncommitted_data_is_ever_visible(spark, tmp_path, monkeypatch):
    """Crash before the manifest link (the ONLY commit point): data files
    exist on disk but no reader sees them; replay converges."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)

    real_publish = txn._publish

    def crash_publish(table, manifest):
        raise OSError("simulated crash before commit")

    monkeypatch.setattr(txn, "_publish", crash_publish)
    with pytest.raises(OSError):
        txn.append(_mk(spark, [(2, "b", 20)]), t)
    monkeypatch.setattr(txn, "_publish", real_publish)
    # the orphaned files are on disk, but the table still reads as v1
    assert _rows(txn.read(spark, t)) == [(1, "a", 10)]
    # replaying the append converges to exactly-once
    txn.append(_mk(spark, [(2, "b", 20)]), t)
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20)]
    # vacuum sweeps the orphaned commit directory (age 0 = "not in-flight")
    txn.vacuum(t, keep_versions=2, orphan_min_age_seconds=0.0)
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20)]


def test_snapshot_isolation_under_concurrent_overwrite(spark, tmp_path):
    """A reader holding version v keeps a consistent view while any number
    of commits land — the property the staged swap cannot give."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10), (2, "b", 20)]), t)
    pinned = txn.read(spark, t, at_version=1)  # plan resolved against v1
    txn.overwrite(_mk(spark, [(9, "z", 90)]), t)
    txn.append(_mk(spark, [(8, "y", 80)]), t)
    # old files still on disk (no vacuum ran): the pinned plan is intact
    assert _rows(pinned) == [(1, "a", 10), (2, "b", 20)]
    assert _rows(txn.read(spark, t)) == [(8, "y", 80), (9, "z", 90)]


def test_merge_upsert_semantics_and_partition_file_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    base = _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)])
    txn.merge_upsert(base, t, keys=["k"], partition_col="day")
    before = {
        f["path"]: f["partition"] for f in txn.snapshot(t).files
    }
    upd = _mk(spark, [(2, "a", 21), (4, "a", 40)])  # update + insert, day=a
    txn.merge_upsert(upd, t, keys=["k"], partition_col="day")
    assert _rows(txn.read(spark, t)) == [
        (1, "a", 10),
        (2, "a", 21),
        (3, "b", 30),
        (4, "a", 40),
    ]
    after = {f["path"]: f["partition"] for f in txn.snapshot(t).files}
    # file-level proof of pruning: day=b files carried over VERBATIM
    b_before = {p for p, part in before.items() if part == {"day": "b"}}
    b_after = {p for p, part in after.items() if part == {"day": "b"}}
    assert b_before and b_before == b_after
    # day=a files were rewritten (no stale file remains listed)
    assert not ({p for p, part in after.items() if part == {"day": "a"}} & set(b_before))
    # manifest-level pruned read hands Spark only matching files
    only_b = txn.read(spark, t, partition_values={"day": ["b"]})
    assert _rows(only_b) == [(3, "b", 30)]


def test_merge_upsert_replace_empties_a_partition_then_the_table(spark, tmp_path):
    """``replace`` names parent keys whose rows all go before the updates
    land: a parent reloaded with fewer child rows keeps none of its old
    ones, a parent reloaded with none empties its partition — which then
    has no file in the manifest — and emptying every parent leaves a
    readable empty table."""
    t = str(tmp_path / "t")
    cols = ("parent", "day", "child")
    base = _mk(spark, [(1, "a", 10), (1, "a", 11), (2, "b", 20)], cols)
    txn.merge_upsert(base, t, keys=["parent"], partition_col="day")

    def reload(rows, parents):
        return txn.merge_upsert(
            _mk(spark, rows, cols) if rows else spark.createDataFrame([], base.schema),
            t, keys=["parent"], partition_col="day",
            replace=_mk(spark, parents, ("parent", "day")),
        )

    reload([(1, "a", 12)], [(1, "a")])
    assert _rows(txn.read(spark, t)) == [(1, "a", 12), (2, "b", 20)]
    snap = reload([], [(1, "a")])
    assert {f["partition"]["day"] for f in snap.files} == {"b"}
    assert _rows(txn.read(spark, t)) == [(2, "b", 20)]
    snap = reload([], [(2, "b")])
    assert snap.files == []
    empty = txn.read(spark, t)
    assert empty.columns == list(cols) and empty.count() == 0


def test_additive_merge_exactly_once_replay_and_atomic_ledger(spark, tmp_path):
    t = str(tmp_path / "t")
    d1 = _mk(spark, [("a", 1), ("a", 2), ("b", 5)], cols=("day", "v"))
    txn.additive_merge(d1, t, "day", ["day"], ["v"], batch_id=0)
    d2 = _mk(spark, [("a", 10), ("b", 10)], cols=("day", "v"))
    txn.additive_merge(d2, t, "day", ["day"], ["v"], batch_id=1)
    expect = [("a", 13), ("b", 15)]
    assert _rows(txn.read(spark, t)) == expect
    v = txn.snapshot(t).version
    # replayed batch: a pure no-op — same values, same VERSION (no commit)
    txn.additive_merge(d2, t, "day", ["day"], ["v"], batch_id=1)
    assert _rows(txn.read(spark, t)) == expect
    assert txn.snapshot(t).version == v
    # ledger lives inside the manifest: marker+data are one atomic object
    with open(txn._log_path(t, v)) as fh:
        assert 1 in json.load(fh)["applied_batches"]


def test_additive_merge_crash_anywhere_never_double_counts(
    spark, tmp_path, monkeypatch
):
    """Kill the writer at the instant before the commit link; a replay of
    the same batch must produce exactly-once totals across BOTH touched
    partitions (the per-partition-marker layout could expose half)."""
    t = str(tmp_path / "t")
    d1 = _mk(spark, [("a", 1), ("b", 5)], cols=("day", "v"))
    txn.additive_merge(d1, t, "day", ["day"], ["v"], batch_id=0)

    real_publish = txn._publish

    def crash_publish(table, manifest):
        raise OSError("killed before commit")

    d2 = _mk(spark, [("a", 10), ("b", 20)], cols=("day", "v"))
    monkeypatch.setattr(txn, "_publish", crash_publish)
    with pytest.raises(OSError):
        txn.additive_merge(d2, t, "day", ["day"], ["v"], batch_id=1)
    monkeypatch.setattr(txn, "_publish", real_publish)
    # crash window: NOTHING of batch 1 is visible (not one partition of it)
    assert _rows(txn.read(spark, t)) == [("a", 1), ("b", 5)]
    # replay applies once
    txn.additive_merge(d2, t, "day", ["day"], ["v"], batch_id=1)
    txn.additive_merge(d2, t, "day", ["day"], ["v"], batch_id=1)
    assert _rows(txn.read(spark, t)) == [("a", 11), ("b", 25)]


def test_optimistic_concurrency_append_race_both_land(
    spark, tmp_path, monkeypatch
):
    """First publish attempt loses to a competing writer; the commit loop
    re-resolves and lands on the next version with both effects kept."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)

    real_publish = txn._publish
    raced = {"done": False}

    def racing_publish(table, manifest):
        if not raced["done"]:
            raced["done"] = True
            # competing writer sneaks in an append and takes this version
            monkeypatch.setattr(txn, "_publish", real_publish)
            txn.append(_mk(spark, [(2, "b", 20)]), t)
            monkeypatch.setattr(txn, "_publish", racing_publish)
            return False  # our attempt observes the taken version
        return real_publish(table, manifest)

    monkeypatch.setattr(txn, "_publish", racing_publish)
    txn.append(_mk(spark, [(3, "c", 30)]), t)
    monkeypatch.setattr(txn, "_publish", real_publish)
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_compact_reduces_files_preserves_rows_and_old_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id as k", "cast(id % 7 as string) day", "id v")
    txn.overwrite(df.repartition(16), t)
    n_before = len(txn.snapshot(t).files)
    assert n_before >= 16
    old = txn.read(spark, t, at_version=1)
    txn.compact(spark, t, target_file_bytes=1 << 30)
    snap = txn.snapshot(t)
    assert len(snap.files) < n_before
    assert txn.read(spark, t).count() == 1000
    assert old.count() == 1000  # concurrent reader of v1 unaffected


def test_partition_pruning_keeps_membership_unknown_files(spark, tmp_path):
    """Pruning is an optimization, never a filter: files appended WITHOUT
    partition info into a partitioned table can hold any value, so a
    partition_values read must keep them (dropping them silently loses
    rows — the caller applies the real predicate)."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10), (2, "b", 20)]), t, partition_by="day")
    txn.append(_mk(spark, [(3, "a", 30)]), t)  # plain append: partition unknown
    pruned = txn.read(spark, t, partition_values={"day": ["a"]})
    assert _rows(pruned.filter("day = 'a'").select("k", "day", "v")) == [
        (1, "a", 10),
        (3, "a", 30),
    ]


def test_range_filter_on_date_stats_normalizes_bounds(spark, tmp_path):
    import datetime

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, datetime.date(2024, 1, 1) + datetime.timedelta(days=i)) for i in range(200)],
        ["k", "d"],
    )
    txn.overwrite(
        df.repartitionByRange(4, "d").sortWithinPartitions("d"),
        t,
        stats_cols=["d"],
    )
    snap = txn.snapshot(t)
    assert all(isinstance(f["stats"]["d"][0], str) for f in snap.files)
    lo, hi = datetime.date(2024, 1, 10), datetime.date(2024, 1, 20)
    pruned = txn.read(spark, t, range_filter={"d": (lo, hi)})
    n_pruned = len({r[0] for r in pruned.select(F.input_file_name()).collect()})
    assert n_pruned < 4  # date bounds actually skipped files
    got = pruned.filter((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi)))
    assert got.count() == 11


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    with pytest.raises(ValueError, match="keep_versions"):
        txn.vacuum(t, keep_versions=0)
    assert _rows(txn.read(spark, t)) == [(1, "a", 10)]


def test_null_partition_values_merge_without_duplication(spark, tmp_path):
    """NULL partition values (Spark's __HIVE_DEFAULT_PARTITION__ dirs)
    must participate in partition-scoped merges like any other value: a
    NULL-day update must REWRITE the NULL-day files, not duplicate their
    rows (found by review: the marker string and str(None) never matched)."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, None, 10), (2, "b", 20)], "k long, day string, v long"
    )
    txn.overwrite(base, t, partition_by="day")
    upd = spark.createDataFrame(
        [(1, None, 11), (3, None, 30)], "k long, day string, v long"
    )
    txn.merge_upsert(upd, t, keys=["k"], partition_col="day")
    got = sorted((r.k, r.day, r.v) for r in txn.read(spark, t).collect())
    assert got == [(1, None, 11), (2, "b", 20), (3, None, 30)]
    # additive path: NULL-day delta replacing, not double-counting
    t2 = str(tmp_path / "t2")
    d = spark.createDataFrame([(None, 1), ("b", 5)], "day string, n long")
    txn.additive_merge(d, t2, "day", ["day"], ["n"], batch_id=0)
    txn.additive_merge(d, t2, "day", ["day"], ["n"], batch_id=1)
    got = sorted(
        ((r.day, r.n) for r in txn.read(spark, t2).collect()),
        key=lambda x: (x[0] is None, x[0] or ""),
    )
    assert got == [("b", 10), (None, 2)]


def test_writers_refuse_mismatched_partition_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t, partition_by="day")
    with pytest.raises(ValueError, match="partitioned by"):
        txn.append(_mk(spark, [(2, "b", 20)]), t, partition_by="v")
    with pytest.raises(ValueError, match="partitioned by"):
        txn.merge_upsert(
            _mk(spark, [(2, "b", 20)]), t, keys=["k"], partition_col="v"
        )
    # unpartitioned table + partitioned append: equally refused
    t2 = str(tmp_path / "t2")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t2)
    with pytest.raises(ValueError, match="partitioned by"):
        txn.append(_mk(spark, [(2, "b", 20)]), t2, partition_by="day")


def test_append_refuses_type_and_shape_changes_in_both_modes(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(spark.createDataFrame([(1, "a")], ["k", "s"]), t)
    # type change: refused with or without merge_schema
    bad = spark.createDataFrame([("x", "c")], ["k", "s"])
    for ms in (False, True):
        with pytest.raises(TypeError, match="cannot change column"):
            txn.append(bad, t, merge_schema=ms)
    # extra column without merge_schema: refused (silently dropping it on
    # read would lose data the caller thinks it committed)
    extra = spark.createDataFrame([(2, "b", 1.5)], ["k", "s", "w"])
    with pytest.raises(TypeError, match="merge_schema"):
        txn.append(extra, t)
    assert txn.snapshot(t).version == 1  # nothing committed


def test_transform_commit_schema_evolves_with_output(spark, tmp_path):
    from pyspark.sql import functions as SF

    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.transform_commit(
        spark, t, lambda cur: cur.withColumn("flag", SF.lit(True))
    )
    out = txn.read(spark, t)
    assert "flag" in out.columns
    assert [tuple(r) for r in out.collect()] == [(1, "a", 10, True)]


def test_publish_is_exclusive_under_thread_race(tmp_path):
    """The commit primitive itself, raced hard: N threads publish for the
    SAME version concurrently — exactly one may win (os.link exclusivity
    is the whole optimistic-concurrency story; a silent double-publish
    would lose a commit). Pure filesystem, no Spark."""
    import threading

    t = str(tmp_path / "t")
    os.makedirs(t)
    results = []
    lock = threading.Lock()
    barrier = threading.Barrier(8)

    def attempt(i):
        barrier.wait()  # maximize contention on the same version
        ok = txn._publish(
            t, {"version": 1, "schema": None, "files": [], "writer": i}
        )
        with lock:
            results.append((i, ok))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sum(ok for _i, ok in results) == 1
    assert txn.snapshot(t).version == 1
    # no tmp litter: every loser cleaned up its attempt
    leftovers = [
        f for f in os.listdir(os.path.join(t, "_txnlog")) if f.startswith(".")
    ]
    assert leftovers == []


def test_compact_with_stats_cols_reharvests_skipping_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 4000).selectExpr("id as k", "id v")
    txn.overwrite(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        t,
        stats_cols=["k"],
    )
    txn.compact(spark, t, target_file_bytes=1 << 30, stats_cols=["k"])
    snap = txn.snapshot(t)
    assert all("stats" in f for f in snap.files)
    lo = min(f["stats"]["k"][0] for f in snap.files)
    hi = max(f["stats"]["k"][1] for f in snap.files)
    assert (lo, hi) == (0, 3999)
    assert txn.read(spark, t, range_filter={"k": (10, 20)}).filter(
        "k between 10 and 20"
    ).count() == 11


def test_vacuum_retires_history_keeps_retained(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.overwrite(_mk(spark, [(2, "b", 20)]), t)
    txn.overwrite(_mk(spark, [(3, "c", 30)]), t)
    stats = txn.vacuum(t, keep_versions=2)
    assert stats["removed_versions"] == 1 and stats["removed_files"] >= 1
    # retained window still reads (current + one back)
    assert _rows(txn.read(spark, t)) == [(3, "c", 30)]
    assert _rows(txn.read(spark, t, at_version=2)) == [(2, "b", 20)]
    with pytest.raises(FileNotFoundError):
        txn.read(spark, t, at_version=1)


def test_vacuum_spares_young_unpublished_commit_dirs(spark, tmp_path, monkeypatch):
    """An in-flight writer's data directory (written, manifest not yet
    published) must survive vacuum until the retention age passes —
    otherwise vacuum corrupts the commit the moment its link lands."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)

    real_publish = txn._publish

    def crash_publish(table, manifest):
        raise OSError("crash before publish")

    monkeypatch.setattr(txn, "_publish", crash_publish)
    with pytest.raises(OSError):
        txn.append(_mk(spark, [(2, "b", 20)]), t)
    monkeypatch.setattr(txn, "_publish", real_publish)
    data_root = os.path.join(t, "data")
    assert len(os.listdir(data_root)) == 2  # committed + in-flight

    def _parquets():
        return {
            os.path.join(r, f)
            for r, _d, fs in os.walk(data_root)
            for f in fs
            if f.endswith(".parquet")
        }

    before = _parquets()
    txn.vacuum(t, keep_versions=2)  # default min-age: spare the in-flight
    assert _parquets() == before  # no data file touched
    assert len(os.listdir(data_root)) == 2
    # but a retired PUBLISHED version's directory goes immediately
    txn.overwrite(_mk(spark, [(3, "c", 30)]), t)
    txn.overwrite(_mk(spark, [(4, "d", 40)]), t)
    txn.overwrite(_mk(spark, [(5, "e", 50)]), t)
    stats = txn.vacuum(t, keep_versions=1)
    assert stats["removed_files"] >= 2  # v1 + intermediate overwrites
    assert _rows(txn.read(spark, t)) == [(5, "e", 50)]


def test_stats_skipping_prunes_files_and_preserves_results(spark, tmp_path):
    """Range-sharded write + stats_cols → a narrow range_filter read must
    hand Spark a strict subset of files while still containing every
    matching row (skipping is an optimization, never a filter)."""
    t = str(tmp_path / "t")
    df = spark.range(0, 10_000).selectExpr("id as k", "id * 2 as v")
    txn.overwrite(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        t,
        stats_cols=["k"],
    )
    snap = txn.snapshot(t)
    assert all("stats" in f for f in snap.files) and len(snap.files) == 8
    pruned = txn.read(spark, t, range_filter={"k": (2500, 2600)})
    full = txn.read(spark, t)
    n_pruned = len({r[0] for r in pruned.select(F.input_file_name()).collect()})
    n_full = len({r[0] for r in full.select(F.input_file_name()).collect()})
    assert n_pruned < n_full  # files actually skipped
    got = _rows(pruned.filter("k between 2500 and 2600").select("k", "v"))
    assert got == [(k, 2 * k) for k in range(2500, 2601)]


def test_append_merge_schema_widens_and_nullfills(spark, tmp_path):
    t = str(tmp_path / "t")
    txn.overwrite(spark.createDataFrame([(1, "a")], ["k", "s"]), t)
    txn.append(
        spark.createDataFrame([(2, "b", 9.5)], ["k", "s", "score"]),
        t,
        merge_schema=True,
    )
    out = txn.read(spark, t)
    assert [f.name for f in out.schema.fields] == ["k", "s", "score"]
    rows = {r.k: (r.s, r.score) for r in out.collect()}
    assert rows[1] == ("a", None)  # pre-evolution file null-fills
    assert rows[2] == ("b", 9.5)
    # type change refused
    with pytest.raises(TypeError, match="cannot change column"):
        txn.append(
            spark.createDataFrame([("x", "c")], ["k", "s"]),
            t,
            merge_schema=True,
        )


def test_partition_column_type_pinned_by_manifest_schema(spark, tmp_path):
    """Partition values come back as the WRITTEN type (string), not what
    path inference would guess (e.g. '2024-01-01' as date)."""
    t = str(tmp_path / "t")
    df = _mk(spark, [(1, "2024-01-01", 10), (2, "2024-01-02", 20)])
    txn.overwrite(df, t, partition_by="day")
    out = txn.read(spark, t)
    assert dict(out.dtypes)["day"] == "string"
    assert _rows(out.select("k", "day", "v")) == [
        (1, "2024-01-01", 10),
        (2, "2024-01-02", 20),
    ]


def test_read_changes_insert_update_delete(spark, tmp_path):
    """The change feed classifies all three change kinds from the manifest
    diff and suppresses unchanged rows that merely got rewritten."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    txn.overwrite(base, t)  # v1
    # transform: drop k=3 (delete), double k=2 (update), add k=9 (insert),
    # keep k=1/k=4 byte-identical (must NOT appear in the feed)
    txn.transform_commit(
        spark,
        t,
        lambda cur: cur.filter("k <> 3")
        .withColumn("v", F.when(F.col("k") == 2, F.col("v") * 2).otherwise(F.col("v")))
        .unionByName(spark.createDataFrame([(9, 90.0)], "k long, v double")),
    )  # v2
    feed = txn.read_changes(spark, t, keys=["k"], from_version=1, to_version=2)
    got = {(r["k"], r["_change_type"]): r["v"] for r in feed.collect()}
    assert got == {
        (9, "insert"): 90.0,
        (3, "delete"): 30.0,
        (2, "update_preimage"): 20.0,
        (2, "update_postimage"): 40.0,
    }
    assert all(r["_commit_version"] == 2 for r in feed.collect())


def test_read_changes_compaction_is_silent(spark, tmp_path):
    """OPTIMIZE rewrites every file but changes no row — the change feed
    across a compaction commit must be EMPTY."""
    t = str(tmp_path / "t")
    txn.overwrite(
        spark.range(100).withColumn("v", F.col("id") * 2).repartition(8), t
    )  # v1: 8 files
    txn.compact(spark, t, target_file_bytes=1 << 30)  # v2: rewritten layout
    feed = txn.read_changes(spark, t, keys=["id"], from_version=1, to_version=2)
    assert feed.count() == 0


def test_read_changes_partition_scoped_merge_reads_only_touched(spark, tmp_path):
    """On a partition-scoped merge, untouched partitions carry over
    file-verbatim, so the change feed's pre/post reads touch ONLY the
    rewritten partition's files — and report only its changed rows."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)],
        "k long, p string, v double",
    )
    txn.overwrite(base, t, partition_by="p")  # v1
    txn.merge_upsert(
        spark.createDataFrame([(2, "a", 22.0)], "k long, p string, v double"),
        t,
        keys=["k"],
        partition_col="p",
    )  # v2: only partition 'a' rewrites
    sa = txn.snapshot(t, 1)
    sb = txn.snapshot(t, 2)
    diff_files = {f["path"] for f in sa.files} ^ {f["path"] for f in sb.files}
    assert all("p=b" not in path for path in diff_files)  # b carried verbatim
    feed = txn.read_changes(spark, t, keys=["k"], from_version=1, to_version=2)
    got = {(r["k"], r["_change_type"]): r["v"] for r in feed.collect()}
    assert got == {
        (2, "update_preimage"): 2.0,
        (2, "update_postimage"): 22.0,
    }


# slow: multi-epoch stream-tail lifecycle; the sink path is oracle-checked (stream_txn_sink)
@pytest.mark.slow
def test_txn_table_stream_tails_appends(spark, tmp_path):
    """A streaming query tails an append-only txn table by commit version:
    availableNow drains what's committed, a later append + rerun on the
    SAME checkpoint delivers only the new rows, and a rewrite commit makes
    the stream refuse rather than double-read."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamDataSource

    t = str(tmp_path / "t")
    txn.overwrite(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"), t)
    txn.append(spark.createDataFrame([(3, 30.0)], "k long, v double"), t)
    spark.dataSource.register(TxnTableStreamDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("txn_table")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]

    txn.append(spark.createDataFrame([(4, 40.0), (5, 50.0)], "k long, v double"), t)
    run_once()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]

    # a rewrite (merge) between offsets must refuse, not double-read
    txn.merge_upsert(
        spark.createDataFrame([(1, 11.0)], "k long, v double"), t, keys=["k"]
    )
    from ir_analyses_spark.io.txn_stream import TxnTableStreamReader

    r = TxnTableStreamReader({"path": t})
    with pytest.raises(ValueError, match="rewrite"):
        r.partitions({"version": 3}, {"version": 4})


def test_history_is_manifest_only_and_row_exact(spark, tmp_path):
    """DESCRIBE HISTORY across a lifecycle: operations label every commit
    kind, row counts come from footers harvested at write time (no data
    IO at history time), and compaction changes the layout but never the
    count. A version with no recorded counts must answer None, not 0."""
    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    txn.overwrite(df.repartition(4), t)
    txn.append(spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ), t)
    txn.merge_upsert(
        spark.range(140, 160).select(
            F.col("id").alias("k"), F.lit(99).cast("bigint").alias("v")
        ),
        t, keys=["k"],
    )
    txn.compact(spark, t)
    h = txn.history(t)
    assert [r["version"] for r in h] == [1, 2, 3, 4]
    assert [r["operation"] for r in h] == [
        "overwrite", "append", "merge_upsert", "compact"
    ]
    assert [r["n_rows"] for r in h] == [100, 150, 160, 160]
    assert h[0]["n_files"] >= 4 and h[3]["n_files"] < h[2]["n_files"]
    # a manifest whose files lack counts (pre-upgrade table) → None
    import json as _json
    path = t + "/_txnlog/" + f"{2:020d}.json"
    m = _json.load(open(path))
    for f in m["files"]:
        f.pop("rows", None)
    _json.dump(m, open(path, "w"))
    assert txn.history(t)[1]["n_rows"] is None


def test_datasource_writer_two_phase_commit(spark, tmp_path):
    """df.write.format('txn_table'): executor tasks write invisible files,
    the driver commit publishes ONE manifest; append enforces exact
    schema; overwrite replaces; a failed task aborts the whole job with
    every written file removed and the version unchanged."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    t = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k", "id % 7 AS v").write.format(
        "txn_table"
    ).mode("append").option("path", t).save()
    spark.range(100, 150).selectExpr("id AS k", "id % 7 AS v").write.format(
        "txn_table"
    ).mode("append").option("path", t).save()
    assert txn.read(spark, t).count() == 150
    assert [(h["operation"], h["n_rows"]) for h in txn.history(t)] == [
        ("append", 100), ("append", 150)
    ]
    spark.range(5).selectExpr("id AS k", "id % 7 AS v").write.format(
        "txn_table"
    ).mode("overwrite").option("path", t).save()
    assert txn.read(spark, t).count() == 5
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.format(
            "txn_table"
        ).mode("append").option("path", t).save()
    # failed task -> abort: version pinned, no unreferenced files survive
    from pyspark.sql.types import LongType

    v_before = txn.snapshot(t).version

    @F.udf(returnType=LongType())
    def boom(x):
        if x == 3:
            raise RuntimeError("boom")
        return x

    with pytest.raises(Exception):
        spark.range(5).repartition(5).select(
            boom(F.col("id")).alias("k"), (F.col("id") % 7).alias("v")
        ).write.format("txn_table").mode("append").option("path", t).save()
    assert txn.snapshot(t).version == v_before
    import glob

    referenced = set()
    for v in range(1, v_before + 1):
        referenced |= {f["path"] for f in txn.snapshot(t, v).files}
    on_disk = {
        os.path.relpath(p, t).replace(os.sep, "/")
        for p in glob.glob(t + "/data/*/*.parquet")
    }
    assert on_disk, "writer files must land under txn's vacuumable data root"
    # abort() removes the job dir, but a straggler task can finish its
    # file AFTER the rmtree (speculative/in-flight attempts) — such
    # leftovers are exactly the never-referenced orphans vacuum's
    # age-gated sweep reclaims. Assert the sweep actually gets them.
    leftovers = on_disk - referenced
    # leftovers can only be straggler tasks that finished after abort's
    # rmtree; how many is scheduler timing, so no count bound here — the
    # no-op-abort regression is pinned DETERMINISTICALLY by the
    # hand-driven write/abort below, and any leftover must be vacuumable:
    if leftovers:
        txn.vacuum(t, keep_versions=10, orphan_min_age_seconds=0.0)
        on_disk_after = {
            os.path.relpath(p, t).replace(os.sep, "/")
            for p in glob.glob(t + "/data/*/*.parquet")
        }
        assert on_disk_after - referenced == set()
        assert txn.read(spark, t).count() == 5  # table state untouched
    # deterministic pin of abort's own contract, no scheduler race: a
    # hand-driven task write followed by abort must remove the job dir
    from ir_analyses_spark.io.txn_stream import TxnTableArrowWriter

    w = TxnTableArrowWriter(
        {"path": t}, spark.range(1).selectExpr("id AS k", "id AS v").schema,
        overwrite=False,
    )
    import pyarrow as pa

    msg = w.write(iter([pa.RecordBatch.from_pydict({"k": [1], "v": [2]})]))
    assert os.path.exists(os.path.join(t, msg.rel_path))
    w.abort([msg])
    assert not os.path.exists(os.path.join(t, w.commit_dir))


def test_datasource_batch_reader_time_travel(spark, tmp_path):
    """spark.read.format('txn_table'): current snapshot by default, pinned
    historical version via option('version', N) — the DataSource read
    path must agree exactly with txn.read."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    t = str(tmp_path / "t")
    spark.range(30).selectExpr("id AS k", "id % 3 AS v").write.format(
        "txn_table"
    ).mode("append").option("path", t).save()
    spark.range(30, 50).selectExpr("id AS k", "id % 3 AS v").write.format(
        "txn_table"
    ).mode("append").option("path", t).save()
    cur = spark.read.format("txn_table").option("path", t).load()
    v1 = spark.read.format("txn_table").option("path", t).option("version", 1).load()
    assert cur.count() == 50 and v1.count() == 30
    assert sorted(r["k"] for r in v1.collect()) == list(range(30))


def test_datasource_stream_writer_exactly_once(spark, tmp_path):
    """writeStream.format('txn_table'): micro-batches commit files + the
    epoch id in ONE manifest publication; a second availableNow run on
    the same checkpoint appends only new input, and a hand-replayed
    committed epoch is a ledger no-op (version and rows unchanged)."""
    from ir_analyses_spark.io.txn_stream import (
        TxnTableStreamDataSource,
        TxnTableStreamWriter,
    )

    spark.dataSource.register(TxnTableStreamDataSource)
    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    spark.range(10).selectExpr("id AS k", "id % 3 AS v").write.parquet(
        src + "/a.parquet"
    )

    def run_once():
        q = (
            spark.readStream.schema("k long, v long")
            .parquet(src + "/*.parquet")
            .writeStream.format("txn_table")
            .option("path", t)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("txn stream sink test did not finish in 120s")

    run_once()
    assert txn.read(spark, t).count() == 10
    spark.range(10, 25).selectExpr("id AS k", "id % 3 AS v").write.parquet(
        src + "/b.parquet"
    )
    run_once()
    assert txn.read(spark, t).count() == 25
    assert sorted(r["k"] for r in txn.read(spark, t).collect()) == list(range(25))
    ops = [h["operation"] for h in txn.history(t)]
    assert all(op == "stream_append" for op in ops)
    # replayed epoch: same batchId commits as a no-op inside the OCC loop
    snap_before = txn.snapshot(t)
    applied = snap_before.applied_batches[0]
    from pyspark.sql.types import StructType as _St

    w = TxnTableStreamWriter(
        {"path": t},
        _St.fromJson(__import__("json").loads(snap_before.schema_json)),
        overwrite=False,
    )
    w.commit([], applied)
    assert txn.snapshot(t).version == snap_before.version


def test_datasource_batch_reader_partitioned_table(spark, tmp_path):
    """Partitioned txn tables through spark.read.format('txn_table'): the
    files keep the partition column, so the reader returns it with its
    declared type (bigint here — a string from the directory names would
    flip the schema), agreeing with txn.read row-for-row."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    t = str(tmp_path / "t")
    df = spark.range(60).selectExpr("id AS k", "CAST(id % 3 AS BIGINT) AS grp")
    txn.overwrite(df, t, partition_by="grp")
    got = spark.read.format("txn_table").option("path", t).load()
    assert got.schema["grp"].dataType.simpleString() == "bigint"
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, txn.read(spark, t).collect())
    )


def test_datasource_pushdown_prunes_files_conservatively(spark, tmp_path):
    """Spark-pushed predicates drive manifest-level skipping in the
    Python DataSource: partition equality prunes to that partition's
    files, a stats-column range prunes to intersecting files — and every
    filter is returned as residual, so results stay exact even though
    the skip is conservative. Sessions without the pushdown conf get the
    plain reader and still read correctly."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from ir_analyses_spark.io.txn_stream import (
        TxnTablePushdownReader,
        TxnTableStreamDataSource,
    )

    spark.dataSource.register(TxnTableStreamDataSource)
    t = str(tmp_path / "t")
    df = spark.range(90).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS grp")
    txn.overwrite(df.repartition(6), t, partition_by="grp")
    schema = txn.read(spark, t).schema
    total = len(TxnTablePushdownReader({"path": t}, schema).partitions())
    pruned = TxnTablePushdownReader({"path": t}, schema)
    residual = pruned.pushFilters([EqualTo(("grp",), "1")])
    assert list(residual), "all filters must come back as residual"
    assert 0 < len(pruned.partitions()) < total
    got = (
        spark.read.format("txn_table").option("path", t).load()
        .filter(F.col("grp") == "1")
    )
    assert got.count() == 30
    # END-TO-END: the planner must hand Spark only the pruned partitions —
    # input-partition count of the filtered scan < the full table's (this
    # is the assertion that caught reader() silently never choosing the
    # pushdown class: DataSource.reader() runs in a session-less planner
    # worker, so the choice is option-driven, default on)
    n_full = (
        spark.read.format("txn_table").option("path", t).load()
        .rdd.getNumPartitions()
    )
    n_pruned = got.rdd.getNumPartitions()
    assert 0 < n_pruned < n_full
    # stats-based range skipping over sorted shards
    t2 = str(tmp_path / "t2")
    d2 = (
        spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(5, "k").sortWithinPartitions("k")
    )
    txn.overwrite(d2, t2, stats_cols=["k"])
    s2 = txn.read(spark, t2).schema
    r = TxnTablePushdownReader({"path": t2}, s2)
    r.pushFilters([GreaterThan(("k",), 900)])
    assert len(r.partitions()) == 1
    q = spark.read.format("txn_table").option("path", t2).load().filter(
        F.col("k") > 900
    )
    assert q.count() == 99
    # conf off -> option("pushdown", "false") selects the plain reader
    # and reads correctly (without the option, Spark raises its own
    # actionable DATA_SOURCE_PUSHDOWN_DISABLED)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        assert (
            spark.read.format("txn_table").option("path", t)
            .option("pushdown", "false").load()
            .filter(F.col("grp") == "2").count()
            == 30
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_compact_zorder_rectangles_enable_two_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY on the txn format: after a z-ordered compaction
    with stats re-harvest, BOTH columns' manifest stats must be selective
    enough that a point-range predicate on EITHER column prunes files —
    the property a 1-D sort only gives its own sort column. Values are
    preserved exactly, operation is labeled, and replays of readers on
    the old snapshot are untouched."""
    t = str(tmp_path / "t")
    n = 20000
    df = spark.range(n).selectExpr(
        "id AS a", f"CAST(pmod(id * 2654435761, {n}) AS BIGINT) AS b"
    )
    txn.overwrite(df.repartition(8), t, stats_cols=["a", "b"])
    before = sorted(map(tuple, txn.read(spark, t).collect()))
    txn.compact(
        spark, t, target_file_bytes=16 * 1024,
        stats_cols=["a", "b"], zorder_by=("a", "b"),
    )
    assert txn.history(t)[-1]["operation"] == "zorder"
    after = sorted(map(tuple, txn.read(spark, t).collect()))
    assert after == before
    snap = txn.snapshot(t)
    n_files = len(snap.files)
    assert n_files >= 4, "need multiple shards to observe skipping"

    def kept(col, lo, hi):
        return sum(
            1 for f in snap.files if txn.stats_may_hit(f, {col: (lo, hi)})
        )

    # a narrow band on EITHER column must exclude most files
    assert kept("a", 0, n // 16) < n_files
    assert kept("b", 0, n // 16) < n_files
    assert kept("a", 0, n // 16) <= n_files // 2 + 1
    assert kept("b", 0, n // 16) <= n_files // 2 + 1


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE publishes a new version pointing at the target's files:
    data equals the target exactly, the bad commit stays time-travelable,
    no data files are copied (same paths), the ledger carries over so a
    replayed batch id is still a no-op after the restore, and a vacuumed
    target refuses with a clear error."""
    t = str(tmp_path / "t")
    base = _mk(spark, [(1, "a", 10), (2, "b", 20)])
    txn.overwrite(base, t)
    txn.overwrite(_mk(spark, [(9, "z", 90)]), t)  # the "bad" commit (v2)
    v1_files = {f["path"] for f in txn.snapshot(t, 1).files}
    txn.restore(t, 1)
    assert txn.snapshot(t).version == 3
    assert {f["path"] for f in txn.snapshot(t).files} == v1_files  # no copy
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20)]
    # the bad commit is still inspectable
    assert _rows(txn.read(spark, t, at_version=2)) == [(9, "z", 90)]
    assert txn.history(t)[-1]["operation"] == "restore"
    # vacuumed target refuses
    txn.overwrite(_mk(spark, [(5, "e", 50)]), t)
    txn.vacuum(t, keep_versions=1, orphan_min_age_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        txn.restore(t, 2)


def test_stream_reader_null_fills_pre_evolution_files(spark, tmp_path):
    """A txn_table stream crossing an additive schema evolution must read
    pre-evolution files with the evolved schema, null-filling the added
    column (the shared executor read helper) — not crash asking pyarrow
    for a column the old footer can't name."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10), (2, "b", 20)]), t)
    evolved = _mk(spark, [(3, "c", 30)]).withColumn("w", F.lit(7).cast("long"))
    txn.append(evolved, t, merge_schema=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("txn_table")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        (r["k"], r["w"]) for r in spark.read.parquet(out).collect()
    }
    assert rows == {(1, None), (2, None), (3, 7)}


def test_stream_reader_tails_a_partitioned_table(spark, tmp_path):
    """Partitioned txn files hold whole rows, so the stream reader serves
    a partitioned table's appends, the partition column (NULL included)
    read from the files themselves."""
    from ir_analyses_spark.io.txn_stream import TxnTableStreamReader

    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t, partition_by="day")
    txn.append(_mk(spark, [(2, "b", 20), (3, None, 30)]), t, partition_by="day")
    r = TxnTableStreamReader({"path": t})
    rows = [
        tuple(row.values())
        for p in r.partitions({"version": 1}, r.latestOffset())
        for batch in r.read(p)
        for row in batch.to_pylist()
    ]
    assert sorted(rows, key=str) == [(2, "b", 20), (3, None, 30)]


def test_history_distinguishes_vacuum_truncation_from_lost_manifest(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5: a manifest retired by concurrent vacuum (gone from the
    log listing) truncates history benignly, but a manifest the listing
    still advertises yet cannot be opened was lost out-of-band and must
    raise — silent disappearance would violate the module's own
    'evidence is reported as absent, never as 0' posture."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.append(_mk(spark, [(2, "b", 20)]), t)
    txn.append(_mk(spark, [(3, "c", 30)]), t)
    assert [r["version"] for r in txn.history(t)] == [1, 2, 3]

    # concurrent-vacuum shape: the open() races a retention pass that
    # unlinks v1 AFTER the version listing was taken → benign truncation
    real_open = open
    v1 = txn._log_path(t, 1)

    def racing_open(path, *a, **kw):
        if os.fspath(path) == v1 and os.path.exists(v1):
            os.unlink(v1)  # the "vacuum" wins the race mid-open
            raise FileNotFoundError(v1)
        return real_open(path, *a, **kw)

    monkeypatch.setattr("builtins.open", racing_open)
    assert [r["version"] for r in txn.history(t)] == [2, 3]
    monkeypatch.undo()

    # lost-manifest shape: v2 still listed, but open fails (fs fault /
    # out-of-band delete with a stale-but-authoritative listing) → raise
    v2 = txn._log_path(t, 2)

    def faulty_open(path, *a, **kw):
        if os.fspath(path) == v2:
            raise FileNotFoundError(v2)
        return real_open(path, *a, **kw)

    monkeypatch.setattr("builtins.open", faulty_open)
    with pytest.raises(FileNotFoundError):
        txn.history(t)


def test_history_raises_on_hole_below_surviving_version(spark, tmp_path):
    """Review-caught gap in the lost-manifest guard: vacuum only ever
    retires a PREFIX of versions, so a missing manifest BELOW a
    surviving older version is a state retention cannot produce — only
    out-of-band deletion can. history() must raise on the hole (while
    still tolerating genuine prefix truncation, covered above)."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.append(_mk(spark, [(2, "b", 20)]), t)
    txn.append(_mk(spark, [(3, "c", 30)]), t)
    os.remove(txn._log_path(t, 2))  # out-of-band loss: v1 survives below
    with pytest.raises(FileNotFoundError):
        txn.history(t)


def test_restore_to_vacuumed_version_raises_with_file_names(spark, tmp_path):
    """RESTORE names immutable files; once vacuum has deleted a target
    version's data files, restore must refuse with the missing paths —
    not publish a manifest pointing at nothing."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10)]), t)
    txn.overwrite(_mk(spark, [(2, "b", 20)]), t)
    txn.overwrite(_mk(spark, [(3, "c", 30)]), t)
    txn.vacuum(t, keep_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        txn.restore(t, 1)
    # table state untouched by the refused restore
    assert _rows(txn.read(spark, t)) == [(3, "c", 30)]
    assert [r["version"] for r in txn.history(t)] == [3]


def test_stale_compaction_abandons_when_table_moves_on(spark, tmp_path, monkeypatch):
    """compact() rewrites the snapshot it read; if another writer commits
    first, the stale compaction must ABANDON (publish nothing) rather
    than commit a layout that silently drops the racer's rows. Simulated
    by injecting an append into compact's write window."""
    t = str(tmp_path / "t")
    txn.overwrite(_mk(spark, [(1, "a", 10), (2, "b", 20)]), t)
    real_write = txn._write_data
    raced = {"done": False}

    def racing_write(df, table, partition_by, stats_cols=None):
        entries = real_write(df, table, partition_by, stats_cols)
        if not raced["done"]:
            raced["done"] = True
            monkeypatch.undo()  # the racer's own write must not recurse
            txn.append(_mk(spark, [(3, "c", 30)]), t)
        return entries

    monkeypatch.setattr(txn, "_write_data", racing_write)
    before = txn.snapshot(t).version
    snap = txn.compact(spark, t)
    # build() saw the moved version and returned None: _commit hands back
    # the CURRENT snapshot (the racer's), no new compact version appears
    assert snap.version == before + 1  # the racer's append only
    ops = [r["operation"] for r in txn.history(t)]
    assert ops == ["overwrite", "append"]
    assert _rows(txn.read(spark, t)) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
