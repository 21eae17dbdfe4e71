"""Structured Streaming tests: real readStream→writeStream runs on temp
file sources, results checked against the identical batch transformation
(stream/batch parity is the streaming correctness oracle)."""

from __future__ import annotations

import pytest

from ir_analyses_spark.io.sources import load_table
from ir_analyses_spark.streaming.pipeline import (
    dedup_within_watermark,
    session_windows,
    stream_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Raw events parquet split into 3 files → 3 micro-batches."""
    path = str(tmp_path_factory.mktemp("events_src"))
    # restage via the unit-normalizing loader (same as the production
    # stagers): whatever the source unit, staged footers are
    # TIMESTAMP_MICROS, which stream_events' footer probe reads as-is
    raw = load_table(spark, "events", SF)
    raw.repartition(3).write.mode("overwrite").parquet(path)
    return path


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _run(q, timeout=120):
    assert q.awaitTermination(timeout), "stream did not finish in time"


def run_stream_to_memory(df, name, mode="append"):
    """Start the stream into an in-memory table named ``name``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def test_tumbling_stream_matches_batch(spark, events_dir):
    # complete mode: append would hold back windows the watermark has not
    # passed yet (they'd emit on the next batch — correct but unending here)
    stream = tumbling_counts(stream_events(spark, events_dir))
    q = run_stream_to_memory(stream, "t_tumbling", mode="complete")
    _run(q)
    got = _rows(spark.table("t_tumbling"))
    want = _rows(tumbling_counts(load_table(spark, "events", SF)))
    assert got == want


def test_sliding_stream_matches_batch(spark, events_dir):
    from ir_analyses_spark.streaming.pipeline import sliding_user_activity

    stream = sliding_user_activity(stream_events(spark, events_dir))
    q = run_stream_to_memory(stream, "t_sliding", mode="complete")
    _run(q)
    got = _rows(spark.table("t_sliding"))
    want = _rows(sliding_user_activity(load_table(spark, "events", SF)))
    assert got == want


def test_session_stream_matches_batch(spark, events_dir, tmp_path):
    # single-file source: with multiple unordered files the watermark drops
    # later files as late (correct, but then stream ≠ batch by design)
    one_dir = str(tmp_path / "one_file")
    spark.read.parquet(events_dir).coalesce(1).write.parquet(one_dir)
    stream = session_windows(stream_events(spark, one_dir))
    q = run_stream_to_memory(stream, "t_sessions", mode="complete")
    _run(q)
    got = _rows(spark.table("t_sessions"))
    want = _rows(session_windows(load_table(spark, "events", SF)))
    assert got == want


def test_dedup_within_watermark(spark, events_dir, tmp_path):
    # duplicate the whole source: stream must emit each event_id once.
    # single file → single micro-batch: with multiple unordered files the
    # watermark would (correctly) drop whole files as late, testing lateness
    # rather than dedup
    dup_dir = str(tmp_path / "dup_src")
    raw = spark.read.parquet(events_dir)
    raw.unionByName(raw).coalesce(1).write.mode("overwrite").parquet(dup_dir)
    stream = dedup_within_watermark(stream_events(spark, dup_dir))
    q = run_stream_to_memory(stream.select("event_id"), "t_dedup", mode="append")
    _run(q)
    got = spark.table("t_dedup")
    n_distinct = load_table(spark, "events", SF).select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.distinct().count() == n_distinct


def test_incremental_rollup_additive_and_replay_safe(spark, events_dir, tmp_path):
    """Three micro-batch merges must equal the one-shot batch aggregate
    exactly (integer micros). Replaying the stream from a fresh checkpoint
    must not double-count: every batch short-circuits on the manifest
    ledger, so the table VERSION proves no partial re-application either,
    and a reader pinned before the replay stays consistent."""
    from ir_analyses_spark.io import txn
    from ir_analyses_spark.streaming.pipeline import (
        foreach_batch_rollup,
        rollup_delta,
    )

    table = str(tmp_path / "rollup")
    _run(foreach_batch_rollup(stream_events(spark, events_dir), table))
    cols = ["day", "event_type", "n_events", "value_micros"]
    events = load_table(spark, "events", SF)
    want = _rows(rollup_delta(events).select(*cols))
    assert _rows(txn.read(spark, table).select(*cols)) == want
    v = txn.snapshot(table).version
    pinned = txn.read(spark, table, at_version=v)
    import shutil

    shutil.rmtree(f"{table}__checkpoint")
    _run(foreach_batch_rollup(stream_events(spark, events_dir), table))
    assert txn.snapshot(table).version == v  # not one partial commit
    assert _rows(txn.read(spark, table).select(*cols)) == want
    assert _rows(pinned.select(*cols)) == want


def test_stream_state_partitions_gate(spark, sf_dir, tmp_path):
    """r15 scale-adaptive state sizing: a dimension-sized staged source
    proposes a small partition count (floor 2); when the session is
    already at or below the proposal the gate is a no-op (None) — the
    at-scale behavior, where the estimate meets defaultParallelism."""
    from ir_analyses_spark.streaming.pipeline import (
        _stage_events_dir,
        _stream_state_partitions,
    )

    src = _stage_events_dir(sf_dir)
    try:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        got = _stream_state_partitions(spark, (src,))
        # the sf0.001/sf0.01 events table is far below one split per core
        assert got == 2
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "2")
            assert _stream_state_partitions(spark, (src,)) is None
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        # empty source dir → no evidence → no-op
        assert _stream_state_partitions(spark, (str(tmp_path),)) is None
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)
