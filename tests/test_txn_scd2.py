"""SCD2 on the transaction-log format: the close-and-version transform
(``txn.scd2_apply``) plus the txn guarantees — atomic history commits and
exactly-once batches."""

from __future__ import annotations

import datetime

from ir_analyses_spark.io import txn


def _d(s: str) -> datetime.date:
    return datetime.date.fromisoformat(s)


def _upd(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "state", "effective_from"])


def test_scd2_txn_versions_history_and_point_reads(spark, tmp_path):
    t = str(tmp_path / "dim")
    txn.scd2_merge_txn(
        _upd(spark, [(1, "a", _d("2024-01-01")), (2, "x", _d("2024-01-01"))]),
        t,
        key="user_id",
        change_cols=["state"],
    )
    # change user 1, no-op user 2, new user 3
    txn.scd2_merge_txn(
        _upd(
            spark,
            [
                (1, "b", _d("2024-02-01")),
                (2, "x", _d("2024-02-01")),
                (3, "z", _d("2024-02-01")),
            ],
        ),
        t,
        key="user_id",
        change_cols=["state"],
    )
    rows = {
        (r.user_id, r.state): (r.effective_from, r.effective_to, r.is_current)
        for r in txn.read(spark, t).collect()
    }
    assert rows[(1, "a")] == (_d("2024-01-01"), _d("2024-02-01"), False)
    assert rows[(1, "b")] == (_d("2024-02-01"), None, True)
    assert rows[(2, "x")] == (_d("2024-01-01"), None, True)  # unchanged
    assert rows[(3, "z")] == (_d("2024-02-01"), None, True)
    assert len(rows) == 4
    # history is also time-travelable: version 1 has only the first load
    assert txn.read(spark, t, at_version=1).count() == 2


def test_scd2_txn_batch_replay_is_noop(spark, tmp_path):
    t = str(tmp_path / "dim")
    u1 = _upd(spark, [(1, "a", _d("2024-01-01"))])
    u2 = _upd(spark, [(1, "b", _d("2024-02-01"))])
    txn.scd2_merge_txn(u1, t, key="user_id", change_cols=["state"], batch_id=0)
    txn.scd2_merge_txn(u2, t, key="user_id", change_cols=["state"], batch_id=1)
    v = txn.snapshot(t).version
    # replaying batch 1 must not close/reopen anything — same version
    txn.scd2_merge_txn(u2, t, key="user_id", change_cols=["state"], batch_id=1)
    assert txn.snapshot(t).version == v
    cur = txn.read(spark, t).filter("is_current").collect()
    assert [(r.user_id, r.state) for r in cur] == [(1, "b")]
    assert txn.read(spark, t).count() == 2
