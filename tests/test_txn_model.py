"""Model-based check of the transaction-log table format: random
sequences of overwrite / append / merge_upsert (keyed, or replacing by
parent key) commits must keep the table's read equal to a trivial
in-memory list model after EVERY commit, and historical versions must
stay re-readable until vacuumed. Catches
whole classes of manifest-bookkeeping bugs (dropped carry-over files,
stale schema, wrong partition pruning in merges) that example tests can
only sample."""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

from ir_analyses_spark.io import txn

import pytest

_KEYS = st.integers(min_value=0, max_value=5)
_VALS = st.integers(min_value=0, max_value=99)

# day is a FUNCTION of the key everywhere: the partition-scoped merge
# path's precondition (a key never moves between partitions) must hold
# across every commit in the sequence, not just the merge's own rows
_ROW = st.tuples(_KEYS, _VALS).map(lambda kv: (kv[0], "abc"[kv[0] % 3], kv[1]))
_ROWS = st.lists(_ROW, min_size=1, max_size=6)

# merge updates must additionally be unique per key (the MERGE contract)
_MERGE_ROWS = _ROWS.map(
    lambda rows: [
        (k, "abc"[k % 3], v) for k, v in {r[0]: r[2] for r in rows}.items()
    ]
)

# replace-by-parent: k is the parent key, the updates may hold several
# rows per parent (or none), and every row of a replaced parent goes
_REPLACE = st.tuples(st.lists(_KEYS, max_size=3), st.lists(_ROW, max_size=6))

_OP = st.one_of(
    st.tuples(st.just("overwrite"), _ROWS),
    st.tuples(st.just("append"), _ROWS),
    st.tuples(st.just("merge"), _MERGE_ROWS),
    st.tuples(st.just("replace"), _REPLACE),
)


def _apply_model(model: list, op: str, rows) -> list:
    if op == "overwrite":
        return list(rows)
    if op == "append":
        return model + list(rows)
    if op == "replace":
        parents, rows = rows
        return [r for r in model if r[0] not in parents] + list(rows)
    upd_keys = {r[0] for r in rows}
    return [r for r in model if r[0] not in upd_keys] + list(rows)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=st.lists(_OP, min_size=1, max_size=4), data=st.data())
# slow: randomized model-based lifecycle; deterministic lifecycle twins run fast in test_txn
@pytest.mark.slow
def test_random_commit_sequences_match_list_model(spark, ops, data):
    table = tempfile.mkdtemp(prefix="txn_model_")
    try:
        model: list = []
        histories: list[tuple[int, Counter]] = []
        for op, rows in ops:
            replace = None
            if op == "replace":
                parents, upd = rows
                replace = spark.createDataFrame(
                    [(k, "abc"[k % 3]) for k in parents], "k long, day string")
            else:
                upd = rows
            df = spark.createDataFrame(upd, "k long, day string, v long")
            # partitioned for merges (their day is key-derived); plain
            # layouts for the rest — exercises the mixed-layout paths
            if op == "overwrite":
                snap = txn.overwrite(df, table, partition_by="day")
            elif op == "append":
                snap = txn.append(df, table)
            else:
                first = txn.snapshot(table).schema_json is None
                snap = txn.merge_upsert(
                    df,
                    table,
                    keys=["k"],
                    # partition-scoped only when the table layout is
                    # partitioned; a prior plain append downgrades it
                    partition_col="day"
                    if first or txn.snapshot(table).partition_by
                    else None,
                    replace=replace,
                )
            model = _apply_model(model, op, rows)
            got = Counter(tuple(r) for r in txn.read(spark, table).collect())
            assert got == Counter(model), (op, rows)
            histories.append((snap.version, Counter(model)))
        # every historical version is still exactly re-readable (no vacuum)
        pick = data.draw(
            st.sampled_from(histories), label="historical version"
        )
        v, want = pick
        got = Counter(
            tuple(r) for r in txn.read(spark, table, at_version=v).collect()
        )
        assert got == want
    finally:
        shutil.rmtree(table, ignore_errors=True)


_MAINT_OP = st.one_of(
    st.tuples(st.just("overwrite"), _ROWS),
    st.tuples(st.just("append"), _ROWS),
    st.tuples(st.just("merge"), _MERGE_ROWS),
    st.tuples(st.just("compact"), st.just([])),
    st.tuples(st.just("restore"), st.just([])),
    st.tuples(st.just("vacuum"), st.just([])),
)

_OPNAMES = {"overwrite": "overwrite", "append": "append",
            "merge": "merge_upsert", "compact": "compact",
            "restore": "restore"}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=st.lists(_MAINT_OP, min_size=2, max_size=5), data=st.data())
# slow: randomized model-based lifecycle; deterministic twins in test_txn_maint
@pytest.mark.slow
def test_random_maintenance_lifecycle_matches_model(spark, ops, data):
    """Extends the commit-sequence model with the MAINTENANCE lifecycle —
    compact / restore / vacuum — and checks DESCRIBE HISTORY after every
    step against a model-tracked ledger: surviving versions must stay a
    contiguous suffix, operations must label correctly, n_rows must be
    footer-exact, the current read must equal the model throughout, and
    restore must resurrect exactly the model state of its target.
    Catches maintenance/bookkeeping interactions (restore-after-vacuum,
    compact count preservation, vacuum retention arithmetic) that the
    example tests sample one at a time."""
    table = tempfile.mkdtemp(prefix="txn_maint_model_")
    try:
        states: dict[int, Counter] = {}
        oplog: dict[int, str] = {}
        surviving: list[int] = []
        model: Counter = Counter()

        def commit(ver: int, opname: str, new_model: Counter):
            nonlocal model
            model = new_model
            states[ver] = new_model
            oplog[ver] = opname
            surviving.append(ver)

        for op, rows in ops:
            if op in ("overwrite", "append", "merge"):
                df = spark.createDataFrame(rows, ["k", "day", "v"])
                if op == "overwrite":
                    snap = txn.overwrite(df, table)
                elif op == "append":
                    if not surviving:
                        snap = txn.overwrite(df, table)
                        op = "overwrite"
                    else:
                        snap = txn.append(df, table)
                else:
                    snap = txn.merge_upsert(df, table, keys=["k"])
                commit(
                    snap.version,
                    _OPNAMES[op],
                    Counter(
                        tuple(r)
                        for r in _apply_model(
                            list(model.elements()), op, rows
                        )
                    ),
                )
            elif op == "compact":
                if not surviving:
                    continue
                snap = txn.compact(spark, table)
                commit(snap.version, "compact", model)
            elif op == "restore":
                if not surviving:
                    continue
                target = data.draw(
                    st.sampled_from(surviving), label="restore target"
                )
                snap = txn.restore(table, target)
                commit(snap.version, "restore", states[target])
            else:  # vacuum
                if len(surviving) < 2:
                    continue
                keep = data.draw(
                    st.integers(1, len(surviving)), label="keep_versions"
                )
                txn.vacuum(table, keep_versions=keep)
                surviving[:] = surviving[-keep:]

            got = Counter(
                tuple(r) for r in txn.read(spark, table).collect()
            )
            assert got == model, (op, rows)
            h = txn.history(table)
            assert [r["version"] for r in h] == surviving
            assert [r["operation"] for r in h] == [
                oplog[v] for v in surviving
            ]
            assert [r["n_rows"] for r in h] == [
                sum(states[v].values()) for v in surviving
            ]
        # every surviving version still time-travels to its model state
        if surviving:
            v = data.draw(st.sampled_from(surviving), label="time travel")
            got = Counter(
                tuple(r)
                for r in txn.read(spark, table, at_version=v).collect()
            )
            assert got == states[v]
    finally:
        shutil.rmtree(table, ignore_errors=True)
