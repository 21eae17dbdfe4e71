"""Streaming index maintenance invariants (llm/retrieval_stream.py).

Value parity vs DuckDB is covered by test_oracle_parity; these pin the
exactly-once argument: the applied-batch marker commits in the SAME
rename as the data, so replays no-op, half-promoted states re-run
cleanly, and nothing can double-apply."""

from __future__ import annotations

import os

import pytest

from ir_analyses_spark.llm.retrieval import (
    append_retrieval_index,
    read_retrieval_index,
)
from ir_analyses_spark.llm.retrieval_stream import index_stream_sink


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sink_bootstrap_append_and_replay_noop(spark, tmp_path):
    idx = str(tmp_path / "ridx")
    sink = index_stream_sink(idx, seg_width=256)
    b0 = _docs(spark, [(1, "part filter part"), (2, "scan part")])
    b1 = _docs(spark, [(3, "part filter")])
    sink(b0, 0)  # bootstrap through the staged swap
    _, _, m0 = read_retrieval_index(spark, idx)
    assert m0["n_docs"] == 2
    assert os.path.isfile(os.path.join(idx, "_applied", "epoch-0"))
    sink(b1, 1)
    _, _, m1 = read_retrieval_index(spark, idx)
    assert m1["n_docs"] == 3
    assert sorted(os.listdir(os.path.join(idx, "_applied"))) == [
        "epoch-0", "epoch-1",
    ]
    # checkpoint-recovery replay: SAME epoch id again — a no-op, even
    # though its doc_ids are already indexed (the marker check fires
    # BEFORE the duplicate-doc guard ever sees the batch)
    out = append_retrieval_index(
        b1, idx, batch_marker="epoch-1", bootstrap_seg_width=256
    )
    assert out.get("replayed_noop") is True
    _, _, m2 = read_retrieval_index(spark, idx)
    assert m2["n_docs"] == 3 and m2["postings_rows"] == m1["postings_rows"]
    # a NEW epoch with already-indexed docs is NOT a replay: refuse
    with pytest.raises(ValueError, match="already indexed"):
        sink(b1, 2)


def test_marker_commits_with_the_swap(spark, tmp_path, monkeypatch):
    """Kill the append between staging completion and promotion: the
    live index must show NEITHER the batch's data NOR its marker (one
    rename commits both), and the re-run must complete cleanly."""
    idx = str(tmp_path / "ridx")
    sink = index_stream_sink(idx, seg_width=256)
    sink(_docs(spark, [(1, "part filter")]), 0)

    def crash_swap(staging, target):
        raise RuntimeError("simulated crash before promotion")

    import ir_analyses_spark.io.sinks as sinks

    monkeypatch.setattr(sinks, "_swap_in", crash_swap)
    # retrieval imports _swap_in inside the function body, so the
    # monkeypatched module attribute is what it resolves
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(_docs(spark, [(2, "scan part")]), 1)
    monkeypatch.undo()
    _, _, m = read_retrieval_index(spark, idx)
    assert m["n_docs"] == 1                      # data not committed
    assert not os.path.isfile(os.path.join(idx, "_applied", "epoch-1"))
    # the re-run (same epoch, fresh process) completes: marker absent
    # from the LIVE index, so it is not treated as a replay
    sink(_docs(spark, [(2, "scan part")]), 1)
    _, _, m2 = read_retrieval_index(spark, idx)
    assert m2["n_docs"] == 2
    assert os.path.isfile(os.path.join(idx, "_applied", "epoch-1"))


def test_marker_name_validated(spark, tmp_path):
    idx = str(tmp_path / "ridx")
    with pytest.raises(ValueError, match="safe filename"):
        append_retrieval_index(
            _docs(spark, [(1, "a b")]), idx,
            batch_marker="../escape", bootstrap_seg_width=256,
        )


def test_stream_equals_batch_build(spark, tmp_path):
    """Three sink batches == one-shot build over the union (the
    append-==-rebuild identity carried through the streaming path),
    markers carried across every promotion."""
    from ir_analyses_spark.llm.retrieval import write_retrieval_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx, full = str(tmp_path / "inc"), str(tmp_path / "full")
    sink = index_stream_sink(idx, seg_width=256)
    for i in range(3):
        sink(docs.filter(f"doc_id % 3 = {i}"), i)
    want = write_retrieval_index(
        docs.select("doc_id", "text"), full, seg_width=256
    )
    pi, _, mi = read_retrieval_index(spark, idx)
    pf, _, mf = read_retrieval_index(spark, full)
    for k in ("n_docs", "t_tokens", "max_dl", "postings_rows", "seg_width"):
        assert mi[k] == mf[k] == want[k], k
    assert pi.exceptAll(pf).count() == 0 and pf.exceptAll(pi).count() == 0
    assert sorted(os.listdir(os.path.join(idx, "_applied"))) == [
        "epoch-0", "epoch-1", "epoch-2",
    ]
