"""llm/clf_gate.py: the quantized classifier gate — score agreement
with an independent Python model, plan shape (pure projection), and
artifact sanity (the trained weights separate the two vocabularies)."""

from __future__ import annotations

from ir_analyses_spark.llm.clf_gate import (
    _INTERCEPT_MILLIONTHS,
    _WEIGHTS_MILLIONTHS,
    N_BUCKETS,
    score_gate_df,
)
from ir_analyses_spark.llm.porthash import port_hash_py


def _py_bucket(tok: str) -> int:
    return port_hash_py(tok, 8) % N_BUCKETS


def _py_score(text: str) -> int:
    s = _INTERCEPT_MILLIONTHS
    for tok in text.lower().split():
        s += _WEIGHTS_MILLIONTHS[_py_bucket(tok)]
    return s


def test_scores_match_python_model(spark):
    rows = [
        (0, "table query join agg sort window data merge"),
        (1, "click free win offer buy now cheap deal spam"),
        (2, ""),                       # empty -> intercept alone
        (3, "   "),                    # whitespace only
        (4, "UPPER Case MiXeD table JOIN"),  # lowercasing
        (5, "antidisestablishmentarianism " * 3),  # >8-char tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["score_millionths"], r["kept"])
           for r in score_gate_df(docs).collect()}
    for doc_id, text in rows:
        want = _py_score(text)
        assert got[doc_id] == (want, want >= 0), (doc_id, text)
    # the artifact separates the vocabularies it was trained on
    assert got[0][1] is True
    assert got[1][1] is False
    # empty docs fall to the intercept
    assert got[2][0] == _INTERCEPT_MILLIONTHS == got[3][0]


def test_scoring_plan_is_a_pure_projection(spark):
    """The gate must stay a map-only projection — no Exchange, no Join,
    no Generate; the weight table lives in the plan."""
    docs = spark.createDataFrame(
        [(0, "table query")], "doc_id long, text string"
    )
    plan = score_gate_df(docs)._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "Generate", "ArrowEval", "BatchEvalPython"):
        assert op not in plan, (op, plan)


def test_weight_table_shape():
    assert len(_WEIGHTS_MILLIONTHS) == N_BUCKETS
    nonzero = sum(1 for w in _WEIGHTS_MILLIONTHS if w)
    # both signs present (ref-like and crawl-like tokens), sparse table
    assert any(w > 0 for w in _WEIGHTS_MILLIONTHS)
    assert any(w < 0 for w in _WEIGHTS_MILLIONTHS)
    assert 2 <= nonzero <= N_BUCKETS


def test_null_text_matches_oracle(spark):
    """Review-caught: NULL text must score like empty text (intercept
    alone) in BOTH engines — without the coalesce, Spark yielded
    (NULL, NULL) while the oracle's LEFT JOIN + COALESCE yielded
    (intercept, false)."""
    import duckdb

    from ir_analyses_spark.llm.clf_gate import GATE_SQL

    rows = [(0, "table query join"), (1, None), (2, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["score_millionths"], r["kept"])
        for r in score_gate_df(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {d: (s, k) for d, s, k in con.execute(GATE_SQL).fetchall()}
    assert got == want
    assert got[1] == (_INTERCEPT_MILLIONTHS, False)


def test_vertical_tab_tokenizes_identically_cross_engine(spark):
    """Review-caught: Java's \\s includes \\x0B but RE2's does not, so
    a bare \\s+ tokenized vertical-tab text differently per engine.
    Both sides now use the explicit class; pin the agreement."""
    import duckdb

    from ir_analyses_spark.llm.clf_gate import GATE_SQL

    rows = [(0, "table\x0bquery join"), (1, "click\x0b\x0bfree win")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["score_millionths"], r["kept"])
        for r in score_gate_df(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {d: (s, k) for d, s, k in con.execute(GATE_SQL).fetchall()}
    assert got == want
    # and the split is real: 'table' et al. hash as separate tokens
    assert got[0] == (_py_score("table query join"), True)
