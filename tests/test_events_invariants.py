"""Semantic invariants for the funnel/cohort analytics and the directional
containment dedup — properties the oracle equality alone doesn't spell out."""

from __future__ import annotations

import pytest

from ir_analyses_spark.ops.events import funnel_conversion, cohort_retention
from ir_analyses_spark.llm.dedup import containment_nearup, ngram_jaccard_nearup


def test_funnel_steps_strictly_ordered(spark, sf_dir):
    """Whenever a later step is present, its timestamp is strictly after
    the previous step's (the strict-sequence semantics the docstring
    promises), and a step can only be present if the previous one is."""
    rows = funnel_conversion(spark, sf_dir).collect()
    assert rows, "funnel produced no users"
    for r in rows:
        if r.t_click is not None:
            assert r.t_view is not None and r.t_click > r.t_view
        if r.t_purchase is not None:
            assert r.t_click is not None and r.t_purchase > r.t_click


def test_cohort_day_zero_is_complete(spark, sf_dir):
    """Every cohort retains 100% of itself at offset 0 (each user is
    active on their own first day, by construction of the cohort)."""
    rows = cohort_retention(spark, sf_dir).collect()
    day0 = {r.cohort_day: r for r in rows if r.day_offset == 0}
    cohorts = {r.cohort_day for r in rows}
    assert set(day0) == cohorts
    for r in day0.values():
        assert r.active_users == r.cohort_users and r.retention == 1.0
    # offsets never negative: nothing is active before its first day
    assert min(r.day_offset for r in rows) == 0


def test_containment_dominates_jaccard(spark, sf_dir):
    """For any ordered pair, containment(src→dst) ≥ jaccard(src,dst):
    c/|A| ≥ c/|A∪B|. So every jaccard>0.8 pair whose containment the
    directional query reports must score at least that jaccard — and the
    near-subset pairs it uniquely finds are allowed to be jaccard-invisible."""
    jac = {
        (r.d1, r.d2): r.jac
        for r in ngram_jaccard_nearup(spark, sf_dir).collect()
    }
    cont = {
        (r.src, r.dst): r.containment
        for r in containment_nearup(spark, sf_dir).collect()
    }
    assert cont, "containment produced no pairs"
    for (d1, d2), j in jac.items():
        for key in [(d1, d2), (d2, d1)]:
            if key in cont:
                assert cont[key] >= j - 1e-12


def test_transition_matrix_rows_normalize(spark):
    """Each prev_type's outgoing probabilities must sum to 1 (exact-int
    numerators over their own total)."""
    from collections import defaultdict

    from ir_analyses_spark.ops.events import event_transition_matrix

    rows = event_transition_matrix(spark, "/root/testdata/sf0.001").collect()
    by_prev = defaultdict(float)
    for r in rows:
        assert 0.0 < r["p"] <= 1.0
        by_prev[r["prev_type"]] += r["p"]
    assert by_prev
    for prev, tot in by_prev.items():
        assert abs(tot - 1.0) < 1e-9, prev


def test_rfm_tiles_bounded_and_cover_users(spark):
    """Every tile is 1..4 and segment user counts sum to the number of
    distinct users."""
    from ir_analyses_spark.io.sources import load_table
    from ir_analyses_spark.ops.events import user_rfm_segments

    sf = "/root/testdata/sf0.001"
    rows = user_rfm_segments(spark, sf).collect()
    for r in rows:
        assert 1 <= r["r_tile"] <= 4
        assert 1 <= r["f_tile"] <= 4
        assert 1 <= r["m_tile"] <= 4
    n_users = (
        load_table(spark, "events", sf).select("user_id").distinct().count()
    )
    assert sum(r["n_users"] for r in rows) == n_users


def test_pagerank_mass_conserved_no_dangling(spark):
    """On a graph where every node has out-edges (sf0.01: all 25 nations
    ship), total rank mass stays 1 per iteration — teleport + damped
    inflow redistributes, never leaks."""
    from ir_analyses_spark.ops.graph import trade_pagerank

    rows = trade_pagerank(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 25
    assert all(r["rank"] > 0 for r in rows)
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6


def _py_pagerank(nodes, edges, n_iter=3, damping=0.85):
    """Pure-Python twin of ops.graph.pagerank with matching arithmetic:
    float ratio/multiply per edge, DECIMAL(38,18)-quantized associative
    fold (Decimal(repr(x)) == the JVM's BigDecimal.valueOf shortest-repr
    conversion), float teleport+damp combine."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-18)
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    ratio = [(s, d, w / out_w[s]) for s, d, w in edges]
    rank = {n: 1.0 / len(nodes) for n in nodes}
    teleport = (1.0 - damping) / len(nodes)
    for _ in range(n_iter):
        inflow = {}
        for s, d, r in ratio:
            term = Decimal(repr(rank[s] * r)).quantize(q, ROUND_HALF_UP)
            inflow[d] = inflow.get(d, Decimal(0)) + term
        rank = {
            n: teleport + damping * float(inflow.get(n, Decimal(0)))
            for n in nodes
        }
    return rank


@pytest.mark.parametrize("seed", [1, 7, 42, 1234])
def test_pagerank_matches_python_model_on_random_graphs(spark, seed):
    """Differential check of the generic pagerank operator on randomized
    graphs (including dangling nodes and isolated nodes) against a
    pure-Python implementation of the same arithmetic."""
    import random

    from ir_analyses_spark.ops.graph import pagerank

    rng = random.Random(seed)
    n = rng.randint(3, 8)
    nodes = [f"n{i}" for i in range(n)]
    edges = [
        (a, b, rng.randint(1, 5))
        for a in nodes
        for b in nodes
        if a != b and rng.random() < 0.4
    ]
    if not edges:
        edges = [(nodes[0], nodes[1], 1)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame([(x,) for x in nodes], "node string"),
            spark.createDataFrame(edges, "src string, dst string, w long"),
        ).collect()
    }
    want = _py_pagerank(nodes, edges)
    assert set(got) == set(want)
    for node in nodes:
        assert abs(got[node] - want[node]) < 1e-9, (node, got[node], want[node])
        assert got[node] >= 0.15 / n - 1e-9  # teleport floor
