"""Unit tests for exact fixed-point PageRank (operators/graph.py).
Cross-engine value parity lives in test_entry.py (g_pagerank oracle);
these check the iteration math against a pure-Python replay on a
controlled graph, plus the structural rank properties.
"""

from __future__ import annotations

import pytest

from ocr_pipeline_spark.operators.graph import out_degrees, pagerank

# star-plus-chain: 1..4 all link to 0 (hub); 0 links to 1; 5 -> 6 chain
EDGES = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (5, 6), (1, 2)]


def _py_pagerank(edges, n_iters=3, damping_bp=8500):
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    deg: dict[int, int] = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    rank = {n: 10000 for n in nodes}
    for _ in range(n_iters):
        inc = {n: 0 for n in nodes}
        for u, v in edges:
            inc[v] += rank[u] // deg[u]
        rank = {
            n: (10000 - damping_bp) + (damping_bp * inc[n]) // 10000
            for n in nodes
        }
    return rank


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_matches_python_spec(spark, edges):
    want = _py_pagerank(EDGES)
    got = {r["node"]: r["rank_bp"] for r in pagerank(edges).collect()}
    assert got == want


def test_hub_ranks_highest(spark, edges):
    got = {r["node"]: r["rank_bp"] for r in pagerank(edges).collect()}
    assert got[0] == max(got.values())
    # 6 only receives from dangling-fed 5; 5 receives nothing
    assert got[5] == 1500 + (8500 * 0) // 10000  # base only after iter 1


def test_out_degrees_multiplicity(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "src long, dst long"
    )
    got = {r["node"]: r["outdeg"] for r in out_degrees(df).collect()}
    assert got == {1: 3}


def test_single_iteration_formula(spark, edges):
    want = _py_pagerank(EDGES, n_iters=1)
    got = {
        r["node"]: r["rank_bp"]
        for r in pagerank(edges, n_iters=1).collect()
    }
    assert got == want


def test_param_guards(spark, edges):
    with pytest.raises(ValueError, match="n_iters"):
        pagerank(edges, n_iters=0)


def test_deterministic_across_partitionings(spark, edges):
    a = pagerank(edges.repartition(1)).collect()
    b = pagerank(edges.repartition(7)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_connected_components_basic(spark):
    from ocr_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_chain_converges(spark):
    """A long path graph exercises pointer jumping (O(log diameter))."""
    from ocr_pipeline_spark.operators.graph import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = connected_components(edges).collect()
    assert len(got) == n + 1
    assert all(r["component"] == 0 for r in got)


def test_degree_distribution_counts(spark):
    from ocr_pipeline_spark.operators.graph import degree_distribution

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 3)], "src long, dst long"
    )
    got = {
        (r["direction"], r["degree"]): r["n_nodes"]
        for r in degree_distribution(edges).collect()
    }
    # out: node1 deg2; nodes 2,4 deg1. in: node3 deg3; node2 deg1.
    assert got == {
        ("out", 2): 1, ("out", 1): 2,
        ("in", 3): 1, ("in", 1): 1,
    }
    # mass conservation: sum(degree*n) equals |edges| per direction
    tot = {"in": 0, "out": 0}
    for (d, deg), n in got.items():
        tot[d] += deg * n
    assert tot == {"in": 4, "out": 4}
