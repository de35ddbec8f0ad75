"""Connected components: the driver union-find and the distributed
large/small-star rounds vs a Python DFS oracle on seeded random graphs
(SURVEY §2.5 L8)."""

import random

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.operators import components
from named_entity_algorithm_project_spark.operators.components import (
    connected_components,
)


def _dfs_components(nodes, edges):
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen, out = set(), {}
    for n in sorted(nodes):
        if n in seen:
            continue
        stack, comp = [n], []
        while stack:
            cur = stack.pop()
            if cur in seen:
                continue
            seen.add(cur)
            comp.append(cur)
            stack.extend(adj[cur])
        root = min(comp)
        for m in comp:
            out[m] = root
    return out


@pytest.fixture
def star_calls(monkeypatch):
    """Spy on the distributed rounds: one entry per `_star_labels` call."""
    calls = []
    real = components._star_labels

    def spy(edges):
        calls.append(edges)
        return real(edges)

    monkeypatch.setattr(components, "_star_labels", spy)
    return calls


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges",
    [(1, 30, 20), (2, 60, 80), (3, 100, 40), (4, 50, 35), (5, 80, 100)],
)
def test_random_graphs_match_dfs(
    spark, monkeypatch, star_calls, seed, n_nodes, n_edges
):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(n_nodes)]
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    expected = _dfs_components(nodes, edges)

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "norm string")
    edges_df = spark.createDataFrame(sorted(edges), "src string, dst string")
    # distributed star rounds (LOCAL_MAX_EDGES=0 disables the driver-side
    # union-find on any graph with an edge)
    with monkeypatch.context() as m:
        m.setattr(components, "LOCAL_MAX_EDGES", 0)
        got = {
            r["norm"]: r["component"]
            for r in connected_components(nodes_df, edges_df).collect()
        }
    assert got == expected
    assert len(star_calls) == 1
    # driver-side union-find path must agree exactly
    got_local = {
        r["norm"]: r["component"]
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got_local == expected
    assert len(star_calls) == 1  # the default leg labelled on the driver


def test_chain_graph_converges(spark, monkeypatch):
    # a long path graph stresses iteration count (diameter = n-1)
    n = 40
    nodes = [f"c{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    nodes_df = spark.createDataFrame([(x,) for x in nodes], "norm string")
    edges_df = spark.createDataFrame(edges, "src string, dst string")
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    got = connected_components(nodes_df, edges_df).collect()
    assert {r["component"] for r in got} == {nodes[0]}


def test_adversarial_long_chain_auto_fallback(spark, monkeypatch):
    """Diameter-120 path: the large/small-star rounds converge in O(log n)
    rounds, well inside STAR_MAX_ROUNDS, to the exact DFS labels."""
    n = 120
    nodes = [f"x{i:03d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    expected = _dfs_components(nodes, set(edges))
    nodes_df = spark.createDataFrame([(x,) for x in nodes], "norm string")
    edges_df = spark.createDataFrame(edges, "src string, dst string")
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    got = {
        r["norm"]: r["component"]
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == expected

    # too few rounds must raise, not silently return partial labels
    monkeypatch.setattr(components, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes_df, edges_df)


def test_singletons_preserved(spark):
    nodes_df = spark.createDataFrame([("a",), ("b",), ("c",)], "norm string")
    edges_df = spark.createDataFrame([], "src string, dst string")
    got = {r["norm"]: r["component"] for r in connected_components(nodes_df, edges_df).collect()}
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_hub_star_graph_distributed(spark, monkeypatch):
    # skew shape: one hub connected to 2000 spokes; the distributed path
    # must converge to the hub-component minimum
    hub = "hub"
    spokes = [f"spoke{i:05d}" for i in range(2000)]
    nodes_df = spark.createDataFrame(
        [(hub,)] + [(s,) for s in spokes], "norm string"
    )
    edges_df = spark.createDataFrame(
        [(hub, s) for s in spokes], "src string, dst string"
    )
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    got = connected_components(nodes_df, edges_df).collect()
    assert {r["component"] for r in got} == {"hub"}
    assert len(got) == 2001


def test_edge_volume_guard_forces_distributed(spark, monkeypatch, star_calls):
    """Few nodes, dense edges: a dense gated similarity graph over the edge
    bound must run distributed (and produce the DFS answer)."""
    import itertools

    nodes = [f"n{i}" for i in range(30)]
    edges = list(itertools.combinations(nodes, 2))  # 435 edges, one clique
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "norm string")
    edges_df = spark.createDataFrame(edges, "src string, dst string")
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 100)
    result = connected_components(nodes_df, edges_df)
    assert len(star_calls) == 1
    got = {r["norm"]: r["component"] for r in result.collect()}
    expected = _dfs_components(nodes, edges)
    assert got == expected
    assert set(got.values()) == {"n0"}


def test_many_singletons_label_on_driver(spark, star_calls):
    """The driver path gates on edges only: 200,001 nodes (formatted on the
    JVM, no Python rows) with ten edges label by union-find over the edge
    endpoints, and every other node labels itself."""
    n = 200_001
    nodes_df = spark.range(n).select(
        F.format_string("m%06d", F.col("id")).alias("norm")
    )
    # a chain, two triangles and a pair spanning the id range
    pairs = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (11, 12), (12, 10),
        (7, 8), (8, 9), (9, 7),
        (500, 199_999),
    ]
    edges = [(f"m{a:06d}", f"m{b:06d}") for a, b in pairs]
    edges_df = spark.createDataFrame(edges, "src string, dst string")
    rows = connected_components(nodes_df, edges_df).collect()
    assert star_calls == []
    got = {r["norm"]: r["component"] for r in rows}
    assert len(rows) == len(got) == n
    linked = {x for e in edges for x in e}
    assert all(got[k] == k for k in got.keys() - linked)
    assert {k: got[k] for k in linked} == _dfs_components(linked, edges)
