"""Connected components: both CC operators must agree with an exact
union-find on arbitrary graphs — including the high-diameter shapes (paths,
chains) where connected_components' label propagation hits its round cap and
hands over to the O(log n) star algorithm."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from iceberg_benchmark_poc_spark.operators.graph import (
    MAX_LP_ROUNDS,
    connected_components,
    connected_components_star,
)

#: every CC test runs against both operators
CC_FUNCTIONS = pytest.mark.parametrize(
    "cc", [connected_components, connected_components_star], ids=lambda f: f.__name__
)

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    return {x: find(x) for x in parent}


def _run(spark, cc, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r["node"]: r["component"] for r in cc(df).collect()}


@CC_FUNCTIONS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
@settings(**SETTINGS)
def test_cc_matches_union_find(spark, cc, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    assert _run(spark, cc, edges) == union_find(edges)


@CC_FUNCTIONS
def test_cc_on_a_path_graph(spark, cc):
    """Worst case for label propagation (diameter = n): the path needs more
    rounds than MAX_LP_ROUNDS, so connected_components must fall back to the
    star algorithm and still resolve the whole chain to component 0."""
    n = 33
    assert n > MAX_LP_ROUNDS
    got = _run(spark, cc, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


@CC_FUNCTIONS
def test_cc_on_disjoint_cliques(spark, cc):
    edges = []
    for base in (0, 100, 200):
        nodes = [base + i for i in range(4)]
        edges += [(a, b) for a in nodes for b in nodes if a < b]
    got = _run(spark, cc, edges)
    for base in (0, 100, 200):
        for i in range(4):
            assert got[base + i] == base


@CC_FUNCTIONS
def test_cc_on_a_hub_with_a_tail(spark, cc):
    """One node of degree 2,000 (its adjacency is a single array row of the
    label-propagation state) plus a ten-edge tail path hanging off it."""
    hub = 10_000
    edges = [(hub, leaf) for leaf in range(1, 2_001)]
    edges += [(hub + i, hub + i + 1) for i in range(10)]
    assert _run(spark, cc, edges) == union_find(edges)


def test_cc_stops_after_one_round_at_a_round_0_fixed_point(spark, monkeypatch):
    """Disjoint cliques: every node is adjacent to its component's minimum,
    so the state built in round 0 is already the answer. One propagation
    round, and its one convergence fold, prove it; the star algorithm never
    runs."""
    from iceberg_benchmark_poc_spark.operators import graph

    rounds, star_calls = [], []
    real_propagate = graph._propagate

    def propagate(state):
        rounds.append(state)
        return real_propagate(state)

    monkeypatch.setattr(graph, "_propagate", propagate)
    monkeypatch.setattr(graph, "connected_components_star", star_calls.append)
    edges = []
    for base in (0, 100, 200):
        nodes = [base + i for i in range(5)]
        edges += [(a, b) for a in nodes for b in nodes if a < b]
    got = _run(spark, graph.connected_components, edges)
    assert got == union_find(edges)
    assert len(rounds) == 1
    assert star_calls == []


# ---------------------------------------------------------------------------
# bfs_distances (q_khop's engine): exact min-hop distances
# ---------------------------------------------------------------------------

from collections import deque

from iceberg_benchmark_poc_spark.operators.graph import bfs_distances


def python_bfs(edges: list[tuple[int, int]], seeds: set[int], hops: int) -> dict[int, int]:
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _run_bfs(spark, edges, seeds, hops):
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node bigint")
    return {r["node"]: r["dist"] for r in bfs_distances(edf, sdf, hops).collect()}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=50
    ),
    seeds=st.sets(st.integers(0, 30), min_size=1, max_size=4),
    hops=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_bfs_matches_reference(spark, edges, seeds, hops):
    """Distances agree with a textbook queue BFS on arbitrary directed
    graphs, seed sets, and radii — including seeds absent from the graph
    (dist 0 rows) and duplicate/self edges."""
    assert _run_bfs(spark, edges, seeds, hops) == python_bfs(edges, seeds, hops)


def test_bfs_on_a_directed_path(spark):
    """A path graph yields dist = index up to the radius, nothing beyond."""
    n, hops = 12, 5
    got = _run_bfs(spark, [(i, i + 1) for i in range(n)], {0}, hops)
    assert got == {i: i for i in range(hops + 1)}


def test_bfs_commits_shortest_path_on_diamonds(spark):
    """A node reachable at hop 1 AND hop 2 must report 1 (BFS optimality,
    the property the anti-join pruning relies on)."""
    edges = [(0, 1), (0, 2), (2, 1), (1, 3), (2, 3)]
    got = _run_bfs(spark, edges, {0}, 3)
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}
