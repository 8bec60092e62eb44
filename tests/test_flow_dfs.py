"""EdmondsKarp max-flow + DFS traversal tests.

Flow fixtures are the reference's own (EdmondsKarpGTest.cpp:18-80):
exact max-flow values, cut-edge flows, and source sets. DFS is checked
against an independent replica of DFS.hpp's stack algorithm and a
Brandes-style random sweep vs a pure-Python oracle.
"""

import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.flow import max_flow
from networkit_spark.operators.traversal import dfs_edges_from, dfs_from
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def test_edmonds_karp_p1_unweighted_undirected(spark):  # noqa: F811
    # EdmondsKarpGTest.cpp:18-45
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 4), (2, 3), (2, 4),
             (3, 4), (3, 5), (4, 6), (5, 6)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=7)
    res = max_flow(g, 0, 6)
    assert res.value == pytest.approx(2.0)
    flows = {(r["src"], r["dst"]): r["flow"] for r in res.flows.collect()}
    assert flows.get((4, 6), 0.0) == pytest.approx(1.0)
    assert flows.get((5, 6), 0.0) == pytest.approx(1.0)
    src_set = {r["id"] for r in res.source_set.collect()}
    assert src_set == {0, 1, 2, 3, 4}


def test_edmonds_karp_p2_weighted_directed(spark):  # noqa: F811
    # EdmondsKarpGTest.cpp:47-64
    pairs = [(0, 1, 5), (0, 2, 15), (1, 3, 5), (1, 4, 5), (2, 3, 5),
             (2, 4, 5), (3, 5, 15), (4, 5, 5)]
    g = Graph.from_pairs(spark, pairs, directed=True, n=6, weighted=True)
    res = max_flow(g, 0, 5)
    assert res.value == pytest.approx(15.0)


def test_edmonds_karp_p3_directed_unweighted(spark):  # noqa: F811
    # EdmondsKarpGTest.cpp:66-80
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    g = Graph.from_pairs(spark, pairs, directed=True, n=5)
    res = max_flow(g, 0, 4)
    assert res.value == pytest.approx(1.0)
    src_set = {r["id"] for r in res.source_set.collect()}
    assert src_set == {0, 1, 2, 3}


def _py_max_flow(pairs, n, s, t, directed):
    """Independent dense Edmonds-Karp oracle."""
    cap = {}
    for p in pairs:
        u, v = p[0], p[1]
        w = p[2] if len(p) > 2 else 1.0
        cap[(u, v)] = cap.get((u, v), 0.0) + w
        if not directed:
            cap[(v, u)] = cap.get((v, u), 0.0) + w
    flow = {k: 0.0 for k in cap}
    adj = {}
    for (u, v) in cap:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    total = 0.0
    while True:
        pred = {s: s}
        gain = {s: float("inf")}
        queue = [s]
        while queue and t not in pred:
            u = queue.pop(0)
            for v in sorted(adj.get(u, ())):
                r = cap.get((u, v), 0.0) - flow.get((u, v), 0.0) + flow.get((v, u), 0.0)
                if v not in pred and r > 0:
                    pred[v] = u
                    gain[v] = min(gain[u], r)
                    queue.append(v)
        if t not in pred:
            return total
        b = gain[t]
        cur = t
        while cur != s:
            u = pred[cur]
            back = flow.get((cur, u), 0.0)
            if back >= b:
                flow[(cur, u)] = back - b
            else:
                flow[(u, cur)] = flow.get((u, cur), 0.0) + b - back
                flow[(cur, u)] = 0.0
            cur = u
        total += b


def test_edmonds_karp_random_parity(spark):  # noqa: F811
    rnd = random.Random(7)
    n = 12
    pairs = []
    for u in range(n):
        for v in range(n):
            if u != v and rnd.random() < 0.25:
                pairs.append((u, v, float(rnd.randint(1, 5))))
    g = Graph.from_edges(
        local_frame(spark, pairs, "src long, dst long, weight double"),
        directed=True, weighted=True, vertices=spark.range(n),
    )
    want = _py_max_flow(pairs, n, 0, n - 1, directed=True)
    got = max_flow(g, 0, n - 1)
    assert got.value == pytest.approx(want)
    # min-cut capacity across the returned source set == flow value
    src_set = {r["id"] for r in got.source_set.collect()}
    cut = sum(w for (u, v, w) in pairs if u in src_set and v not in src_set)
    assert cut == pytest.approx(got.value)


def _py_dfs(pairs, n, source, directed):
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        if not directed:
            adj.setdefault(v, set()).add(u)
    marked = {source}
    stack = [source]
    order = []
    while stack:
        u = stack.pop()
        order.append(u)
        for v in sorted(adj.get(u, ())):
            if v not in marked:
                stack.append(v)
                marked.add(v)
    return order


def test_dfs_matches_reference_algorithm(spark):  # noqa: F811
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (6, 7)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=8)
    got = {
        r["dfs_order"]: r["id"]
        for r in dfs_from(g, 0).collect()
    }
    order = [got[i] for i in range(len(got))]
    assert order == _py_dfs(pairs, 8, 0, directed=False)
    # node 6,7 unreachable from 0 → absent
    assert 6 not in order and 7 not in order


def test_dfs_random_parity(spark):  # noqa: F811
    rnd = random.Random(3)
    n = 30
    pairs = list({(rnd.randrange(n), rnd.randrange(n)) for _ in range(80)})
    pairs = [(u, v) for u, v in pairs if u != v]
    g = Graph.from_edges(
        local_frame(spark, pairs, "src long, dst long"),
        directed=True, vertices=spark.range(n),
    )
    got = {r["dfs_order"]: r["id"] for r in dfs_from(g, 0).collect()}
    order = [got[i] for i in range(len(got))]
    assert order == _py_dfs(pairs, n, 0, directed=True)


def test_dfs_edges_tree(spark):  # noqa: F811
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=4)
    edges = [
        (r["src"], r["dst"])
        for r in dfs_edges_from(g, 0).orderBy("visit_order").collect()
    ]
    # DFS tree reaches every node exactly once
    assert len(edges) == 3
    seen = {0}
    for u, v in edges:
        assert u in seen and v not in seen
        seen.add(v)
    assert seen == {0, 1, 2, 3}
