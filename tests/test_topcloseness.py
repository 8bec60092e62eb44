"""Top-k closeness (NBcut pruned search) vs the full exact ranking from
closeness_centrality / harmonic_closeness — same top-k set, scores, and
(rounded-score, id) tie order. TopCloseness.cpp:182-260 contract: the
pruned search is EXACT."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import (
    closeness_centrality,
    harmonic_closeness,
)
from networkit_spark.operators.topcloseness import top_closeness
from networkit_spark.session import local_frame


def _full_topk(df, k, ascending_far=False):
    rows = [(r["id"], round(r["score"], 9)) for r in df.collect()]
    rows.sort(key=lambda t: (-t[1], t[0]))
    return rows[:k]


def _graph(spark, edges, extra_nodes=()):
    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges], directed=False)
    if extra_nodes:
        g = g.add_nodes(local_frame(spark, [(int(x),) for x in extra_nodes],
                                              "id long"))
    return g


def _connected_gnp(seed, n=40, p=0.09):
    rng = random.Random(seed)
    while True:
        edges = sorted({(i, j) for i in range(n) for j in range(i + 1, n)
                        if rng.random() < p})
        # connectivity check
        adj = {i: set() for i in range(n)}
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        seen, todo = {0}, [0]
        while todo:
            u = todo.pop()
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    todo.append(w)
        if len(seen) == n:
            return edges


@pytest.mark.parametrize("seed", [3, 11])
def test_standard_topk_matches_full(spark, seed):
    edges = _connected_gnp(seed)
    g = _graph(spark, edges)
    got = [(r["id"], r["score"]) for r in top_closeness(g, k=8).collect()]
    want = _full_topk(closeness_centrality(g), 8)
    assert got == want


def test_harmonic_topk_matches_full(spark):
    edges = _connected_gnp(5)
    g = _graph(spark, edges)
    got = [(r["id"], r["score"]) for r in
           top_closeness(g, k=6, harmonic=True).collect()]
    want = _full_topk(harmonic_closeness(g), 6)
    assert got == want


def test_reactivation_with_zero_slack(spark):
    # Barbell: hub 0 has max degree but sits inside one clique; the path
    # nodes have tiny degree. slack=0 forces the candidate set to be
    # degree-only — exactness must come from the reactivation loop.
    clique1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    clique2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    path = [(4, 7), (7, 8), (8, 10)]
    edges = clique1 + clique2 + path
    g = _graph(spark, edges)
    got = [(r["id"], r["score"]) for r in
           top_closeness(g, k=4, slack=0).collect()]
    want = _full_topk(closeness_centrality(g), 4)
    assert got == want


def test_disconnected_standard_raises(spark):
    g = _graph(spark, [(0, 1), (2, 3)])
    with pytest.raises(ValueError):
        top_closeness(g, k=2)


def test_disconnected_harmonic_ok(spark):
    g = _graph(spark, [(0, 1), (1, 2), (0, 2), (5, 6)])
    got = [(r["id"], r["score"]) for r in
           top_closeness(g, k=3, harmonic=True).collect()]
    want = _full_topk(harmonic_closeness(g), 3)
    assert got == want
