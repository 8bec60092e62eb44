"""Pruned landmark labeling — exact-query parity with BFS distances on
random graphs (undirected + directed), pruning effectiveness, and
batch-size invariance (the batched substitution changes label SIZE,
never query answers)."""

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.pll import (
    pll_query,
    pruned_landmark_labeling,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _bfs_all(rows, n, directed):
    adj = {}
    for r in rows:
        adj.setdefault(r["src"], []).append(r["dst"])
        if not directed:
            adj.setdefault(r["dst"], []).append(r["src"])
    dist = {}
    for s in range(n):
        d, frontier, lvl = {s: 0}, [s], 0
        while frontier:
            lvl += 1
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in d:
                        d[v] = lvl
                        nxt.append(v)
            frontier = nxt
        for v, dd in d.items():
            dist[(s, v)] = dd
    return dist


def _pairs_df(spark, n):
    return local_frame(
        spark, [(s, t) for s in range(0, n, 3) for t in range(0, n, 4)],
        "s long, t long",
    )


def test_pll_undirected_exact(spark):  # noqa: F811
    n = 40
    edges = erdos_renyi(spark, n, 0.07, seed=6)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    want = _bfs_all(edges.collect(), n, directed=False)
    labels = pruned_landmark_labeling(g, batch_size=8)
    got = {
        (r["s"], r["t"]): r["dist"]
        for r in pll_query(labels, labels, _pairs_df(spark, n)).collect()
    }
    for s in range(0, n, 3):
        for t in range(0, n, 4):
            assert got.get((s, t)) == want.get((s, t)), (s, t)
    # pruning actually prunes: the full BFS closure has one entry per
    # reachable (hub, node) pair; PLL must store strictly fewer
    assert labels.count() < len(want)


def test_pll_directed_exact(spark):  # noqa: F811
    n = 30
    edges = erdos_renyi(spark, n, 0.08, seed=11, directed=True)
    g = Graph.from_edges(edges, directed=True, vertices=spark.range(n))
    want = _bfs_all(edges.collect(), n, directed=True)
    labels_out, labels_in = pruned_landmark_labeling(g, batch_size=8)
    got = {
        (r["s"], r["t"]): r["dist"]
        for r in pll_query(labels_in, labels_out, _pairs_df(spark, n)).collect()
    }
    for s in range(0, n, 3):
        for t in range(0, n, 4):
            assert got.get((s, t)) == want.get((s, t)), (s, t)


def test_pll_batch_size_invariance(spark):  # noqa: F811
    n = 25
    edges = erdos_renyi(spark, n, 0.12, seed=4)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    pairs = _pairs_df(spark, n)
    l1 = pruned_landmark_labeling(g, batch_size=1)
    l2 = pruned_landmark_labeling(g, batch_size=64)
    q1 = {(r["s"], r["t"]): r["dist"]
          for r in pll_query(l1, l1, pairs).collect()}
    q2 = {(r["s"], r["t"]): r["dist"]
          for r in pll_query(l2, l2, pairs).collect()}
    assert q1 == q2
    # sequential batches prune at least as hard as one giant batch
    assert l1.count() <= l2.count()


def test_pll_directed_regression_one_sided_pruning(spark):  # noqa: F811
    # Found by randomized search (round 3): with one-sided pruning the
    # directed build over-prunes and query(6, 11) returns 4 instead of
    # the true 3. The directed build must prune with the OPPOSITE index
    # on the root leg (d(r->h) + d(h->w) <= level).
    arcs = [(0, 2), (0, 11), (1, 3), (2, 1), (2, 9), (3, 0), (3, 6),
            (3, 9), (4, 0), (4, 2), (4, 7), (4, 11), (6, 2), (6, 3),
            (6, 8), (7, 6), (8, 7), (9, 1), (9, 3), (9, 4), (9, 8),
            (9, 10), (10, 0), (10, 5), (11, 1), (11, 2), (11, 4),
            (11, 5), (11, 6), (11, 9)]
    n = 12
    g = Graph.from_pairs(spark, arcs, directed=True, n=n)
    want = _bfs_all(
        [{"src": u, "dst": v} for u, v in arcs], n, directed=True
    )
    labels_out, labels_in = pruned_landmark_labeling(g, batch_size=4)
    got = {
        (r["s"], r["t"]): r["dist"]
        for r in pll_query(
            labels_in, labels_out,
            local_frame(
                spark, [(s, t) for s in range(n) for t in range(n)], "s long, t long"
            ),
        ).collect()
    }
    for s in range(n):
        for t in range(n):
            assert got.get((s, t)) == want.get((s, t)), (s, t)
