"""DynPrunedLandmarkLabeling — incremental label repair on edge
insertion: queries from the repaired index equal BFS truth on the
edited graph AND a fresh static build (the reference contract;
label SETS may be supersets — the same documented substitution as the
batched static build)."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.dynpll import (
    pll_index,
    pll_index_query,
    update_pll,
)
from networkit_spark.session import local_frame


def _bfs_all(arcs, n, directed):
    adj = {}
    for u, v in arcs:
        adj.setdefault(u, []).append(v)
        if not directed:
            adj.setdefault(v, []).append(u)
    dist = {}
    for s in range(n):
        d, fr, lvl = {s: 0}, [s], 0
        while fr:
            lvl += 1
            nxt = []
            for u in fr:
                for v in adj.get(u, ()):
                    if v not in d:
                        d[v] = lvl
                        nxt.append(v)
            fr = nxt
        for v, dd in d.items():
            dist[(s, v)] = dd
    return dist


def _all_pairs(spark, n):
    return local_frame(
        spark, [(s, t) for s in range(n) for t in range(n)], "s long, t long"
    )


def _check(spark, index, arcs, n, directed):
    want = _bfs_all(arcs, n, directed)
    got = {
        (r["s"], r["t"]): r["dist"]
        for r in pll_index_query(index, _all_pairs(spark, n)).collect()
    }
    for s in range(n):
        for t in range(n):
            assert got.get((s, t)) == want.get((s, t)), (s, t, directed)


def test_dynpll_undirected_chained(spark):
    rng = random.Random(3)
    n = 24
    arcs = [(u, v) for u in range(n) for v in range(u + 1, n) if rng.random() < 0.09]
    g = Graph.from_pairs(spark, arcs, directed=False, n=n)
    idx = pll_index(g, batch_size=6)

    batch1 = [(0, n - 1), (3, 17)]
    g1, idx1 = update_pll(g, idx, local_frame(spark, batch1, "src long, dst long"))
    _check(spark, idx1, arcs + batch1, n, directed=False)

    batch2 = [(1, 20), (5, 23)]
    g2, idx2 = update_pll(g1, idx1, local_frame(spark, batch2, "src long, dst long"))
    _check(spark, idx2, arcs + batch1 + batch2, n, directed=False)


def test_dynpll_directed(spark):
    rng = random.Random(5)
    n = 18
    arcs = [
        (u, v) for u in range(n) for v in range(n) if u != v and rng.random() < 0.09
    ]
    g = Graph.from_pairs(spark, arcs, directed=True, n=n)
    idx = pll_index(g, batch_size=6)
    batch = [(0, n - 1), (n - 1, 0), (4, 11)]
    g1, idx1 = update_pll(g, idx, local_frame(spark, batch, "src long, dst long"))
    _check(spark, idx1, arcs + batch, n, directed=True)


def test_dynpll_connects_components(spark):
    # inserting a bridge creates brand-new finite distances
    arcs = [(0, 1), (1, 2), (3, 4), (4, 5)]
    g = Graph.from_pairs(spark, arcs, directed=False, n=6)
    idx = pll_index(g, batch_size=2)
    got0 = {
        (r["s"], r["t"]) for r in pll_index_query(idx, _all_pairs(spark, 6)).collect()
    }
    assert (0, 5) not in got0
    g1, idx1 = update_pll(
        g, idx, local_frame(spark, [(2, 3)], "src long, dst long")
    )
    _check(spark, idx1, arcs + [(2, 3)], 6, directed=False)


def test_dynpll_weighted_raises(spark):
    g = Graph.from_pairs(
        spark, [(0, 1, 2.0)], directed=False, n=2, weighted=True
    )
    with pytest.raises(ValueError):
        update_pll(
            g,
            _fake_index(g),
            local_frame(g.edges.sparkSession, [(0, 1)], "src long, dst long"),
        )


def _fake_index(g):
    from networkit_spark.operators.dynpll import PLLIndex

    empty = local_frame(g.edges.sparkSession, [], "id long, hub long, dist long")
    ranks = local_frame(g.edges.sparkSession, [], "id long, rank long")
    return PLLIndex(ranks=ranks, labels_out=empty, labels_in=empty)
