"""APSP / SPSP / MultiTargetBFS / GraphDistance / BidirectionalBFS —
parity against pure-Python BFS/Dijkstra oracles on random graphs, the
reference's unreachable-pair and negative-cycle contracts
(APSP.cpp:19-40, SPSP.cpp, BidirectionalBFS.cpp)."""

import heapq

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.apsp import (
    apsp,
    bidirectional_bfs,
    graph_distance,
    multi_target_bfs,
    spsp,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _adj(rows, directed):
    adj = {}
    for r in rows:
        adj.setdefault(r["src"], []).append((r["dst"], r["weight"]))
        if not directed:
            adj.setdefault(r["dst"], []).append((r["src"], r["weight"]))
    return adj


def _bfs_py(adj, s):
    dist, frontier, d = {s: 0}, [s], 0
    while frontier:
        d += 1
        nxt = []
        for u in frontier:
            for v, _ in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist

def _dijkstra_py(adj, s):
    dist, pq = {}, [(0.0, s)]
    while pq:
        d, u = heapq.heappop(pq)
        if u in dist:
            continue
        dist[u] = d
        for v, w in adj.get(u, ()):
            if v not in dist:
                heapq.heappush(pq, (d + w, v))
    return dist


def test_apsp_unweighted_directed(spark):  # noqa: F811
    edges = erdos_renyi(spark, 40, 0.08, seed=3, directed=True)
    g = Graph.from_edges(edges, directed=True, vertices=spark.range(40))
    adj = _adj(edges.collect(), directed=True)
    got = {(r["s"], r["id"]): r["dist"] for r in apsp(g).collect()}
    want = {}
    for s in range(40):
        for v, d in _bfs_py(adj, s).items():
            want[(s, v)] = d
    assert got == want


def test_spsp_weighted_matches_dijkstra(spark):  # noqa: F811
    edges = erdos_renyi(spark, 35, 0.12, seed=7).withColumn(
        "weight", (F.lit(1) + F.pmod(F.col("src") * 31 + F.col("dst") * 17, F.lit(5))).cast("double")
    )
    g = Graph.from_edges(edges, directed=False, weighted=True,
                         vertices=spark.range(35))
    adj = _adj(g.edges.collect(), directed=False)
    srcs = [0, 5, 11]
    got = {(r["s"], r["id"]): r["dist"] for r in spsp(g, srcs).collect()}
    want = {}
    for s in srcs:
        for v, d in _dijkstra_py(adj, s).items():
            want[(s, v)] = d
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def test_spsp_targets_and_multi_target(spark):  # noqa: F811
    edges = erdos_renyi(spark, 30, 0.15, seed=5)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(30))
    adj = _adj(edges.collect(), directed=False)
    tgts = [1, 2, 3, 29]
    res = {(r["s"], r["id"]): r["dist"]
           for r in spsp(g, [0, 4], tgts).collect()}
    assert all(t in tgts for (_, t) in res)
    w0 = _bfs_py(adj, 0)
    mt = {r["id"]: r["dist"] for r in multi_target_bfs(g, 0, tgts).collect()}
    assert mt == {t: w0[t] for t in tgts if t in w0}
    # graph_distance = the (u, v) scalar
    assert graph_distance(g, 0, 29) == (float(w0[29]) if 29 in w0 else None)


def test_negative_cycle_raises(spark):  # noqa: F811
    rows = [(0, 1, 1.0), (1, 2, -3.0), (2, 0, 1.0), (2, 3, 5.0)]
    edges = local_frame(spark, rows, "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=True, weighted=True,
                         vertices=spark.range(4))
    try:
        apsp(g, [0])
        assert False, "negative cycle must raise"
    except ValueError as e:
        assert "negative cycle" in str(e)


def test_bidirectional_bfs_parity(spark):  # noqa: F811
    for directed, seed in ((False, 2), (True, 9)):
        edges = erdos_renyi(spark, 45, 0.07, seed=seed, directed=directed)
        g = Graph.from_edges(edges, directed=directed, vertices=spark.range(45))
        adj = _adj(edges.collect(), directed=directed)
        for s, t in ((0, 44), (3, 21), (7, 7), (12, 30)):
            want = _bfs_py(adj, s).get(t)
            got = bidirectional_bfs(g, s, t)
            assert got == want, (directed, s, t, got, want)


def test_bidirectional_bfs_disconnected(spark):  # noqa: F811
    rows = [(0, 1, 1.0), (2, 3, 1.0)]
    edges = local_frame(spark, rows, "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(4))
    assert bidirectional_bfs(g, 0, 3) is None
    assert bidirectional_bfs(g, 0, 1) == 1


def test_reverse_bfs_directed(spark):  # noqa: F811
    from networkit_spark.graph import Graph
    from networkit_spark.operators.apsp import reverse_bfs

    # path 0 -> 1 -> 2 -> 3: reverse BFS from 3 reaches everyone
    e = local_frame(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edges(e, directed=True, vertices=spark.range(4))
    got = {r["id"]: r["dist"] for r in reverse_bfs(g, 3).collect()}
    assert got == {3: 0, 2: 1, 1: 2, 0: 3}
    # forward BFS from 3 reaches only itself
    from networkit_spark.operators.apsp import apsp

    fwd = {r["id"]: r["dist"] for r in apsp(g, [3]).collect()}
    assert fwd == {3: 0}


def test_bidirectional_dijkstra_parity(spark):  # noqa: F811
    from networkit_spark.operators.apsp import bidirectional_dijkstra

    for directed, seed in ((False, 4), (True, 11)):
        edges = erdos_renyi(
            spark, 40, 0.08, seed=seed, directed=directed
        ).withColumn(
            "weight",
            (F.lit(1) + F.pmod(
                F.col("src") * 31 + F.col("dst") * 17, F.lit(5)
            )).cast("double"),
        )
        g = Graph.from_edges(edges, directed=directed, weighted=True,
                             vertices=spark.range(40))
        adj = _adj(edges.collect(), directed=directed)
        for s, t in ((0, 39), (3, 21), (7, 7), (12, 30)):
            want = _dijkstra_py(adj, s).get(t)
            got = bidirectional_dijkstra(g, s, t)
            if want is None:
                assert got is None, (directed, s, t, got)
            else:
                assert got is not None and abs(got - want) < 1e-9, (
                    directed, s, t, got, want)


def test_bidirectional_dijkstra_disconnected(spark):  # noqa: F811
    from networkit_spark.operators.apsp import bidirectional_dijkstra

    rows = [(0, 1, 2.5), (2, 3, 1.5)]
    edges = local_frame(spark, rows, "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=False, weighted=True,
                         vertices=spark.range(4))
    assert bidirectional_dijkstra(g, 0, 3) is None
    assert bidirectional_dijkstra(g, 0, 1) == 2.5


def test_dijkstra_within_excluded_and_radius(spark):  # noqa: F811
    """IncompleteDijkstra.cpp contract: distances from a source set,
    excluded nodes never entered, results truncated at the radius."""
    from networkit_spark.operators.apsp import dijkstra_within

    edges = erdos_renyi(spark, 35, 0.1, seed=6).withColumn(
        "weight",
        (F.lit(1) + F.pmod(F.col("src") * 13 + F.col("dst") * 7,
                           F.lit(4))).cast("double"),
    )
    g = Graph.from_edges(edges, directed=False, weighted=True,
                         vertices=spark.range(35))
    excl = {3, 8, 20}
    adj = {}
    for r in edges.collect():
        u, v, w = r["src"], r["dst"], r["weight"]
        if u in excl or v in excl:
            continue
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    srcs = [0, 11]
    want_all = {}
    for s in srcs:
        if s in excl:
            continue
        for v, d in _dijkstra_py(adj, s).items():
            if v not in want_all or d < want_all[v]:
                want_all[v] = d
    for radius in (None, 4.0):
        excl_df = local_frame(spark, [(i,) for i in excl], "id long")
        got = {
            r["id"]: r["dist"]
            for r in dijkstra_within(g, srcs, radius=radius,
                                     excluded=excl_df).collect()
        }
        want = {v: d for v, d in want_all.items()
                if radius is None or d <= radius}
        assert got == want, (radius, got, want)


def test_dijkstra_within_excluded_source_dropped(spark):  # noqa: F811
    from networkit_spark.operators.apsp import dijkstra_within

    e = local_frame(spark, [(0, 1, 1.0), (1, 2, 1.0)],
                              "src long, dst long, weight double")
    g = Graph.from_edges(e, directed=False, weighted=True,
                         vertices=spark.range(3))
    excl = local_frame(spark, [(0,)], "id long")
    got = {r["id"]: r["dist"]
           for r in dijkstra_within(g, [0, 2], excluded=excl).collect()}
    assert got == {2: 0.0, 1: 1.0}
