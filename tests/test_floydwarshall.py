"""Floyd–Warshall parity against a pure-Python replica of the
REFERENCE algorithm (FloydWarshall.cpp run() + tagNegativeCycles(),
including the equal-distance fewer-hops tie-break), on random weighted
digraphs with and without negative cycles."""

import math

from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.floydwarshall import floyd_warshall
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401

INF = float("inf")


def _fw_reference(n, arcs):
    """Line-for-line semantic replica of FloydWarshall.cpp:38-86 +
    tagNegativeCycles():18-36 (exact arithmetic — weights are ints)."""
    dist = [[INF] * n for _ in range(n)]
    hops = [[None] * n for _ in range(n)]
    tagged = [0] * n
    for u in range(n):
        dist[u][u] = 0.0
        hops[u][u] = 0
    for u, v, w in arcs:
        if u != v and w < dist[u][v]:
            dist[u][v] = float(w)
            hops[u][v] = 1
    for k in range(n):
        for u in range(n):
            if dist[u][k] == INF:
                continue
            for v in range(n):
                if dist[k][v] == INF:
                    continue
                cd = dist[u][k] + dist[k][v]
                ch = hops[u][k] + hops[k][v]
                if cd < dist[u][v]:
                    dist[u][v] = cd
                    hops[u][v] = ch
                elif cd == dist[u][v] and ch < hops[u][v]:
                    hops[u][v] = ch
    for w in range(n):
        if dist[w][w] >= 0.0:
            continue
        tagged[w] = 1
        for u in range(n):
            if dist[u][w] == INF:
                continue
            for v in range(n):
                if dist[w][v] != INF:
                    tagged[u] = 1
                    tagged[v] = 1
                    dist[u][v] = -INF
    return dist, hops, tagged


def _random_arcs(n, density, seed, wmin, wmax):
    arcs = []
    span = wmax - wmin + 1
    for u in range(n):
        for v in range(n):
            if u == v:
                continue
            h = (u * 2654435761 + v * 40503 + seed * 97) % 1_000_000_007
            if h % 1000 < density * 1000:
                arcs.append((u, v, wmin + (h // 7) % span))
    return arcs


def _run_spark(spark, n, arcs, directed=True):
    edges = local_frame(
        spark, [(u, v, float(w)) for u, v, w in arcs], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges, directed=directed, weighted=True,
                         vertices=spark.range(n))
    dists, neg = floyd_warshall(g)
    got = {(r["u"], r["v"]): (r["dist"], r["hops"]) for r in dists.collect()}
    return got, {r["id"] for r in neg.collect()}


def _check(got, neg_got, dist, hops, tagged, n):
    for u in range(n):
        for v in range(n):
            if dist[u][v] == INF:
                assert (u, v) not in got, (u, v)
            elif dist[u][v] == -INF:
                assert got[(u, v)][0] == -INF, (u, v, got.get((u, v)))
            else:
                d, h = got[(u, v)]
                assert abs(d - dist[u][v]) < 1e-9, (u, v)
                assert h == hops[u][v], (u, v, h, hops[u][v])
    assert neg_got == {i for i in range(n) if tagged[i]}


def test_fw_positive_weights(spark):  # noqa: F811
    n, arcs = 18, _random_arcs(18, 0.15, seed=3, wmin=1, wmax=5)
    dist, hops, tagged = _fw_reference(n, arcs)
    got, neg = _run_spark(spark, n, arcs)
    assert not any(tagged)
    _check(got, neg, dist, hops, tagged, n)


def test_fw_negative_weights_no_cycle(spark):  # noqa: F811
    # a DAG with negative weights: layered edges only go forward
    arcs = [(u, v, ((u * 7 + v * 13) % 9) - 3)
            for u in range(12) for v in range(u + 1, 12)
            if (u * 31 + v * 17) % 3 == 0]
    dist, hops, tagged = _fw_reference(12, arcs)
    assert not any(tagged)
    got, neg = _run_spark(spark, 12, arcs)
    _check(got, neg, dist, hops, tagged, 12)


def test_fw_negative_cycle_tagging(spark):  # noqa: F811
    # base graph + a planted negative cycle 3→4→5→3, plus a feeder 0→3
    # and an escape 5→9 — tagging must close over reach/reached-by
    arcs = _random_arcs(10, 0.1, seed=5, wmin=1, wmax=4)
    arcs += [(3, 4, 1), (4, 5, 1), (5, 3, -5), (0, 3, 2), (5, 9, 1)]
    dist, hops, tagged = _fw_reference(10, arcs)
    assert any(tagged)
    got, neg = _run_spark(spark, 10, arcs)
    _check(got, neg, dist, hops, tagged, 10)


def test_fw_undirected_and_unweighted_raise(spark):  # noqa: F811
    edges = local_frame(spark, [(0, 1, 2.0), (1, 2, 3.0)],
                                  "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=False, weighted=True,
                         vertices=spark.range(3))
    dists, neg = floyd_warshall(g)
    got = {(r["u"], r["v"]): (r["dist"], r["hops"]) for r in dists.collect()}
    assert got[(0, 2)] == (5.0, 2) and got[(2, 0)] == (5.0, 2)
    assert neg.count() == 0
    gu = Graph.from_edges(edges, directed=False, weighted=False,
                          vertices=spark.range(3))
    try:
        floyd_warshall(gu)
        assert False, "unweighted must raise (FloydWarshall.cpp:12-16)"
    except ValueError as e:
        assert "unweighted" in str(e)
