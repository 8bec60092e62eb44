"""DynBetweennessOneNode — fresh state + insertion repair equal a
fresh reference-style recompute (the updateBatch GTest contract), and
bcx matches a pure-Python replica of run()."""

import random
from collections import deque

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.dynbetweenness_one import (
    one_node_bcx,
    one_node_state,
    update_one_node,
)
from networkit_spark.session import local_frame


def _py_state(arcs, n, x, directed, weighted=False):
    """Reference run(): per-source BFS/Dijkstra with sigma + sigmax
    (DynBetweennessOneNode.cpp:31-146). The graph is SIMPLE like the
    engine's Graph (min weight per arc — a batch re-adding an existing
    edge must not create a parallel edge here)."""
    best = {}
    for a in arcs:
        u, v, w = (a[0], a[1], a[2] if weighted else 1.0)
        if (u, v) not in best or w < best[(u, v)]:
            best[(u, v)] = w
    adj = {}
    for (u, v), w in best.items():
        adj.setdefault(u, []).append((v, w))
        if not directed:
            adj.setdefault(v, []).append((u, w))
    import heapq

    state = {}
    for s in range(n):
        dist = {s: 0.0}
        sigma = {s: 1.0}
        sigmax = {s: 1.0 if s == x else 0.0}
        pq = [(0.0, s)]
        done = set()
        while pq:
            d, u = heapq.heappop(pq)
            if u in done:
                continue
            done.add(u)
            if u == x:
                sigmax[u] = sigma[u]
            for v, w in adj.get(u, ()):
                nd = d + w
                if v not in dist or nd < dist[v] - 1e-12:
                    dist[v] = nd
                    sigma[v] = sigma[u]
                    sigmax[v] = sigma[u] if u == x else sigmax.get(u, 0.0)
                    heapq.heappush(pq, (nd, v))
                elif abs(nd - dist[v]) <= 1e-12:
                    sigma[v] = sigma.get(v, 0.0) + sigma[u]
                    if u == x:
                        sigmax[v] = sigmax.get(v, 0.0) + sigma[u]
                    else:
                        sigmax[v] = sigmax.get(v, 0.0) + sigmax.get(u, 0.0)
        for t in dist:
            if t == x and t != s:
                sigmax[t] = sigma[t]
            state[(s, t)] = (dist[t], sigma[t], sigmax.get(t, 0.0))
    return state


def _py_bcx(state, x):
    return sum(
        sx / sg for (s, t), (_, sg, sx) in state.items()
        if s != x and t != x and sg != 0
    )


def _spark_state(df):
    return {
        (r["s"], r["t"]): (r["dist"], r["sigma"], r["sigmax"])
        for r in df.collect()
    }


def _assert_state(spark_st, py_st):
    assert set(spark_st) == set(py_st)
    for k in py_st:
        for i in range(3):
            assert spark_st[k][i] == pytest.approx(py_st[k][i], abs=1e-9), (
                k, spark_st[k], py_st[k]
            )


def test_fresh_state_and_bcx_undirected(spark):
    rng = random.Random(11)
    n = 14
    arcs = [(u, v) for u in range(n) for v in range(u + 1, n) if rng.random() < 0.22]
    x = 3
    g = Graph.from_pairs(spark, arcs, directed=False, n=n)
    st = one_node_state(g, x)
    py = _py_state(arcs, n, x, directed=False)
    _assert_state(_spark_state(st), py)
    assert one_node_bcx(st, x) == pytest.approx(_py_bcx(py, x), abs=1e-9)


def test_update_equals_fresh_undirected(spark):
    rng = random.Random(19)
    n = 12
    arcs = [(u, v) for u in range(n) for v in range(u + 1, n) if rng.random() < 0.2]
    x = 2
    g = Graph.from_pairs(spark, arcs, directed=False, n=n)
    st = one_node_state(g, x)
    batch = [(0, n - 1), (1, 8)]
    g1, st1 = update_one_node(
        g, st, x, local_frame(spark, batch, "src long, dst long")
    )
    py = _py_state(arcs + batch, n, x, directed=False)
    _assert_state(_spark_state(st1), py)
    assert one_node_bcx(st1, x) == pytest.approx(_py_bcx(py, x), abs=1e-9)
    # chain a second batch on the repaired state
    batch2 = [(4, 10)]
    g2, st2 = update_one_node(
        g1, st1, x, local_frame(spark, batch2, "src long, dst long")
    )
    py2 = _py_state(arcs + batch + batch2, n, x, directed=False)
    _assert_state(_spark_state(st2), py2)


def test_update_directed_and_weight_decrease(spark):
    rng = random.Random(23)
    n = 10
    arcs = [
        (u, v, float(rng.randrange(1, 7)) / 2)
        for u in range(n)
        for v in range(n)
        if u != v and rng.random() < 0.18
    ]
    x = 1
    g = Graph.from_pairs(spark, arcs, directed=True, n=n, weighted=True)
    st = one_node_state(g, x)
    u0, v0, w0 = arcs[0]
    batch = [(0, n - 1, 0.5), (u0, v0, w0 / 2)]
    g1, st1 = update_one_node(
        g, st, x, local_frame(spark, batch, "src long, dst long, weight double")
    )
    new_arcs = [(u, v, w) for u, v, w in arcs if (u, v) != (u0, v0)]
    new_arcs += [(0, n - 1, 0.5), (u0, v0, w0 / 2)]
    py = _py_state(new_arcs, n, x, directed=True, weighted=True)
    _assert_state(_spark_state(st1), py)
    assert one_node_bcx(st1, x) == pytest.approx(_py_bcx(py, x), abs=1e-9)


def test_noop_insertion(spark):
    arcs = [(0, 1), (1, 2)]
    g = Graph.from_pairs(spark, arcs, directed=False, n=3)
    st = one_node_state(g, 1)
    # re-adding an existing edge must not double sigma
    g1, st1 = update_one_node(
        g, st, 1, local_frame(spark, [(0, 1)], "src long, dst long")
    )
    _assert_state(_spark_state(st1), _py_state(arcs, 3, 1, directed=False))
