"""Commute-time distance — numpy pseudo-inverse oracle (exact), the
tree closed form sqrt(d·2m), the Spielman–Srivastava approximation's
relative-error bound, and the directed-graph raise."""

import math

import numpy as np
from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.commutetime import (
    commute_time_distance,
    ctd_approx_pairs,
    ctd_embedding,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _ctd_numpy(n, und_pairs, pairs):
    L = np.zeros((n, n))
    for u, v in und_pairs:
        L[u, u] += 1
        L[v, v] += 1
        L[u, v] -= 1
        L[v, u] -= 1
    Li = np.linalg.pinv(L)
    vol = L.trace()
    out = {}
    for s, t in pairs:
        r = Li[s, s] + Li[t, t] - 2 * Li[s, t]
        out[(s, t)] = math.sqrt(r * vol)
    return out


def _connected_er(spark, n, p, seed):
    edges = erdos_renyi(spark, n, p, seed=seed)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    und = {(min(r["src"], r["dst"]), max(r["src"], r["dst"]))
           for r in edges.collect()}
    adj = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    seen, st = {0}, [0]
    while st:
        u = st.pop()
        for v in adj.get(u, ()):
            if v not in seen:
                seen.add(v)
                st.append(v)
    assert len(seen) == n, "fixture must be connected"
    return g, sorted(und)


def test_ctd_exact_matches_pinv(spark):  # noqa: F811
    g, und = _connected_er(spark, 25, 0.2, seed=7)
    pairs = [(0, 24), (3, 17), (5, 5)]
    want = _ctd_numpy(25, und, pairs)
    got = {(r["s"], r["t"]): r["ctd"]
           for r in commute_time_distance(g, pairs).collect()}
    assert got[(5, 5)] == 0.0
    for k in ((0, 24), (3, 17)):
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])


def test_ctd_tree_closed_form(spark):  # noqa: F811
    # path 0-1-2-3-4 plus a star at 2: resistance = hop distance
    pairs_e = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5), (2, 6)]
    g = Graph.from_pairs(spark, pairs_e, directed=False, n=7)
    m = len(pairs_e)
    got = {(r["s"], r["t"]): r["ctd"]
           for r in commute_time_distance(g, [(0, 4), (5, 6)]).collect()}
    assert abs(got[(0, 4)] - math.sqrt(4 * 2 * m)) < 1e-7
    assert abs(got[(5, 6)] - math.sqrt(2 * 2 * m)) < 1e-7


def test_ctd_approximation_error_bound(spark):  # noqa: F811
    g, und = _connected_er(spark, 20, 0.25, seed=3)
    pairs = [(0, 19), (2, 11), (7, 13)]
    want = _ctd_numpy(20, und, pairs)
    emb, vol = ctd_embedding(g, tol=0.8, seed=2)
    got = {(r["s"], r["t"]): r["ctd"]
           for r in ctd_approx_pairs(emb, vol, pairs).collect()}
    for k in pairs:
        rel = abs(got[k] - want[k]) / want[k]
        assert rel < 0.5, (k, got[k], want[k])  # JL-style bound, lax


def test_ctd_directed_raises(spark):  # noqa: F811
    edges = local_frame(spark, [(0, 1, 1.0)], "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=True, vertices=spark.range(2))
    try:
        commute_time_distance(g, [(0, 1)])
        assert False
    except ValueError as e:
        assert "undirected" in str(e)
