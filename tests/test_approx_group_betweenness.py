"""ApproxGroupBetweenness (Mahmoody et al. hyperedge sampling + greedy
max-coverage, cpp/centrality/ApproxGroupBetweenness.cpp:36-139) — exact
pure-python replay of the batched sampler (same hash draws, uniform
predecessor choice) and the greedy cover, plus contract tests."""

import math

import pytest

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.betweenness import approx_group_betweenness
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401

M = 1_000_000_007
A, B, C, D = 2654435761, 40503, 97, 1000003


def _u(walk, pos, cand, seed):
    h1 = (walk * A + pos * B + cand * C + seed * D) % M
    h2 = (h1 * h1 + A * h1 + B) % M
    h3 = (h2 * h2 + C * h2 + D) % M
    return (h3 + 1) / (M + 1)


def _replica(el, ids, k, r, seed):
    adj = {}
    for a, b in el:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ids = sorted(ids)
    n = len(ids)
    hyper = {}  # sample i -> set of interior nodes
    for i in range(r):
        srk = math.floor(_u(i, 0, 0, seed) * n)
        q = math.floor(_u(i, 1, 0, seed) * (n - 1))
        trk = q + 1 if q >= srk else q
        s, t = ids[srk], ids[trk]
        dist = {s: 0}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        if t not in dist:
            continue
        cur, cd, step = t, dist[t], 0
        interior = set()
        while cd > 0:
            step += 1
            preds = sorted(p for p in adj[cur] if dist.get(p) == cd - 1)
            tot = float(len(preds))
            ud = _u(i, 100 + step, 0, seed)
            cum, pick = 0.0, preds[-1]
            for p in preds:
                cum += 1.0
                if cum >= ud * tot:
                    pick = p
                    break
            if pick != s:
                interior.add(pick)
            cur, cd = pick, cd - 1
        if interior:
            hyper[i] = interior
    group = []
    uncovered = dict(hyper)
    for _ in range(k):
        counts = {}
        for members in uncovered.values():
            for v in members:
                counts[v] = counts.get(v, 0) + 1
        if counts:
            best = min(counts, key=lambda v: (-counts[v], v))
        else:
            best = min(v for v in ids if v not in group)
        group.append(best)
        uncovered = {i: m for i, m in uncovered.items() if best not in m}
    return group


def test_exact_replay(spark):  # noqa: F811
    edges = erdos_renyi(spark, 40, 0.06, seed=41)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(40))
    el = [(r0["u"], r0["v"])
          for r0 in g.simple_undirected_edges().select("u", "v").collect()]
    want = _replica(el, range(40), k=4, r=48, seed=9)
    got = [r0["id"] for r0 in
           approx_group_betweenness(g, group_size=4, samples=48, seed=9)
           .orderBy("ord").collect()]
    assert got == want


def test_sample_size_formula_and_quality(spark):  # noqa: F811
    # samples=None -> ceil(k ln(n) / eps^2) (ApproxGroupBetweenness.cpp:47)
    edges = erdos_renyi(spark, 24, 0.12, seed=6)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(24))
    k, eps = 2, 0.4
    want_r = math.ceil(k * math.log(24) / eps ** 2)
    a = approx_group_betweenness(g, k, epsilon=eps, seed=3).collect()
    b = approx_group_betweenness(g, k, samples=want_r, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == k


def test_star_center_chosen_first(spark):  # noqa: F811
    # star + pendant path: the hub lies on (almost) every shortest path
    el = [(0, i) for i in range(1, 8)] + [(7, 8), (8, 9)]
    g = Graph.from_edges(
        local_frame(spark, el, "src long, dst long"), directed=False)
    got = approx_group_betweenness(g, group_size=1, samples=80, seed=2)
    assert got.collect()[0]["id"] == 0


def test_contract_raises(spark):  # noqa: F811
    el = [(0, 1), (1, 2)]
    g = Graph.from_edges(
        local_frame(spark, el, "src long, dst long"), directed=False)
    with pytest.raises(ValueError):
        approx_group_betweenness(g, group_size=0)
    with pytest.raises(ValueError):
        approx_group_betweenness(g, group_size=3)
    with pytest.raises(ValueError):
        approx_group_betweenness(g, group_size=1, epsilon=0.0)
    gd = Graph.from_edges(
        local_frame(spark, el, "src long, dst long"), directed=True)
    with pytest.raises(ValueError):
        approx_group_betweenness(gd, group_size=1)
