"""HashingOverlapper / ReachableNodes / EpidemicSimulationSEIR vs exact
pure-Python replicas (cpp/overlap/HashingOverlapper.cpp,
cpp/reachability/ReachableNodes.cpp, cpp/simulation/
EpidemicSimulationSEIR.cpp)."""

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.overlap import hashing_overlapper
from networkit_spark.operators.reachability import reachable_nodes
from networkit_spark.operators.simulation import epidemic_seir
from networkit_spark.session import local_frame

from tests.fixtures import F1_EDGES, F1_N, erdos_renyi

M = 1_000_000_007


# ------------------------------------------------------------------ replicas
def _djb2_py(key: int) -> int:
    h = 5381
    for i in range(8):
        b = (key >> (8 * i)) & 255
        if b == 0:
            break
        h = h * 33 + b
    return h


def _compact_py(labels: dict) -> dict:
    order = {l: i for i, l in enumerate(sorted(set(labels.values())))}
    return {k: order[v] for k, v in labels.items()}


def _overlap_py(n, clusterings):
    cs = [_compact_py(c) for c in clusterings]
    if len(cs) == 1:
        return cs[0]
    if len(cs) == 2:
        first, second = cs
        cores = {
            v: _djb2_py(((first[v] ^ 0xFFFF) << 16) | (second[v] ^ 0xFFFF))
            for v in range(n)
        }
        return _compact_py(cores)
    cores = {v: 0 for v in range(n)}
    for c_idx, c in enumerate(cs):
        for v in range(n):
            cores[v] += _djb2_py((c_idx + 2) * c[v]) & 0xFFFF
    return _compact_py(cores)


def _seir_u(u, v, t, seed):
    mix = ((u % 1000003) * 2654435761 + (v % 1000003) * 97
           + t * 40503 + seed * 1000003) % M
    h2 = (mix * mix + 2654435761 * mix + 40503) % M
    h3 = (h2 * h2 + 97 * h2 + 1000003) % M
    return (h3 + 1) / (M + 1)


def _seir_py(edges, n, t_max, trans_p, e_time, i_time, zero, seed):
    nbrs = {u: set() for u in range(n)}
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    st = {v: 0 for v in range(n)}
    ts = {v: 0 for v in range(n)}
    st[zero] = 2
    rows = []
    for t in range(t_max):
        inf = [u for u in range(n) if st[u] == 2]
        exposed = set()
        for u in inf:
            for v in nbrs[u]:
                if st[v] == 0 and _seir_u(u, v, t, seed) <= trans_p:
                    exposed.add(v)
        new_st = dict(st)
        for v in range(n):
            if st[v] == 0 and v in exposed:
                new_st[v] = 1
            elif st[v] == 1 and t - ts[v] >= e_time:
                new_st[v] = 2
            elif st[v] == 2 and t - ts[v] >= i_time:
                new_st[v] = 3
        for v in range(n):
            if new_st[v] != st[v]:
                ts[v] = t
        st = new_st
        for s in range(4):
            rows.append((zero, t, s, sum(1 for v in range(n) if st[v] == s)))
    return rows


# ------------------------------------------------------------------- overlap
def test_overlap_two_clusterings(spark):
    n = 30
    g = Graph.from_pairs(spark, erdos_renyi(n, 0.1, seed=3), directed=False, n=n)
    c1 = {v: v % 4 for v in range(n)}
    c2 = {v: v % 3 for v in range(n)}
    dfs = [
        local_frame(spark, list(c.items()), "id long, label long")
        for c in (c1, c2)
    ]
    got = {r.id: r.label for r in hashing_overlapper(g, dfs).collect()}
    want = _overlap_py(n, [c1, c2])
    assert got == want


def test_overlap_three_clusterings(spark):
    n = 25
    g = Graph.from_pairs(spark, erdos_renyi(n, 0.1, seed=4), directed=False, n=n)
    cs = [{v: v % k for v in range(n)} for k in (2, 3, 5)]
    dfs = [
        local_frame(spark, list(c.items()), "id long, label long") for c in cs
    ]
    got = {r.id: r.label for r in hashing_overlapper(g, dfs).collect()}
    assert got == _overlap_py(n, cs)


def test_overlap_single_and_empty(spark):
    n = 10
    g = Graph.from_pairs(spark, [(0, 1)], directed=False, n=n)
    c1 = {v: (v * 7) % 3 + 100 for v in range(n)}
    df = local_frame(spark, list(c1.items()), "id long, label long")
    got = {r.id: r.label for r in hashing_overlapper(g, [df]).collect()}
    assert got == _compact_py(c1)
    one = {r.label for r in hashing_overlapper(g, []).collect()}
    assert one == {0}


# -------------------------------------------------------------- reachability
def test_reachable_undirected_components(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    got = {r.id: r.reachable for r in reachable_nodes(g).counts.collect()}
    # component sizes from F1: chains of 7, 5, 5 nodes; pair; isolated
    import collections

    sizes = collections.Counter(got.values())
    assert got[15] == 1  # isolated node reaches only itself
    assert sum(sizes[s] for s in sizes) == F1_N


def _closure_py(arcs, n):
    reach = {u: {u} for u in range(n)}
    changed = True
    while changed:
        changed = False
        for u, v in arcs:
            new = reach[v] - reach[u]
            if new:
                reach[u] |= new
                changed = True
    return {u: len(reach[u]) for u in range(n)}


def test_reachable_directed_exact(spark):
    import random

    rng = random.Random(17)
    n = 40
    arcs = [(u, v) for u in range(n) for v in range(n)
            if u != v and rng.random() < 0.05]
    g = Graph.from_pairs(spark, arcs, directed=True, n=n)
    got = {r.id: r.reachable for r in reachable_nodes(g, exact=True).counts.collect()}
    assert got == _closure_py(arcs, n)


def test_reachable_directed_estimate(spark):
    import random

    rng = random.Random(23)
    n = 60
    arcs = [(u, v) for u in range(n) for v in range(n)
            if u != v and rng.random() < 0.06]
    g = Graph.from_pairs(spark, arcs, directed=True, n=n)
    exact = _closure_py(arcs, n)
    est = {
        r.id: r.reachable_est
        for r in reachable_nodes(g, exact=False).counts.collect()
    }
    # FM sketches with k=64: ~12% std error; allow 40% relative slack
    big = [u for u in exact if exact[u] >= 10]
    assert big
    for u in big:
        assert est[u] == pytest.approx(exact[u], rel=0.4), (u, exact[u], est[u])


# --------------------------------------------------------------------- SEIR
def test_seir_exact_replica(spark):
    n = 40
    edges = erdos_renyi(n, 0.08, seed=31)
    g = Graph.from_pairs(spark, edges, directed=False, n=n)
    got = sorted(
        (r.zero, r.t, r.state, r.population)
        for r in epidemic_seir(
            g, t_max=6, trans_p=0.4, e_time=1, i_time=2, zero=0, seed=5
        ).collect()
    )
    want = sorted(_seir_py(edges, n, 6, 0.4, 1, 2, 0, 5))
    assert got == want


def test_seir_invariants(spark):
    n = 30
    edges = erdos_renyi(n, 0.12, seed=37)
    g = Graph.from_pairs(spark, edges, directed=False, n=n)
    rows = epidemic_seir(
        g, t_max=8, trans_p=0.5, e_time=1, i_time=2, zero=0, seed=9
    ).collect()
    by_t = {}
    for r in rows:
        by_t.setdefault(r.t, {})[r.state] = r.population
    for t, pops in by_t.items():
        assert sum(pops.values()) == n
    # R is absorbing (nondecreasing), S nonincreasing
    ts = sorted(by_t)
    for a, b in zip(ts, ts[1:]):
        assert by_t[b].get(3, 0) >= by_t[a].get(3, 0)
        assert by_t[b].get(0, 0) <= by_t[a].get(0, 0)
