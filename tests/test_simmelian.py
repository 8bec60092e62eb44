"""Simmelian backbone scores — reference fixtures
(SimmelianBackboneGTest.cpp:18-145) plus brute-force replicas of the
ranked-neighborhood / overlap / max-Jaccard set semantics on a random
graph."""

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.sparsification import (
    ranked_neighborhood,
    simmelian_jaccard_scores,
    simmelian_overlap_scores,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _key(u, v):
    return (min(u, v), max(u, v))


def _brute(edge_list):
    """adj, per-edge triangles, competition ranks — the reference's
    getRankedNeighborhood loop verbatim (SimmelianScore.cpp:17-46)."""
    adj = {}
    und = set()
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
        und.add(_key(u, v))
    tri = {e: len(adj[e[0]] & adj[e[1]]) for e in und}
    rank = {}
    for ego in adj:
        r, cur, eq = 0, None, 0
        for x in sorted(adj[ego], key=lambda a: -tri[_key(ego, a)]):
            t = tri[_key(ego, x)]
            if t != cur:
                r, cur, eq = r + eq, t, 1
            else:
                eq += 1
            rank[(ego, x)] = r
    return adj, und, rank


def _brute_overlap(adj, rank, u, v, max_rank):
    a = {x for x in adj[u] if x != v and rank[(u, x)] <= max_rank}
    b = {x for x in adj[v] if x != u and rank[(v, x)] <= max_rank}
    return len(a & b)


def _brute_jaccard(adj, rank, u, v, max_rank):
    best = 0.0
    cap = max((rank[(u, x)] for x in adj[u]), default=0)
    cap = max(cap, max((rank[(v, x)] for x in adj[v]), default=0))
    if max_rank is not None:
        cap = min(cap, max_rank)
    for r in range(cap + 1):
        a = {x for x in adj[u] if x != v and rank[(u, x)] <= r}
        b = {x for x in adj[v] if x != u and rank[(v, x)] <= r}
        if a | b:
            best = max(best, len(a & b) / len(a | b))
    return best


REF_EDGES = [(4, 5), (4, 6), (5, 6), (4, 8), (4, 7), (7, 8), (4, 9), (8, 9)]


def _graph(spark, edge_list, n):
    e = local_frame(
        spark, [(u, v, 1.0) for u, v in edge_list], "src long, dst long, weight double"
    )
    return Graph.from_edges(e, directed=False, vertices=spark.range(n))


def test_ranked_neighborhood_reference_fixture(spark):  # noqa: F811
    g = _graph(spark, REF_EDGES, 10)
    got = {
        (r["ego"], r["alter"]): r["rank"]
        for r in ranked_neighborhood(g).collect()
    }
    # SimmelianBackboneGTest.cpp:83-97 (testRankedNeighborhood)
    assert got[(4, 8)] == 0
    for alter in (9, 7, 6, 5):
        assert got[(4, alter)] == 1
    assert got[(8, 4)] == 0
    assert got[(8, 9)] == 1 and got[(8, 7)] == 1


def test_ranked_neighborhood_skipped_ranks(spark):  # noqa: F811
    # SimmelianBackboneGTest.cpp:100-144: competition ranks skip after ties
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (0, 6),
             (1, 2), (2, 3), (3, 4), (4, 5), (4, 6)]
    g = _graph(spark, edges, 7)
    got = {
        (r["ego"], r["alter"]): r["rank"]
        for r in ranked_neighborhood(g).collect()
    }
    assert got[(0, 4)] == 0
    assert got[(0, 3)] == 1 and got[(0, 2)] == 1
    assert got[(0, 6)] == 3 and got[(0, 5)] == 3 and got[(0, 1)] == 3
    assert got[(4, 0)] == 0
    assert got[(4, 6)] == 1 and got[(4, 5)] == 1 and got[(4, 3)] == 1


def test_overlap_and_jaccard_bruteforce_parity(spark):  # noqa: F811
    edges_df = erdos_renyi(spark, 40, 0.15, seed=11)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(40))
    el = [
        (r["u"], r["v"])
        for r in g.simple_undirected_edges().select("u", "v").collect()
    ]
    adj, und, rank = _brute(el)
    for max_rank in (0, 2, 10):
        got = {
            (r["u"], r["v"]): r["score"]
            for r in simmelian_overlap_scores(g, max_rank=max_rank).collect()
        }
        assert set(got) == und
        for (u, v) in und:
            assert got[(u, v)] == _brute_overlap(adj, rank, u, v, max_rank), (
                u, v, max_rank)


def test_jaccard_bruteforce_parity(spark):  # noqa: F811
    edges_df = erdos_renyi(spark, 35, 0.18, seed=3)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(35))
    el = [
        (r["u"], r["v"])
        for r in g.simple_undirected_edges().select("u", "v").collect()
    ]
    adj, und, rank = _brute(el)
    for max_rank in (1, None):
        got = {
            (r["u"], r["v"]): r["score"]
            for r in simmelian_jaccard_scores(g, max_rank=max_rank).collect()
        }
        assert set(got) == und
        for (u, v) in und:
            want = _brute_jaccard(adj, rank, u, v, max_rank)
            assert abs(got[(u, v)] - want) < 1e-12, (u, v, max_rank)


def test_overlap_counting_values(spark):  # noqa: F811
    # On the testRankedNeighborhood graph: edge (4,8) shares neighbors
    # {7, 9}; both sit at rank 1 for ego 4 and ego 8.
    g = _graph(spark, REF_EDGES, 10)
    s0 = {
        (r["u"], r["v"]): r["score"]
        for r in simmelian_overlap_scores(g, max_rank=0).collect()
    }
    s1 = {
        (r["u"], r["v"]): r["score"]
        for r in simmelian_overlap_scores(g, max_rank=1).collect()
    }
    assert s0[(4, 8)] == 0.0
    assert s1[(4, 8)] == 2.0


def test_random_edge_scores_contract(spark):  # noqa: F811
    # RandomNodeEdgeGTest.cpp:28-39 contract: one score per edge, in [0,1].
    from networkit_spark.operators.sparsification import random_edge_scores

    g = _graph(spark, REF_EDGES, 10)
    res = random_edge_scores(g, seed=1).collect()
    assert len(res) == len(REF_EDGES)
    assert all(0.0 < r["score"] <= 1.0 for r in res)
    # deterministic in (graph, seed); different seeds differ
    again = random_edge_scores(g, seed=1).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))
    other = random_edge_scores(g, seed=2).collect()
    assert sorted(map(tuple, res)) != sorted(map(tuple, other))


def test_random_node_edge_uniform_limit(spark):  # noqa: F811
    # rne_ratio = 0 is EXACTLY the reference semantics: a uniform random
    # removal permutation — scores must be {0, 1/m, ..., (m-1)/m}.
    from networkit_spark.operators.sparsification import random_node_edge_scores

    edges_df = erdos_renyi(spark, 30, 0.15, seed=13)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(30))
    m = g.simple_undirected_edges().count()
    res = random_node_edge_scores(g, rne_ratio=0.0, seed=1).collect()
    assert sorted(r["score"] for r in res) == [i / m for i in range(m)]


def test_random_node_edge_exact_replica(spark):  # noqa: F811
    # exact python replay of the exponential-race ranks (the same
    # computation the DuckDB oracle runs).
    import math

    from networkit_spark.operators.sparsification import random_node_edge_scores

    M = 1_000_000_007
    A, B, C, D = 2654435761, 40503, 97, 1000003

    def mix(u, v, s):
        h1 = (u * A + v * B + s * C) % M
        h2 = (h1 * h1 + A * h1 + B) % M
        return (h2 * h2 + C * h2 + D) % M

    edges_df = erdos_renyi(spark, 30, 0.15, seed=13)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(30))
    el = [(r["u"], r["v"])
          for r in g.simple_undirected_edges().select("u", "v").collect()]
    deg = {}
    for u, v in el:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    m, npos, r, seed = len(el), len(deg), 0.5, 1
    t = {
        (u, v): -math.log((mix(u, v, seed + 1) + 1) / (M + 1))
        / ((1.0 - r) / m + r * (1.0 / deg[u] + 1.0 / deg[v]) / float(npos))
        for u, v in el
    }
    order = sorted(el, key=lambda e: t[e])
    want = {e: i / m for i, e in enumerate(order)}
    got = {(x["u"], x["v"]): x["score"]
           for x in random_node_edge_scores(g, rne_ratio=r, seed=seed).collect()}
    assert got == want
