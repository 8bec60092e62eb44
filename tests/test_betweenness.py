"""Betweenness: exact Brandes vs pure-Python oracle (hand fixture +
random graphs, directed + undirected, normalized variants) and the
sampling estimator with the reference's linear-scaling weighting and
extrapolation (EstimateBetweenness.cpp:60-115)."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.betweenness import (
    betweenness_centrality,
    estimate_betweenness,
)
from networkit_spark.session import local_frame
from tests.fixtures import erdos_renyi
from tests.oracle.brandes import (
    brandes_oracle,
    estimate_betweenness_oracle,
    exact_betweenness_oracle,
)


def _scores(df):
    return {r["id"]: r["score"] for r in df.collect()}


def test_path_graph_hand_values(spark):
    """Path 0-1-2-3: node 1 lies on the shortest paths of the ordered
    pairs (0,2),(0,3),(2,0),(3,0) → score 4; node 2 symmetric; endpoints
    0 (summing over all sources, no halving — reference semantics)."""
    edges = [(0, 1), (1, 2), (2, 3)]
    g = Graph.from_pairs(spark, edges, directed=False)
    got = _scores(betweenness_centrality(g))
    want = exact_betweenness_oracle(4, edges)
    assert got == pytest.approx(want)
    assert got[0] == 0.0 and got[3] == 0.0
    assert got[1] == 4.0 and got[2] == 4.0


def test_star_center(spark):
    """Star K1,4: center mediates all (4·3) ordered leaf pairs."""
    edges = [(0, i) for i in range(1, 5)]
    g = Graph.from_pairs(spark, edges, directed=False)
    got = _scores(betweenness_centrality(g))
    assert got[0] == pytest.approx(12.0)
    assert all(got[i] == 0.0 for i in range(1, 5))
    norm = _scores(betweenness_centrality(g, normalized=True))
    assert norm[0] == pytest.approx(1.0)  # 12 / ((5-1)(5-2))


def test_exact_oracle_er_undirected(spark):
    edges = erdos_renyi(28, 0.15, seed=21)
    g = Graph.from_pairs(spark, edges, directed=False, n=28)
    got = _scores(betweenness_centrality(g))
    want = exact_betweenness_oracle(28, edges)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_exact_oracle_directed(spark):
    edges = [(0, 1), (1, 2), (2, 3), (0, 2), (3, 0), (1, 3)]
    g = Graph.from_pairs(spark, edges, directed=True)
    got = _scores(betweenness_centrality(g))
    want = brandes_oracle(4, edges, directed=True)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_estimate_matches_oracle_same_sources(spark):
    """Feeding the estimator and the oracle the same source set must give
    identical values (linear-scaling factor + 2n/nSamples extrapolation)."""
    edges = erdos_renyi(30, 0.12, seed=4)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    srcs = [0, 5, 11, 17, 23]
    src_df = local_frame(spark, [(s,) for s in srcs], "s long")
    for normalized in (False, True):
        got = _scores(
            estimate_betweenness(
                g, n_samples=4, normalized=normalized, sources=src_df
            )
        )
        want = estimate_betweenness_oracle(
            30, edges, srcs, n_samples=4, normalized=normalized
        )
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-9), v


def test_estimate_deterministic_sampling(spark):
    edges = erdos_renyi(25, 0.15, seed=8)
    g = Graph.from_pairs(spark, edges, directed=False, n=25)
    a = _scores(estimate_betweenness(g, n_samples=5, seed=3))
    b = _scores(estimate_betweenness(g, n_samples=5, seed=3))
    assert a == b


def test_weighted_graph_raises(spark):
    g = Graph.from_pairs(spark, [(0, 1, 2.0)], directed=False, weighted=True)
    with pytest.raises(ValueError):
        betweenness_centrality(g)


def test_adaptive_full_sample_equals_estimate(spark):
    """One batch consuming every vertex must reproduce
    estimate_betweenness with n samples exactly (same pivot order, same
    2n/samples extrapolation)."""
    from networkit_spark.operators.betweenness import adaptive_betweenness

    edges = erdos_renyi(24, 0.25, seed=7)
    g = Graph.from_pairs(spark, edges, directed=False)
    n = g.num_vertices()
    res = adaptive_betweenness(g, batch_size=n, max_samples=n)
    assert res.n_samples == n and res.rounds == 1
    want = _scores(estimate_betweenness(g, n_samples=n))
    got = _scores(res.scores)
    assert got == pytest.approx(want, abs=1e-9)


def test_adaptive_stops_early_and_is_deterministic(spark):
    from networkit_spark.operators.betweenness import adaptive_betweenness

    edges = erdos_renyi(40, 0.15, seed=11)
    g = Graph.from_pairs(spark, edges, directed=False)
    res = adaptive_betweenness(g, err=0.5, batch_size=4, max_samples=40)
    # a huge tolerance stops at the first delta measurement (2 batches)
    assert res.rounds == 2 and res.n_samples == 8
    assert res.history[-1]["delta"] <= 0.5
    res2 = adaptive_betweenness(g, err=0.5, batch_size=4, max_samples=40)
    assert _scores(res.scores) == pytest.approx(_scores(res2.scores))


def test_adaptive_star_ranking(spark):
    """On a star the center must dominate any sampled estimate once a
    couple of batches are in."""
    from networkit_spark.operators.betweenness import adaptive_betweenness

    edges = [(0, i) for i in range(1, 13)]
    g = Graph.from_pairs(spark, edges, directed=False)
    res = adaptive_betweenness(g, err=0.001, batch_size=4, max_samples=13)
    got = _scores(res.scores)
    assert got[0] > max(got[i] for i in range(1, 13))
