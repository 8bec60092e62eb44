"""Distance module: multi-source BFS, closeness (standard/generalized),
harmonic closeness, diameter, exact + ANF effective diameter,
neighborhood function — hand fixtures + pure-Python BFS oracles
(Closeness.hpp:84-100, HarmonicCloseness.cpp:19-49,
EffectiveDiameter[.Approximation].cpp semantics)."""

import math

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import (
    GENERALIZED,
    _bfs_levels,
    closeness_centrality,
    diameter_double_sweep,
    diameter_exact,
    eccentricities,
    effective_diameter_approx,
    effective_diameter_exact,
    harmonic_closeness,
    multi_source_bfs,
    neighborhood_function,
)
from networkit_spark.session import local_frame
from tests.fixtures import F1_EDGES, F1_N, erdos_renyi
from tests.oracle.brandes import path_counts_oracle
from tests.oracle.dist import (
    closeness_oracle,
    effective_diameter_oracle,
    harmonic_oracle,
)

P4 = [(0, 1), (1, 2), (2, 3)]  # path graph


def _scores(df):
    return {r["id"]: r["score"] for r in df.collect()}


def test_multi_source_bfs_directed(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2)], directed=True)
    src = local_frame(spark, [(0,), (2,)], "s long")
    got = {
        (r["s"], r["id"]): r["dist"] for r in multi_source_bfs(g, src).collect()
    }
    assert got == {(0, 0): 0, (0, 1): 1, (0, 2): 2, (2, 2): 0}


def test_bfs_levels_keyed_path_counts_vs_brandes(spark):
    """The BFS level kernel keyed by source with sum(sigma): every reached
    (s, id) carries the oracle's hop distance and shortest-path count,
    and the returned depth is the deepest level."""
    n = 60
    edges = erdos_renyi(n, 0.08)
    g = Graph.from_pairs(spark, edges, directed=False, n=n)
    sources = [0, 7, 23, 59]
    seeds = local_frame(spark, [(s, s, 1.0) for s in sources], "s long, id long, sigma double")
    arcs = g.edges.select("src", "dst")
    visited, depth = _bfs_levels(
        arcs, seeds, keys=("s",), aggs=(F.sum("sigma").alias("sigma"),)
    )
    got = {(r["s"], r["id"]): (r["dist"], r["sigma"]) for r in visited.collect()}
    want = path_counts_oracle(n, edges, sources)
    assert got.keys() == want.keys()
    for key, (d, sigma) in want.items():
        assert got[key][0] == d
        assert got[key][1] == pytest.approx(sigma, rel=1e-12)
    assert depth == max(d for d, _ in want.values())


def test_closeness_path_graph(spark):
    g = Graph.from_pairs(spark, P4, directed=False)
    got = _scores(closeness_centrality(g))
    assert got[0] == pytest.approx(1.0 / 6.0)
    assert got[1] == pytest.approx(1.0 / 4.0)
    norm = _scores(closeness_centrality(g, normalized=True))
    assert norm[0] == pytest.approx(0.5)


def test_closeness_standard_raises_on_disconnected(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    with pytest.raises(ValueError):
        closeness_centrality(g)


def test_closeness_generalized_oracle(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    for normalized in (False, True):
        got = _scores(
            closeness_centrality(g, normalized=normalized, variant=GENERALIZED)
        )
        want = closeness_oracle(
            F1_N, F1_EDGES, normalized=normalized, variant="generalized"
        )
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v]), v


def test_harmonic_oracle_on_er(spark):
    edges = erdos_renyi(30, 0.12, seed=5)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    for normalized in (False, True):
        got = _scores(harmonic_closeness(g, normalized=normalized))
        want = harmonic_oracle(30, edges, normalized=normalized)
        for v in want:
            assert got[v] == pytest.approx(want[v]), v


def test_closeness_sampled_sources(spark):
    """The sources argument (sampling at scale) restricts rows, not values."""
    edges = erdos_renyi(25, 0.15, seed=9)
    g = Graph.from_pairs(spark, edges, directed=False, n=25)
    src = local_frame(spark, [(0,), (7,)], "s long")
    got = _scores(harmonic_closeness(g, sources=src))
    want = harmonic_oracle(25, edges)
    assert set(got) == {0, 7}
    assert got[0] == pytest.approx(want[0])
    assert got[7] == pytest.approx(want[7])


def test_diameter_and_eccentricity(spark):
    g = Graph.from_pairs(spark, P4, directed=False)
    ecc = {r["id"]: r["ecc"] for r in eccentricities(g).collect()}
    assert ecc == {0: 3, 1: 2, 2: 2, 3: 3}
    assert diameter_exact(g) == 3
    # double sweep is exact on trees
    assert diameter_double_sweep(g) == 3


def test_effective_diameter_exact_path(spark):
    g = Graph.from_pairs(spark, P4, directed=False)
    # threshold = ceil(0.9*4) = 4: h = [3,2,2,3] → 2.5
    assert effective_diameter_exact(g, 0.9) == pytest.approx(2.5)
    assert effective_diameter_exact(g, 0.9) == pytest.approx(
        effective_diameter_oracle(4, P4, 0.9)
    )


def test_effective_diameter_exact_oracle_er(spark):
    edges = erdos_renyi(24, 0.18, seed=3)
    # keep only the giant component for the connected requirement
    from tests.oracle.dist import adjacency, bfs_dists

    comp = bfs_dists(adjacency(24, edges), 0)
    nodes = sorted(comp)
    remap = {v: i for i, v in enumerate(nodes)}
    sub = [(remap[u], remap[v]) for u, v in edges if u in comp and v in comp]
    n = len(nodes)
    g = Graph.from_pairs(spark, sub, directed=False, n=n)
    got = effective_diameter_exact(g, 0.9)
    assert got == pytest.approx(effective_diameter_oracle(n, sub, 0.9))


def test_neighborhood_function_path(spark):
    g = Graph.from_pairs(spark, P4, directed=False)
    got = {r["dist"]: r["n_pairs"] for r in neighborhood_function(g).collect()}
    assert got == {1: 6, 2: 10, 3: 12}


def test_effective_diameter_approx_deterministic_and_sane(spark):
    edges = erdos_renyi(30, 0.2, seed=13)
    from tests.oracle.dist import adjacency, bfs_dists

    comp = bfs_dists(adjacency(30, edges), 0)
    nodes = sorted(comp)
    remap = {v: i for i, v in enumerate(nodes)}
    sub = [(remap[u], remap[v]) for u, v in edges if u in comp and v in comp]
    n = len(nodes)
    g = Graph.from_pairs(spark, sub, directed=False, n=n)

    exact = effective_diameter_oracle(n, sub, 0.9)
    approx1 = effective_diameter_approx(g, 0.9, k=32, seed=7)
    approx2 = effective_diameter_approx(g, 0.9, k=32, seed=7)
    assert approx1 == approx2  # seeded determinism
    assert 1.0 <= approx1 <= math.ceil(exact) + 2
    assert abs(approx1 - exact) <= 2.0


def test_neighborhood_function_approx(spark):
    """ANF NF: deterministic under a seed, non-decreasing per round, and
    the final round's total reach lands near n² (all pairs incl. self —
    the reference's accumulation, NeighborhoodFunctionApproximation.cpp:
    108-141)."""
    from networkit_spark.operators.distances import neighborhood_function_approx

    edges = erdos_renyi(26, 0.2, seed=29)
    from tests.oracle.dist import adjacency, bfs_dists

    comp = bfs_dists(adjacency(26, edges), 0)
    nodes = sorted(comp)
    remap = {v: i for i, v in enumerate(nodes)}
    sub = [(remap[u], remap[v]) for u, v in edges if u in comp and v in comp]
    n = len(nodes)
    g = Graph.from_pairs(spark, sub, directed=False, n=n)

    nf1 = neighborhood_function_approx(g, k=32, seed=11)
    nf2 = neighborhood_function_approx(g, k=32, seed=11)
    assert nf1 == nf2
    assert all(b >= a for a, b in zip(nf1, nf1[1:]))
    assert 0.4 * n * n <= nf1[-1] <= 2.5 * n * n


def test_approx_closeness_exact_at_full_sample(spark):
    from networkit_spark.operators.distances import (
        approx_closeness,
        closeness_centrality,
    )

    g = Graph.from_pairs(
        spark, [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)], directed=False, n=4
    )
    exact = {r.id: r.score for r in closeness_centrality(g).collect()}
    approx = {r.id: r.score for r in approx_closeness(g, n_samples=4).collect()}
    for v in exact:
        assert abs(exact[v] - approx[v]) < 1e-6


def test_approx_closeness_sampled_correlates(spark):
    from networkit_spark.operators.distances import (
        approx_closeness,
        closeness_centrality,
    )
    from networkit_spark.generators import erdos_renyi

    e = erdos_renyi(spark, 60, 0.15, seed=5)
    g = Graph.from_edges(e, directed=False)
    # keep only the giant component's scores comparable: generalized exact
    exact = {
        r.id: r.score
        for r in closeness_centrality(g, variant="generalized").collect()
    }
    approx = {r.id: r.score for r in approx_closeness(g, n_samples=20).collect()}
    # rank correlation on the common support: top-5 exact vertices should
    # sit in the approx top half
    top = sorted(exact, key=exact.get, reverse=True)[:5]
    cutoff = sorted(approx.values(), reverse=True)[len(approx) // 2]
    assert all(approx.get(v, 0.0) >= cutoff for v in top)


def test_approx_closeness_deterministic(spark):
    from networkit_spark.operators.distances import approx_closeness

    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)], directed=False, n=3)
    a = sorted(map(tuple, approx_closeness(g, n_samples=2, seed=9).collect()))
    b = sorted(map(tuple, approx_closeness(g, n_samples=2, seed=9).collect()))
    assert a == b
