"""GedWalk group centrality vs pure-python replays of the reference
recursion (cpp/centrality/GedWalk.cpp) and brute-force walk enumeration."""

import itertools
import math

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.gedwalk import (
    _Sweeper,
    ged_walk_group,
    ged_walk_level_table,
    ged_walk_score,
)
from networkit_spark.session import local_frame

# directed test graph: two hubs (0, 6) with distinct walk neighborhoods
DI_EDGES = [
    (0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (3, 0), (3, 4), (4, 5),
    (5, 3), (6, 7), (7, 8), (8, 6), (6, 0), (2, 6), (9, 0), (9, 6),
    (10, 9), (5, 10), (8, 9),
]

UN_WEIGHTED = [  # undirected weighted triangle + tail
    (0, 1, 2.0), (1, 2, 1.0), (0, 2, 0.5), (2, 3, 3.0), (3, 4, 1.0),
]


def _py_eval(nodes, arcs, group, alpha, levels):
    """Reference hit/miss recursion (GedWalk.cpp:298-345): returns
    (score, w, [hits per level])."""
    hit = {u: (1.0 if u in group else 0.0) for u in nodes}
    miss = {u: (0.0 if u in group else 1.0) for u in nodes}
    score, hits_per_level = 0.0, []
    for lvl in range(1, levels + 1):
        nh = {u: 0.0 for u in nodes}
        nm = {u: 0.0 for u in nodes}
        for s, d, w in arcs:
            if d in group:
                nh[d] += w * (hit[s] + miss[s])
            else:
                nh[d] += w * hit[s]
                nm[d] += w * miss[s]
        hit, miss = nh, nm
        h = sum(hit.values())
        hits_per_level.append(h)
        score += alpha**lvl * h
    return score, sum(hit.values()), hits_per_level


def _enumerate_ged(nodes, arcs, group, alpha, levels):
    """Brute-force: weighted count of length-l walks visiting the group."""
    out = {}
    for s, d, w in arcs:
        out.setdefault(s, []).append((d, w))
    total = 0.0
    walks = [((u,), 1.0) for u in nodes]
    for lvl in range(1, levels + 1):
        nxt = []
        for path, w in walks:
            for d, ew in out.get(path[-1], []):
                nxt.append((path + (d,), w * ew))
        walks = nxt
        total += alpha**lvl * sum(
            w for path, w in walks if any(v in group for v in path)
        )
    return total


def _graph(spark, arcs, directed):
    rows = [(s, d, float(w)) for s, d, *rest in arcs
            for w in [rest[0] if rest else 1.0]]
    df = local_frame(spark, rows, "src long, dst long, weight double")
    return Graph.from_edges(df, directed=directed, weighted=True)


def test_level_table_matches_python_recursion(spark):
    g = _graph(spark, DI_EDGES, directed=True)
    nodes = sorted({x for e in DI_EDGES for x in e[:2]})
    arcs = [(s, d, 1.0) for s, d in DI_EDGES]
    group, alpha, levels = {0, 6}, 0.1, 5
    rows = ged_walk_level_table(g, group, alpha=alpha, levels=levels).collect()
    _, _, hits = _py_eval(nodes, arcs, group, alpha, levels)
    assert len(rows) == levels
    for r in sorted(rows, key=lambda r: r["level"]):
        assert r["hits"] == pytest.approx(hits[r["level"] - 1], abs=1e-9)
        assert r["contrib"] == pytest.approx(
            alpha ** r["level"] * hits[r["level"] - 1], rel=1e-12
        )


def test_recursion_equals_walk_enumeration(spark):
    g = _graph(spark, DI_EDGES, directed=True)
    nodes = sorted({x for e in DI_EDGES for x in e[:2]})
    arcs = [(s, d, 1.0) for s, d in DI_EDGES]
    group, alpha, levels = {3}, 0.07, 4
    brute = _enumerate_ged(nodes, arcs, group, alpha, levels)
    tbl = ged_walk_level_table(g, group, alpha=alpha, levels=levels)
    spark_score = sum(r["contrib"] for r in tbl.collect())
    assert spark_score == pytest.approx(brute, rel=1e-12)


def test_undirected_weighted_level_table(spark):
    g = _graph(spark, UN_WEIGHTED, directed=False)
    nodes = sorted({x for e in UN_WEIGHTED for x in e[:2]})
    arcs = [(s, d, w) for s, d, w in UN_WEIGHTED] + [
        (d, s, w) for s, d, w in UN_WEIGHTED
    ]
    group, alpha, levels = {2}, 0.05, 4
    rows = ged_walk_level_table(g, group, alpha=alpha, levels=levels).collect()
    _, _, hits = _py_eval(nodes, arcs, group, alpha, levels)
    for r in rows:
        assert r["hits"] == pytest.approx(hits[r["level"] - 1], rel=1e-12)


def test_score_of_group_within_epsilon(spark):
    g = _graph(spark, DI_EDGES, directed=True)
    nodes = sorted({x for e in DI_EDGES for x in e[:2]})
    arcs = [(s, d, 1.0) for s, d in DI_EDGES]
    group, eps, a = {0, 6}, 0.01, 0.1
    for strategy in ("geometric", "adaptive_geometric"):
        got = ged_walk_score(
            g, group, alpha=a, score_epsilon=eps, bound_strategy=strategy
        )
        exact, _, _ = _py_eval(nodes, arcs, group, a, 60)
        assert got <= exact + 1e-9
        assert exact - got <= eps


def test_estimates_upper_bound_exact_gains(spark):
    """estimateGains' score/bound must dominate the exact marginal gain
    (the lazy-greedy safety invariant, GedWalk.cpp:388-391)."""
    g = _graph(spark, DI_EDGES, directed=True)
    group, alpha, levels = {3}, 0.06, 3
    gam = 1.0  # any positive tail only loosens the bound; test raw score_est
    sw = _Sweeper(g)
    try:
        alphas = [alpha**i for i in range(levels + 2)]
        base_score, _ = sw.group_eval(group, levels, alphas)
        ests, cutoff = sw.estimate_gains(group, levels, alphas, top_c=50)
        cand = [u for u, _, _ in ests]
        exact = sw.batched_gains(group, cand, levels, alphas)
        est_by_u = {u: s for u, s, _ in ests}
        for z in cand:
            gain = exact[z][0] - base_score
            assert est_by_u[z] >= gain - 1e-9, (z, est_by_u[z], gain)
        # cutoff covers anything not pulled
        assert cutoff <= min(est_by_u.values()) + 1e-9
        _ = gam
    finally:
        sw.close()


def test_greedy_group_guarantee(spark):
    """Greedy group achieves the (1-1/e)*OPT - eps guarantee vs the
    exhaustive optimum (GedWalkGTest-style contract)."""
    g = _graph(spark, DI_EDGES, directed=True)
    nodes = sorted({x for e in DI_EDGES for x in e[:2]})
    arcs = [(s, d, 1.0) for s, d in DI_EDGES]
    k, eps, a = 2, 0.1, 0.1
    group, score = ged_walk_group(g, k=k, init_epsilon=eps, alpha=a)
    assert len(group) == k and len(set(group)) == k
    exact_group, _, _ = _py_eval(nodes, arcs, set(group), a, 60)
    opt = max(
        _py_eval(nodes, arcs, set(c), a, 60)[0]
        for c in itertools.combinations(nodes, k)
    )
    assert exact_group >= (1.0 - 1.0 / math.e) * opt - eps
    # returned score is the finite-level score of the returned group
    assert 0.0 < score <= exact_group + 1e-9


def test_validation_errors(spark):
    g = _graph(spark, DI_EDGES, directed=True)
    with pytest.raises(ValueError):
        ged_walk_group(g, k=0)
    with pytest.raises(ValueError):
        ged_walk_score(g, {0}, bound_strategy="spectral")
