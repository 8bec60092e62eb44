"""LaplacianCentrality (LaplacianCentrality.cpp energy-drop formula, the
reference's own 2-triangle fixture) and PermanenceCentrality
(PermanenceCentrality.cpp getPermanence) vs pure-Python replicas."""

import itertools
import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.centrality import (
    laplacian_centrality,
    permanence_centrality,
)
from networkit_spark.session import local_frame


def _graph(spark, n, edges, weights=None):
    w = weights or [1.0] * len(edges)
    df = local_frame(
        spark, [(u, v, float(x)) for (u, v), x in zip(edges, w)],
        "src long, dst long, weight double",
    )
    verts = local_frame(spark, [(v,) for v in range(n)], "id long")
    return Graph.from_edges(
        df, directed=False, weighted=weights is not None, vertices=verts
    )


def test_laplacian_reference_fixture_unweighted(spark):
    # CentralityGTest.cpp testLaplacianCentralityUnweighted (:1458-1477)
    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (1, 4), (4, 5)]
    g = _graph(spark, 6, edges)
    got = {r["id"]: r["score"] for r in laplacian_centrality(g).collect()}
    assert got == {0: 18.0, 1: 34.0, 2: 18.0, 3: 10.0, 4: 16.0, 5: 6.0}


def test_laplacian_reference_fixture_weighted(spark):
    # CentralityGTest.cpp testLaplacianCentrality (:1408-1434), the Qi et
    # al. weighted fixture
    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (1, 4), (4, 5)]
    weights = [4.0, 2.0, 1.0, 2.0, 2.0, 1.0]
    g = _graph(spark, 6, edges, weights)
    got = {r["id"]: r["score"] for r in laplacian_centrality(g).collect()}
    assert got == {0: 140.0, 1: 180.0, 2: 56.0, 3: 44.0, 4: 52.0, 5: 8.0}


def test_laplacian_normalized(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    g = _graph(spark, 4, edges)
    raw = {r["id"]: r["score"] for r in laplacian_centrality(g).collect()}
    norm = {
        r["id"]: r["score"]
        for r in laplacian_centrality(g, normalized=True).collect()
    }
    total = sum(
        (len([e for e in edges if u in e])) ** 2 for u in range(4)
    ) + 2 * len(edges)
    for u in range(4):
        assert norm[u] == pytest.approx(raw[u] / total, rel=1e-12)


def _perm_replica(n, edges, label):
    adj = {u: set() for u in range(n)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    out = {}
    for u in range(n):
        if not adj[u]:
            out[u] = 0.0
            continue
        strength = {}
        for y in adj[u]:
            strength[label[y]] = strength.get(label[y], 0) + 1
        internal = strength.get(label[u], 0)
        emax = max(
            [s for c, s in strength.items() if c != label[u]], default=0
        ) or 1
        same = [y for y in adj[u] if label[y] == label[u]]
        tri = sum(
            1 for x, y in itertools.combinations(sorted(same), 2) if y in adj[x]
        )
        cin = 2.0 * tri / (internal * (internal - 1)) if internal >= 2 else 0.0
        out[u] = internal / emax / len(adj[u]) - (1.0 - cin)
    return out


def test_permanence_random(spark):
    rng = random.Random(5)
    n = 24
    edges = [
        (u, v)
        for u, v in itertools.combinations(range(n), 2)
        if rng.random() < 0.2
    ]
    label = {u: u % 3 for u in range(n)}
    g = _graph(spark, n, edges)
    part = local_frame(
        spark, [(u, label[u]) for u in range(n)], "id long, label long"
    )
    got = {r["id"]: r["permanence"] for r in permanence_centrality(g, part).collect()}
    exp = _perm_replica(n, edges, label)
    for u in range(n):
        assert got[u] == pytest.approx(exp[u], rel=1e-12, abs=1e-12), u


def test_permanence_pure_community(spark):
    # a clique fully inside one community: I=deg, c_in=1, E_max falls
    # back to 1 -> perm = 1/1... internal/1/deg - 0 = 1.0
    edges = list(itertools.combinations(range(4), 2))
    g = _graph(spark, 4, edges)
    part = g.vertices().selectExpr("id", "0 AS label")
    got = {r["id"]: r["permanence"] for r in permanence_centrality(g, part).collect()}
    for u in range(4):
        assert got[u] == pytest.approx(1.0)


def test_local_partition_coverage(spark):
    from networkit_spark.operators.centrality import local_partition_coverage

    # weighted: 0-1 (w=2, same part), 0-2 (w=1, other), isolated 3
    df = local_frame(
        spark, [(0, 1, 2.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    verts = local_frame(spark, [(i,) for i in range(4)], "id long")
    from networkit_spark.graph import Graph

    g = Graph.from_edges(df, directed=False, weighted=True, vertices=verts)
    part = local_frame(
        spark, [(0, 0), (1, 0), (2, 1), (3, 1)], "id long, label long"
    )
    got = {r["id"]: r["score"] for r in local_partition_coverage(g, part).collect()}
    assert got == {0: pytest.approx(2.0 / 3.0), 1: 1.0, 2: 0.0, 3: 0.0}
