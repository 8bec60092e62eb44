"""Link prediction vs brute-force Python oracles (reference semantics:
MissingLinksFinder.findAtDistance, neighborhood indices)."""

import math
from collections import deque

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.linkprediction import (
    link_prediction_scores,
    missing_links,
)
from networkit_spark.session import local_frame

# karate-club-ish small fixture: two clusters + bridge + pendant chain
EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 3),          # triangle + spur
    (3, 4),                                   # bridge
    (4, 5), (4, 6), (5, 6),                   # second triangle
    (6, 7), (7, 8),                           # chain
]
NODES = list(range(9))
NBRS = {u: set() for u in NODES}
for a, b in EDGES:
    NBRS[a].add(b)
    NBRS[b].add(a)


def _dist(u):
    d = {u: 0}
    q = deque([u])
    while q:
        x = q.popleft()
        for y in NBRS[x]:
            if y not in d:
                d[y] = d[x] + 1
                q.append(y)
    return d


def _missing_at(k):
    out = set()
    for u in NODES:
        for v, d in _dist(u).items():
            if d == k and u < v:
                out.add((u, v))
    return out


@pytest.fixture(scope="module")
def g(spark):
    e = local_frame(
        spark, [(a, b, 1.0) for a, b in EDGES], "src long, dst long, weight double"
    )
    return Graph.from_edges(e, directed=False)


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_missing_links_exact_distance(g, k):
    got = {(r["u"], r["v"]) for r in missing_links(g, k=k).collect()}
    assert got == _missing_at(k), k


def test_index_values(g):
    pairs = missing_links(g, k=2)
    rows = {(r["u"], r["v"]): r for r in link_prediction_scores(g, pairs).collect()}
    assert set(rows) == _missing_at(2)
    for (u, v), r in rows.items():
        cn = NBRS[u] & NBRS[v]
        assert r["common_neighbors"] == len(cn)
        union = len(NBRS[u] | NBRS[v])
        assert r["jaccard"] == pytest.approx(len(cn) / union if union else 0.0)
        assert r["adamic_adar"] == pytest.approx(
            sum(1.0 / math.log(len(NBRS[w])) for w in cn), abs=1e-12
        )
        assert r["resource_allocation"] == pytest.approx(
            sum(1.0 / len(NBRS[w]) for w in cn), abs=1e-12
        )
        assert r["pref_attachment"] == pytest.approx(len(NBRS[u]) * len(NBRS[v]))


def test_scores_on_pair_without_common_neighbors(g, spark):
    # (0, 8): far apart — every common-neighbor index must be 0, PA not
    pairs = local_frame(spark, [(0, 8)], "u long, v long")
    r = link_prediction_scores(g, pairs).collect()[0]
    assert r["common_neighbors"] == 0
    assert r["jaccard"] == 0.0
    assert r["adamic_adar"] == 0.0
    assert r["resource_allocation"] == 0.0
    assert r["pref_attachment"] == pytest.approx(len(NBRS[0]) * len(NBRS[8]))
