"""LFM overlapping communities: the testable contract is LFMLocal's
fixed point (LFMLocal.cpp:30-96) — in every returned community, no
shell node has a strictly positive fitness gain and no non-seed member
has an improving removal — plus LFM.cpp's full-cover guarantee."""

import math
import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.lfm import lfm_cover
from networkit_spark.session import local_frame


def _fitness(w, c, alpha):
    return 2.0 * w / (2.0 * w + c) ** alpha


def _check_fixed_point(nodes, edges, cover, alpha):
    adj = {u: set() for u in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    deg = {u: len(adj[u]) for u in nodes}
    for seed, members in cover.items():
        assert seed in members, "seed must stay in its community"
        ideg = {u: len(adj[u] & members) for u in set().union(
            members, *(adj[m] for m in members)) or members}
        twow = sum(ideg[m] for m in members)
        w = twow / 2.0
        cut = sum(deg[m] for m in members) - twow
        if 2 * w + cut == 0:
            assert members == {seed}
            continue
        q0 = _fitness(w, cut, alpha)
        shell = set().union(*(adj[m] for m in members)) - members
        for x in shell:
            ext = deg[x] - ideg[x]
            gain = _fitness(w + ideg[x], cut - ideg[x] + ext, alpha) - q0
            assert gain <= 1e-9, f"shell {x} of {seed} still has gain {gain}"
        for u in members - {seed}:
            ext = deg[u] - ideg[u]
            rq = _fitness(w - ideg[u], cut + ideg[u] - ext, alpha) - q0
            assert rq <= 1e-9, f"member {u} of {seed} has improving removal"


def _run(spark, nodes, edges, alpha=1.0):
    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges],
                         directed=False)
    if nodes:
        g = g.add_nodes(
            local_frame(spark, [(int(x),) for x in nodes], "id long"))
    rows = lfm_cover(g, alpha=alpha).collect()
    cover = {}
    for r in rows:
        cover.setdefault(r["community"], set()).add(r["id"])
    return cover


def test_two_cliques_bridge(spark):
    k1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    k2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    edges = k1 + k2 + [(4, 10)]
    nodes = sorted({x for e in edges for x in e})
    cover = _run(spark, nodes, edges)
    _check_fixed_point(nodes, edges, cover, 1.0)
    covered = set().union(*cover.values())
    assert covered == set(nodes)
    # the two cliques come out as (subsets of) separate communities
    for members in cover.values():
        assert not ({0, 1, 2, 3} <= members and {11, 12, 13, 14} <= members)


@pytest.mark.parametrize("seed,alpha", [(2, 1.0), (9, 1.5)])
def test_random_fixed_point(spark, seed, alpha):
    rng = random.Random(seed)
    n = 30
    edges = sorted({(i, j) for i in range(n) for j in range(i + 1, n)
                    if rng.random() < 0.12})
    nodes = list(range(n))
    cover = _run(spark, nodes, edges, alpha=alpha)
    _check_fixed_point(nodes, edges, cover, alpha)
    assert set().union(*cover.values()) == set(nodes)


def test_isolated_singleton(spark):
    edges = [(0, 1), (1, 2), (0, 2)]
    cover = _run(spark, [0, 1, 2, 7], edges)
    assert cover.get(7) == {7}
    assert set().union(*cover.values()) == {0, 1, 2, 7}


def test_directed_rejected(spark):
    g = Graph.from_pairs(spark, [(0, 1, 1.0)], directed=True)
    with pytest.raises(ValueError):
        lfm_cover(g)
