"""Left-right planarity — the reference GTest fixture family
(LeftRightPlanarityCheckGTest.cpp:155-317: paths/cycles/stars/trees/
wheels/K_n/grids/K3,3/mixed components) on the pure-python check, a
randomized networkx cross-validation sweep, and the distributed
per-block pipeline on composite graphs."""

import itertools
import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.planarity import (
    block_planarity,
    is_planar,
    lr_planarity_check,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _adj(edges):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, [])
        adj.setdefault(v, [])
        if v not in adj[u]:
            adj[u].append(v)
            adj[v].append(u)
    return adj


def _k(n, offset=0):
    return [(i + offset, j + offset) for i, j in itertools.combinations(range(n), 2)]


def _grid(rows, cols):
    e = []
    for r in range(rows):
        for c in range(cols):
            if c + 1 < cols:
                e.append((r * cols + c, r * cols + c + 1))
            if r + 1 < rows:
                e.append((r * cols + c, (r + 1) * cols + c))
    return e


def test_reference_fixture_family():
    # paths, cycles, stars, trees, wheels (GTest 169-212)
    for n in (2, 5, 9):
        assert lr_planarity_check(_adj([(i, i + 1) for i in range(n)]))
    for n in (3, 6, 10):
        cyc = [(i, (i + 1) % n) for i in range(n)]
        assert lr_planarity_check(_adj(cyc))
        wheel = cyc + [(n, i) for i in range(n)]
        assert lr_planarity_check(_adj(wheel))
    assert lr_planarity_check(_adj([(0, i) for i in range(1, 12)]))
    # complete graphs: K1..K4 planar, K5+ not (GTest 214-231)
    for n in (3, 4):
        assert lr_planarity_check(_adj(_k(n)))
    for n in (5, 6, 7):
        assert not lr_planarity_check(_adj(_k(n)))
    # grids planar (GTest 233-242)
    for rows, cols in ((2, 3), (4, 4), (3, 7)):
        assert lr_planarity_check(_adj(_grid(rows, cols)))
    # K3,3 (GTest 245-259) — Euler criterion does NOT fire (9 <= 3*6-6),
    # the LR phase must reject it
    k33 = [(a, b) for a in range(3) for b in range(3, 6)]
    assert not lr_planarity_check(_adj(k33))
    # K3,3 plus a disjoint planar component (GTest 298-317)
    mixed = k33 + [(10, 11), (11, 12), (12, 10)]
    assert not lr_planarity_check(_adj(mixed))
    # subdivided K5 (no Euler reject, needs the real test)
    sub_k5 = []
    nxt = 5
    for i, j in _k(5):
        sub_k5 += [(i, nxt), (nxt, j)]
        nxt += 1
    assert not lr_planarity_check(_adj(sub_k5))
    # Petersen graph — nonplanar, sparse
    pet = [(i, (i + 1) % 5) for i in range(5)]
    pet += [(i, i + 5) for i in range(5)]
    pet += [(5 + i, 5 + (i + 2) % 5) for i in range(5)]
    assert not lr_planarity_check(_adj(pet))


def test_networkx_randomized_cross_validation():
    nx = pytest.importorskip("networkx")
    rng = random.Random(31)
    agree_planar = agree_nonplanar = 0
    for trial in range(120):
        n = rng.randint(5, 18)
        # sparse enough that both outcomes occur
        p = rng.uniform(0.1, 0.45)
        edges = [
            (i, j) for i, j in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        g = nx.Graph(edges)
        g.add_nodes_from(range(n))
        want, _ = nx.check_planarity(g)
        got = lr_planarity_check(_adj(edges) or {0: []})
        assert got == want, (n, sorted(edges))
        if want:
            agree_planar += 1
        else:
            agree_nonplanar += 1
    assert agree_planar > 10 and agree_nonplanar > 10


def test_distributed_block_pipeline(spark):  # noqa: F811
    # K5 block + grid block sharing a cut vertex + pendant tree
    k5 = _k(5)                          # nodes 0..4, nonplanar block
    grid = [(u + 4, v + 4) for u, v in _grid(3, 3)]  # shares node 4
    tree = [(0, 100), (100, 101), (100, 102)]
    edges = k5 + grid + tree
    e = local_frame(
        spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    ids = sorted({x for p in edges for x in p})
    g = Graph.from_edges(
        e, directed=False,
        vertices=local_frame(spark, [(i,) for i in ids], "id long"),
    )
    rows = block_planarity(g).collect()
    verdicts = sorted((r["n_nodes"], r["is_planar"]) for r in rows)
    # K5 block: 5 nodes nonplanar; grid block: 9 nodes planar; tree
    # edges: three 2-node blocks, planar
    assert (5, False) in verdicts
    assert (9, True) in verdicts
    assert verdicts.count((2, True)) == 3
    assert is_planar(g) is False
    # remove the K5 block -> planar overall
    e2 = local_frame(
        spark, [(u, v, 1.0) for u, v in grid + tree], "src long, dst long, weight double"
    )
    ids2 = sorted({x for p in grid + tree for x in p})
    g2 = Graph.from_edges(
        e2, directed=False,
        vertices=local_frame(spark, [(i,) for i in ids2], "id long"),
    )
    assert is_planar(g2) is True


def test_euler_fast_reject(spark):  # noqa: F811
    # dense graph: whole-graph Euler criterion fires without any python
    edges = _k(12)
    e = local_frame(
        spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, directed=False, vertices=spark.range(12))
    assert is_planar(g) is False
