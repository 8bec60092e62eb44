"""Algebraic distance (Chen & Safro) vs a pure-numpy oracle that
replicates AlgebraicDistance.cpp:27-146 semantics with the engine's
deterministic md5 init."""

import hashlib

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import (
    algebraic_distance_edge_scores,
    algebraic_distance_loads,
)
from networkit_spark.session import local_frame

# weighted undirected graph: two tight pairs bridged weakly + isolated 9
EDGES = [(0, 1, 4.0), (1, 2, 4.0), (2, 3, 0.5), (3, 4, 4.0), (4, 5, 4.0)]
NODES = [0, 1, 2, 3, 4, 5, 9]


def _init(u: int, sys: int, seed: int = 1) -> float:
    h = hashlib.md5(f"ad|{seed}|{u}|{sys}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


def _oracle_loads(num_systems, num_iters, omega, seed=1):
    idx = {u: i for i, u in enumerate(NODES)}
    n = len(NODES)
    adj = np.zeros((n, n))
    for u, v, w in EDGES:
        adj[idx[u], idx[v]] = w
        adj[idx[v], idx[u]] = w
    wdeg = adj.sum(axis=1)
    loads = np.array(
        [[_init(u, s, seed) for s in range(num_systems)] for u in NODES]
    )
    for _ in range(num_iters):
        gathered = adj @ loads
        with np.errstate(invalid="ignore"):
            val = gathered / wdeg[:, None]
        new = (1 - omega) * loads + omega * val
        # engine deviation (documented): isolated nodes keep their load
        new[wdeg == 0] = loads[wdeg == 0]
        loads = new
    mn, mx = loads.min(axis=0), loads.max(axis=0)
    loads = (mn - loads) / (mn - mx)
    return {u: loads[idx[u]] for u in NODES}


@pytest.fixture(scope="module")
def g(spark):
    e = local_frame(spark, EDGES, "src long, dst long, weight double")
    v = local_frame(spark, [(u,) for u in NODES], "id long")
    return Graph.from_edges(e, directed=False, weighted=True, vertices=v)


def test_loads_match_numpy(g):
    want = _oracle_loads(4, 6, 0.5)
    got = {}
    for r in algebraic_distance_loads(g, num_systems=4, num_iters=6).collect():
        got.setdefault(r["id"], {})[r["sys"]] = r["load"]
    for u in NODES:
        vec = np.array([got[u][s] for s in range(4)])
        assert np.allclose(vec, want[u], atol=1e-12), u


def test_edge_scores_max_norm(g):
    want = _oracle_loads(4, 6, 0.5)
    scores = {
        (r["u"], r["v"]): r["ad"]
        for r in algebraic_distance_edge_scores(
            g, num_systems=4, num_iters=6, norm=0
        ).collect()
    }
    assert set(scores) == {(u, v) for u, v, _ in EDGES}
    for (u, v), ad in scores.items():
        assert ad == pytest.approx(np.abs(want[u] - want[v]).max(), abs=1e-12)
    # tightly-coupled pair smooths together; the weak bridge stays far
    assert scores[(0, 1)] < scores[(2, 3)]
    assert scores[(4, 5)] < scores[(2, 3)]


def test_p_norm_and_determinism(g):
    want = _oracle_loads(3, 4, 0.5)
    scores = {
        (r["u"], r["v"]): r["ad"]
        for r in algebraic_distance_edge_scores(
            g, num_systems=3, num_iters=4, norm=2
        ).collect()
    }
    for (u, v), ad in scores.items():
        d = np.abs(want[u] - want[v])
        assert ad == pytest.approx(float((d**2).sum() ** 0.5), abs=1e-12)
    again = {
        (r["u"], r["v"]): r["ad"]
        for r in algebraic_distance_edge_scores(
            g, num_systems=3, num_iters=4, norm=2
        ).collect()
    }
    assert scores == again
