"""Node2Vec walk + embedding tests.

Reference contract (EmbeddingGTest.cpp:33-71): features finite and
D-dimensional; constructor raises on isolated nodes and non-continuous
ids. Beyond that, the walks here are deterministic (seeded-hash draws),
so an independent pure-Python replica of the same semantics checks every
hop exactly.
"""

import math

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.embedding import (
    WALK_HASH_M,
    _A,
    _B,
    _C,
    _D,
    biased_random_walks,
    node2vec,
    skipgram_pairs,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _u_py(walk, pos, cand, seed):
    h1 = (walk * _A + pos * _B + cand * _C + seed * _D) % WALK_HASH_M
    h2 = (h1 * h1 + _A * h1 + _B) % WALK_HASH_M
    h3 = (h2 * h2 + _C * h2 + _D) % WALK_HASH_M
    return (h3 + 1) / (WALK_HASH_M + 1)


def _walks_py(pairs, n, p, q, L, N, seed):
    """Independent replica of biased_random_walks' exact semantics."""
    adj = {u: {} for u in range(n)}
    for a, b in pairs:
        adj[a][b] = 1.0
        adj[b][a] = 1.0
    out = {}
    for s in range(n):
        for c in range(N):
            wid = s * N + c
            walk = [s]
            if L > 1 and adj[s]:
                # first hop: uniform (weight ignored)
                best = max(
                    sorted(adj[s]),
                    key=lambda x: (_u_py(wid, 1, x, seed), -x),
                )
                walk.append(best)
                prev, cur = s, best
                for pos in range(2, L):
                    if not adj[cur]:
                        break
                    best_key, best_x = None, None
                    for x in sorted(adj[cur]):
                        w = adj[cur][x]
                        if x == prev:
                            wa = w / p
                        elif x in adj[prev]:
                            wa = w
                        else:
                            wa = w / q
                        key = math.log(_u_py(wid, pos, x, seed)) / wa
                        if best_key is None or key > best_key or (
                            key == best_key and x < best_x
                        ):
                            best_key, best_x = key, x
                    walk.append(best_x)
                    prev, cur = cur, best_x
            out[wid] = walk
    return out


PAIRS = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5), (1, 4)]


def _collect_walks(df):
    rows = df.orderBy("walk", "pos").collect()
    out = {}
    for r in rows:
        out.setdefault(r["walk"], []).append(r["node"])
    return out


def test_walks_match_python_replica(spark):  # noqa: F811
    g = Graph.from_pairs(spark, PAIRS, directed=False, n=6)
    got = _collect_walks(
        biased_random_walks(g, p=0.5, q=2.0, walk_length=6, walks_per_node=2, seed=11)
    )
    want = _walks_py(PAIRS, 6, p=0.5, q=2.0, L=6, N=2, seed=11)
    assert got == want


def test_walks_deterministic_and_seed_sensitive(spark):  # noqa: F811
    g = Graph.from_pairs(spark, PAIRS, directed=False, n=6)
    a = _collect_walks(biased_random_walks(g, walk_length=5, walks_per_node=1, seed=3))
    b = _collect_walks(biased_random_walks(g, walk_length=5, walks_per_node=1, seed=3))
    c = _collect_walks(biased_random_walks(g, walk_length=5, walks_per_node=1, seed=4))
    assert a == b
    assert a != c


def test_walks_shorten_at_dead_end(spark):  # noqa: F811
    # directed path 0→1→2: every walk from 0 is exactly [0,1,2]
    g = Graph.from_edges(
        local_frame(spark, [(0, 1), (1, 2)], "src long, dst long"), directed=True
    )
    got = _collect_walks(
        biased_random_walks(g, walk_length=10, walks_per_node=1, seed=1)
    )
    assert got[0] == [0, 1, 2]
    assert got[1] == [1, 2]
    assert got[2] == [2]


def test_return_bias(spark):  # noqa: F811
    # tiny p strongly favors immediate backtracking; tiny q favors leaving
    g = Graph.from_pairs(spark, PAIRS, directed=False, n=6)
    returny = _collect_walks(
        biased_random_walks(g, p=0.01, q=1.0, walk_length=8, walks_per_node=2, seed=5)
    )
    frac_back = np.mean(
        [
            w[i] == w[i - 2]
            for w in returny.values()
            for i in range(2, len(w))
        ]
    )
    explory = _collect_walks(
        biased_random_walks(g, p=100.0, q=1.0, walk_length=8, walks_per_node=2, seed=5)
    )
    frac_back2 = np.mean(
        [
            w[i] == w[i - 2]
            for w in explory.values()
            for i in range(2, len(w))
        ]
    )
    assert frac_back > 0.8
    assert frac_back2 < 0.2


def test_node2vec_reference_contract(spark):  # noqa: F811
    # isolated node → raises (EmbeddingGTest.cpp:47-51)
    g_iso = Graph.from_pairs(spark, [(0, 1)], directed=False, n=3)
    with pytest.raises(ValueError, match="[Ii]solated"):
        node2vec(g_iso, L=3, N=1, D=4)
    # non-continuous ids → raises (EmbeddingGTest.cpp:54-60)
    g_gap = Graph.from_pairs(spark, [(0, 1), (1, 7)], directed=False)
    with pytest.raises(ValueError, match="continuous"):
        node2vec(g_gap, L=3, N=1, D=4)


def test_node2vec_features_finite_and_structured(spark):  # noqa: F811
    # planted 2-community graph (cluster = id % 2): embeddings separate
    # the communities (intra-cluster cosine > inter-cluster)
    from networkit_spark.generators import planted_partition

    n = 24
    edges = planted_partition(spark, n, k=2, p_intra=0.8, p_inter=0.04, seed=9)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    # Q>1 keeps walks local (BFS-like) — 95% of skip-gram pairs stay
    # within one planted community at q=4 on this graph
    res = node2vec(
        g, P=1.0, Q=4.0, L=20, N=6, D=16, window=4, seed=2,
        iterations=2, local_epochs=40, lr=0.1,
    )
    feats = {
        r["id"]: np.array(r["vector"], dtype=np.float64)
        for r in res.features.collect()
    }
    assert len(feats) == n and all(len(v) == 16 for v in feats.values())
    assert all(np.isfinite(v).all() for v in feats.values())

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-12))

    intra, inter = [], []
    for a in range(n):
        for b in range(a + 1, n):
            (intra if a % 2 == b % 2 else inter).append(cos(feats[a], feats[b]))
    assert np.mean(intra) > np.mean(inter) + 0.1


def test_skipgram_pairs_window(spark):  # noqa: F811
    walks = local_frame(
        spark, [(0, 0, 10), (0, 1, 11), (0, 2, 12), (0, 3, 13)],
        "walk long, pos int, node long",
    )
    got = {
        (r["center"], r["context"])
        for r in skipgram_pairs(walks, window=1).collect()
    }
    assert got == {(10, 11), (11, 10), (11, 12), (12, 11), (12, 13), (13, 12)}
