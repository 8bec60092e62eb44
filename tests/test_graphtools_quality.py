"""GraphTools transforms, quality measures, degree/eigenvector centrality."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.graphtools import (
    append_graph,
    compact_graph,
    continuous_node_ids,
    density,
    max_degree,
    merge_graph,
    subgraph_from_nodes,
    to_undirected,
    transpose,
)
from networkit_spark.operators.centrality import degree_centrality, eigenvector_centrality
from networkit_spark.operators.quality import (
    coverage,
    equal_clusterings,
    is_proper_clustering,
    modularity,
)
from networkit_spark.session import local_frame


def test_transpose(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2)], directed=True, n=3)
    t = transpose(g)
    got = {(r["src"], r["dst"]) for r in t.edges.collect()}
    assert got == {(1, 0), (2, 1)}


def test_to_undirected(spark):
    g = Graph.from_pairs(spark, [(0, 1)], directed=True, n=2)
    u = to_undirected(g)
    got = {(r["src"], r["dst"]) for r in u.edges.collect()}
    assert got == {(0, 1), (1, 0)}
    assert u.num_edges() == 1


def test_subgraph(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3)], directed=False, n=5)
    nodes = local_frame(spark, [(0,), (1,), (2,)], "id long")
    s = subgraph_from_nodes(g, nodes)
    assert s.num_vertices() == 3
    assert s.num_edges() == 2  # (0,1),(1,2); (2,3) dropped


def test_compact_and_continuous_ids(spark):
    g = Graph.from_pairs(spark, [(10, 20), (20, 40)], directed=False)
    ids = {r["id"]: r["compact_id"] for r in continuous_node_ids(g).collect()}
    assert ids == {10: 0, 20: 1, 40: 2}
    c = compact_graph(g)
    got = {(r["src"], r["dst"]) for r in c.edges.collect()}
    assert got == {(0, 1), (1, 0), (1, 2), (2, 1)}


def test_append_merge(spark):
    a = Graph.from_pairs(spark, [(0, 1)], directed=False, n=2)
    b = Graph.from_pairs(spark, [(0, 1)], directed=False, n=2)
    ap = append_graph(a, b)
    assert ap.num_vertices() == 4 and ap.num_edges() == 2
    mg = merge_graph(a, b)
    assert mg.num_vertices() == 2 and mg.num_edges() == 1


def test_density_maxdegree(spark):
    g = Graph.from_pairs(spark, [(0, 1), (0, 2), (0, 3)], directed=False, n=4)
    assert abs(density(g) - 3 / 6) < 1e-12
    assert max_degree(g) == 3  # star center


def test_degree_centrality(spark):
    g = Graph.from_pairs(spark, [(0, 1), (0, 2), (0, 3)], directed=False, n=4)
    dc = {r["id"]: r["score"] for r in degree_centrality(g, normalized=True).collect()}
    assert dc[0] == 1.0 and abs(dc[1] - 1 / 3) < 1e-12


def test_modularity_two_cliques(spark):
    """Two 3-cliques joined by one edge; hand value for the clique split:
    m=7, intra=6, vols=(7,7) → Q = 6/7 − 2·(7/14)² = 6/7 − 1/2."""
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    g = Graph.from_pairs(spark, edges, directed=False, n=6)
    labels = local_frame(
        spark, [(i, 0 if i < 3 else 1) for i in range(6)], "id long, label long"
    )
    assert abs(modularity(g, labels) - (6 / 7 - 0.5)) < 1e-12
    assert abs(coverage(g, labels) - 6 / 7) < 1e-12


def test_modularity_self_loop(spark):
    """Self-loop weight counts once in coverage/m but twice in volume
    (Modularity.cpp:56)."""
    edges = [(0, 1), (1, 1)]
    g = Graph.from_pairs(spark, edges, directed=False, n=2)
    labels = local_frame(spark, [(0, 0), (1, 0)], "id long, label long")
    # one cluster: coverage 1; m=2; vol = 1 + (1+2) = 4 → Q = 1 − (4/4)² = 0
    assert abs(modularity(g, labels) - 0.0) < 1e-12


def test_equal_clusterings_relabel_invariant(spark):
    g = Graph.from_pairs(spark, [(0, 1), (2, 3)], directed=False, n=4)
    a = local_frame(spark, [(0, 7), (1, 7), (2, 9), (3, 9)], "id long, label long")
    b = local_frame(spark, [(0, 1), (1, 1), (2, 2), (3, 2)], "id long, label long")
    c = local_frame(spark, [(0, 1), (1, 2), (2, 2), (3, 2)], "id long, label long")
    assert equal_clusterings(g, a, b)
    assert not equal_clusterings(g, a, c)
    assert is_proper_clustering(g, a)


def test_eigenvector_centrality(spark):
    """Triangle + pendant (non-bipartite, so power iteration converges):
    matches the numpy principal eigenvector."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    g = Graph.from_pairs(spark, edges, directed=False, n=4)
    ev = {r["id"]: r["score"] for r in eigenvector_centrality(g, tol=1e-9).collect()}
    A = np.zeros((4, 4))
    for u, v in edges:
        A[u, v] = A[v, u] = 1.0
    w, vecs = np.linalg.eigh(A)
    principal = np.abs(vecs[:, np.argmax(w)])
    got = np.array([ev[i] for i in range(4)])
    assert np.allclose(got, principal, atol=1e-5)


def test_katz_centrality(spark):
    """Katz vs numpy closed form x = (I - αAᵀ)⁻¹ β𝟙 (normalized)."""
    from networkit_spark.operators.centrality import katz_centrality

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    g = Graph.from_pairs(spark, edges, directed=True, n=4)
    got = {r["id"]: r["score"] for r in
           katz_centrality(g, alpha=0.1, beta=1.0, tol=1e-12).collect()}
    A = np.zeros((4, 4))
    for u, v in edges:
        A[u, v] = 1.0
    x = np.linalg.solve(np.eye(4) - 0.1 * A.T, np.ones(4) * 1.0)
    # engine iterates from 0 → geometric series INCLUDING the +β term;
    # closed form x solves the same fixed point; compare normalized
    x = x / np.linalg.norm(x)
    got_v = np.array([got[i] for i in range(4)])
    assert np.allclose(got_v, x, atol=1e-6)


def test_core_decomposition(spark):
    """4-clique with a pendant path: clique vertices core 3, path 1."""
    from networkit_spark.operators.centrality import core_decomposition

    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    path = [(3, 4), (4, 5)]
    g = Graph.from_pairs(spark, clique + path, directed=False, n=6)
    cores = {r["id"]: r["core"] for r in core_decomposition(g).collect()}
    assert cores == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


def test_index_edges_consecutive_and_mirrored(spark):
    from networkit_spark.graphtools import edge_id, index_edges

    g = Graph.from_pairs(
        spark, [(0, 1), (1, 2), (2, 3), (0, 3)], directed=False, n=4
    )
    idx = index_edges(g).collect()
    ids = sorted({r.eid for r in idx})
    assert ids == [0, 1, 2, 3]  # consecutive, one id per undirected edge
    by_pair = {(r.src, r.dst): r.eid for r in idx}
    assert by_pair[(0, 1)] == by_pair[(1, 0)]  # mirrored orientation
    assert edge_id(g, 2, 3) == by_pair[(2, 3)]
    assert edge_id(g, 0, 2) is None


def test_index_edges_directed(spark):
    from networkit_spark.graphtools import index_edges

    g = Graph.from_pairs(spark, [(0, 1), (1, 0), (1, 2)], directed=True, n=3)
    idx = index_edges(g).collect()
    assert sorted({r.eid for r in idx}) == [0, 1, 2]
    assert len(idx) == 3  # directed arcs each get their own id


def test_dynamic_nmi_distance_overlap_restriction(spark):  # noqa: F811
    """DynamicNMIDistance.cpp:27-127 replica: NMID over the nodes
    present in BOTH partitions only (isInBoth) — new-graph nodes
    missing from the old clustering are ignored."""
    import math

    from networkit_spark.operators.quality import dynamic_nmi_distance

    # old partition covers nodes 0..7; new partition covers 0..11
    old = [(i, i // 4) for i in range(8)]           # {0-3}, {4-7}
    new = [(i, i // 3) for i in range(12)]          # {0-2},{3-5},{6-8},{9-11}
    old_df = local_frame(spark, old, "id long, label long")
    new_df = local_frame(spark, new, "id long, label long")

    # pure-python reference formula over the intersection 0..7
    inter = [(dict(old)[u], dict(new)[u]) for u in range(8)]
    n = len(inter)
    conf: dict = {}
    for c, d in inter:
        conf[(c, d)] = conf.get((c, d), 0) + 1
    size_old: dict = {}
    size_new: dict = {}
    for c, d in inter:
        size_old[c] = size_old.get(c, 0) + 1
        size_new[d] = size_new.get(d, 0) + 1
    mi = sum(
        (k / n) * math.log2(k * n / (size_old[c] * size_new[d]))
        for (c, d), k in conf.items()
    )
    h_old = -sum((s / n) * math.log2(s / n) for s in size_old.values())
    h_new = -sum((s / n) * math.log2(s / n) for s in size_new.values())
    want = 1.0 - 2.0 * mi / (h_old + h_new)

    got = dynamic_nmi_distance(old_df, new_df)
    assert abs(got - want) < 1e-9

    # identical partitions -> distance 0; one-clusterings -> H_sum=0 -> 0
    assert dynamic_nmi_distance(new_df, new_df) < 1e-12
    one = local_frame(spark, [(i, 0) for i in range(5)],
                                "id long, label long")
    assert dynamic_nmi_distance(one, one) == 0.0
