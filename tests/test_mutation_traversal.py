"""Graph mutation DML (§2.2) and traversals (§2.4): BFS, SSSP, bipartite,
topological sort."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.traversal import (
    bfs_distances,
    is_bipartite,
    shortest_paths,
    topological_sort,
)
from networkit_spark.session import local_frame


def test_add_remove_edges(spark):
    g = Graph.from_pairs(spark, [(0, 1)], directed=True, n=3)
    g2 = g.add_edges(local_frame(spark, [(1, 2)], "src long, dst long"))
    assert g2.num_edges() == 2
    # multi-edge kept by default (Graph.cpp:478-480), deduped on request
    g3 = g2.add_edges(local_frame(spark, [(0, 1)], "src long, dst long"))
    assert g3.num_edges() == 3
    assert g3.remove_multi_edges().num_edges() == 2
    g4 = g2.remove_edges(local_frame(spark, [(0, 1)], "src long, dst long"))
    assert g4.num_edges() == 1


def test_self_loops_and_weights(spark):
    g = Graph.from_pairs(spark, [(0, 0, 2.0), (0, 1, 3.0)], directed=True,
                         n=2, weighted=True)
    assert g.number_of_self_loops() == 1
    assert g.remove_self_loops().number_of_self_loops() == 0
    g2 = g.set_weight(0, 1, 10.0)
    assert g2.weight_of(0, 1) == 10.0
    g3 = g2.increase_weight(0, 1, 0.5)
    assert g3.weight_of(0, 1) == 10.5
    assert g3.weight_of(1, 0) is None


def test_undirected_weight_update_mirrors(spark):
    g = Graph.from_pairs(spark, [(0, 1, 1.0)], directed=False, n=2, weighted=True)
    g2 = g.set_weight(0, 1, 5.0)
    assert g2.weight_of(0, 1) == 5.0 and g2.weight_of(1, 0) == 5.0


def test_node_ops(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2)], directed=False, n=3)
    g2 = g.add_nodes(local_frame(spark, [(7,)], "id long"))
    assert g2.num_vertices() == 4 and g2.has_node(7)
    g3 = g2.remove_node(1)
    assert g3.num_vertices() == 3 and g3.num_edges() == 0  # incident edges gone
    assert g.has_edge(0, 1) and not g.has_edge(0, 2)


def test_bfs_distances(spark):
    # path 0-1-2-3 plus shortcut 0-3' via 4
    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3)]
    g = Graph.from_pairs(spark, edges, directed=False, n=6)
    d = {r["id"]: r["distance"] for r in bfs_distances(g, 0).collect()}
    assert d == {0: 0, 1: 1, 4: 1, 2: 2, 3: 2}  # node 5 unreachable, absent


def test_bfs_directed(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)], directed=True, n=3)
    d = {r["id"]: r["distance"] for r in bfs_distances(g, 1).collect()}
    assert d == {1: 0, 2: 1, 0: 2}


def test_shortest_paths_weighted(spark):
    # 0→1 w5; 0→2 w1, 2→1 w1 → dist(1)=2 (relaxation beats direct edge)
    edges = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0)]
    g = Graph.from_pairs(spark, edges, directed=True, n=3, weighted=True)
    d = {r["id"]: r["distance"] for r in shortest_paths(g, 0).collect()}
    assert d == {0: 0.0, 2: 1.0, 1: 2.0}


def test_shortest_paths_partial_rounds(spark):
    # 0→1 w5 directly, 0→2→1 at w2: one round sees only one-arc paths,
    # the second finds the cheaper two-arc path
    edges = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0)]
    g = Graph.from_pairs(spark, edges, directed=True, n=3, weighted=True)

    def dist(k):
        return {r["id"]: r["distance"] for r in shortest_paths(g, 0, max_iterations=k).collect()}

    assert dist(1) == {0: 0.0, 1: 5.0, 2: 1.0}
    assert dist(2) == {0: 0.0, 1: 2.0, 2: 1.0}


def test_bipartite(spark):
    even_cycle = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3), (3, 0)],
                                  directed=False, n=4)
    assert is_bipartite(even_cycle)
    odd_cycle = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)],
                                 directed=False, n=3)
    assert not is_bipartite(odd_cycle)
    with_loop = Graph.from_pairs(spark, [(0, 1), (1, 1)], directed=False, n=2)
    assert not is_bipartite(with_loop)


def test_topological_sort(spark):
    g = Graph.from_pairs(spark, [(0, 2), (1, 2), (2, 3)], directed=True, n=4)
    levels = {r["id"]: r["level"] for r in topological_sort(g).collect()}
    assert levels[0] == 0 and levels[1] == 0
    assert levels[2] == 1 and levels[3] == 2


def test_topological_sort_cycle_raises(spark):
    g = Graph.from_pairs(spark, [(0, 1), (1, 0)], directed=True, n=2)
    with pytest.raises(ValueError, match="cycle"):
        topological_sort(g)


def test_bipartite_directed(spark):
    # 2-coloring ignores direction: arcs into and out of the same side
    bipartite = Graph.from_pairs(spark, [(0, 1), (2, 1), (2, 3), (0, 3)],
                                 directed=True, n=4)
    assert is_bipartite(bipartite)
    odd_cycle = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)],
                                 directed=True, n=3)
    assert not is_bipartite(odd_cycle)
    # an odd cycle that is not a directed cycle
    odd_mixed = Graph.from_pairs(spark, [(0, 1), (0, 2), (1, 2)],
                                 directed=True, n=3)
    assert not is_bipartite(odd_mixed)


def test_bipartite_two_components(spark):
    even = [(0, 1), (1, 2), (2, 3), (3, 0)]
    odd = [(4, 5), (5, 6), (6, 4)]
    assert is_bipartite(Graph.from_pairs(spark, even + [(4, 5), (5, 6)],
                                         directed=False, n=7))
    assert not is_bipartite(Graph.from_pairs(spark, even + odd,
                                             directed=False, n=7))
    assert not is_bipartite(Graph.from_pairs(spark, odd + [(0, 1)],
                                             directed=False, n=7))
