"""GraphDifference: the edit script replayed on G1 reproduces G2
(GraphDifference.cpp contract) plus direct count checks."""

from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.graphdiff import (
    EDGE_ADDITION,
    EDGE_REMOVAL,
    NODE_ADDITION,
    NODE_REMOVAL,
    WEIGHT_UPDATE,
    difference_summary,
    graph_difference,
)
from networkit_spark.session import local_frame


def _g(spark, pairs, nodes=None, weighted=False):
    g = Graph.from_pairs(spark, pairs, directed=False, weighted=weighted)
    if nodes:
        g = g.add_nodes(local_frame(spark, [(int(x),) for x in nodes],
                                              "id long"))
    return g


def test_edit_script_replay(spark):
    g1 = _g(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 1.0)],
            nodes=[7])
    g2 = _g(spark, [(0, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0), (4, 5, 1.0)])
    edits = {(r["kind"], r["u"], r["v"]) for r in
             graph_difference(g1, g2).collect()}
    assert (EDGE_REMOVAL, 2, 3) in edits
    assert (EDGE_REMOVAL, 0, 3) in edits
    assert (EDGE_ADDITION, 1, 3) in edits
    assert (EDGE_ADDITION, 4, 5) in edits
    assert (NODE_REMOVAL, 7, None) in edits
    assert (NODE_ADDITION, 4, None) in edits and (NODE_ADDITION, 5, None) in edits
    # replay: (G1 edges - removals) + additions == G2 edges
    e1 = {(0, 1), (1, 2), (2, 3), (0, 3)}
    rem = {(u, v) for k, u, v in edits if k == EDGE_REMOVAL}
    add = {(u, v) for k, u, v in edits if k == EDGE_ADDITION}
    assert (e1 - rem) | add == {(0, 1), (1, 2), (1, 3), (4, 5)}


def test_weight_update(spark):
    g1 = _g(spark, [(0, 1, 1.0), (1, 2, 2.0)], weighted=True)
    g2 = _g(spark, [(0, 1, 1.0), (1, 2, 5.0)], weighted=True)
    row = difference_summary(g1, g2).collect()[0]
    assert row["weight_updates"] == 1
    assert row["edge_removals"] == 0 and row["edge_additions"] == 0
    upd = graph_difference(g1, g2).filter(F.col("kind") == WEIGHT_UPDATE).collect()
    assert [(r["u"], r["v"], r["w"]) for r in upd] == [(1, 2, 5.0)]


def test_identical_graphs_empty(spark):
    g = _g(spark, [(0, 1, 1.0), (1, 2, 1.0)])
    assert difference_summary(g, g).collect()[0]["total_edits"] == 0
