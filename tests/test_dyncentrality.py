"""Dynamic centralities (batch-policy realizations of DynBetweenness /
DynApproxBetweenness / DynKatzCentrality / DynTopHarmonicCloseness):
the reference classes' own GTest contract is score-equality against a
static rerun on the current graph — asserted here per batch, plus the
event-application semantics (upsert, node add/remove, type guard)."""

import math

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.dyncentrality import (
    apply_graph_events,
    dyn_betweenness,
    dyn_katz_centrality,
    dyn_top_harmonic_closeness,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F811, F401


def _ev(spark, rows):
    return local_frame(spark, rows, "type string, u long, v long, w double")


def test_apply_events_upsert_nodes_and_guard(spark):  # noqa: F811
    g = Graph.from_pairs(
        spark, [(0, 1, 1.0), (1, 2, 2.0)], directed=False, n=3, weighted=True
    )
    g2 = apply_graph_events(
        g,
        _ev(spark, [
            ("EDGE_REMOVAL", 0, 1, 0.0),
            ("EDGE_WEIGHT_UPDATE", 1, 2, 5.0),
            ("EDGE_ADDITION", 2, 3, 1.0),
            ("NODE_ADDITION", 4, 4, 0.0),
            ("TIME_STEP", 0, 0, 0.0),
        ]),
    )
    pairs = {
        (r["src"], r["dst"]): r["weight"]
        for r in g2.edges.filter("src < dst").collect()
    }
    assert pairs == {(1, 2): 5.0, (2, 3): 1.0}
    assert g2.num_vertices() == 5  # 0..3 plus isolated 4

    g3 = apply_graph_events(
        g2, _ev(spark, [("NODE_REMOVAL", 2, 2, 0.0)])
    )
    assert g3.num_vertices() == 4
    assert g3.num_edges() == 0  # both remaining edges were incident to 2

    with pytest.raises(ValueError, match="not allowed"):
        apply_graph_events(g, _ev(spark, [("RESTORE", 0, 1, 1.0)]))


def test_dyn_betweenness_equals_static_recompute(spark):  # noqa: F811
    from networkit_spark.operators.betweenness import betweenness_centrality

    g = Graph.from_pairs(
        spark, [(0, 1), (1, 2), (2, 3), (3, 4), (1, 3)], directed=False, n=5
    )
    g2, scores = dyn_betweenness(
        g, _ev(spark, [("EDGE_ADDITION", 0, 4, 1.0),
                       ("EDGE_REMOVAL", 1, 3, 0.0)])
    )
    got = {r["id"]: r["score"] for r in scores.collect()}
    want = {r["id"]: r["score"] for r in betweenness_centrality(g2).collect()}
    assert set(got) == set(want)
    assert all(math.isclose(got[i], want[i], abs_tol=1e-9) for i in got)
    # and the post-batch graph is the one we meant
    assert g2.has_edge(0, 4) and not g2.has_edge(1, 3)


def test_dyn_katz_and_top_harmonic(spark):  # noqa: F811
    from networkit_spark.operators.centrality import katz_centrality
    from networkit_spark.operators.topcloseness import top_closeness

    g = Graph.from_pairs(
        spark, [(0, 1), (1, 2), (2, 0), (2, 3)], directed=False, n=5
    )
    ev = _ev(spark, [("EDGE_ADDITION", 3, 4, 1.0)])

    g2, katz = dyn_katz_centrality(g, ev)
    want = {r["id"]: r["score"] for r in katz_centrality(g2).collect()}
    got = {r["id"]: r["score"] for r in katz.collect()}
    assert all(math.isclose(got[i], want[i], abs_tol=1e-9) for i in want)

    g3, topk = dyn_top_harmonic_closeness(g, ev, k=3)
    want_top = top_closeness(g3, k=3, harmonic=True).collect()
    got_top = topk.collect()
    assert [(r["id"], round(r["score"], 9)) for r in got_top] == [
        (r["id"], round(r["score"], 9)) for r in want_top
    ]
