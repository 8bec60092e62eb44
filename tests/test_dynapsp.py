"""DynAPSP — batch edge-insertion repair equals a fresh APSP run
(DynAPSP.cpp updateBatch contract, DynAPSPGTest semantics)."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.dynapsp import apsp_state, update_apsp
from networkit_spark.session import local_frame


def _as_map(df, tol=None):
    rows = {(r["s"], r["t"]): r["dist"] for r in df.collect()}
    if tol is None:
        return rows
    return {k: round(float(v), 9) for k, v in rows.items()}


def _assert_same(repaired, fresh, weighted=False):
    a = _as_map(repaired, tol=9 if weighted else None)
    b = _as_map(fresh, tol=9 if weighted else None)
    assert set(a) == set(b)
    for k in a:
        if weighted:
            assert a[k] == pytest.approx(b[k], abs=1e-9), k
        else:
            assert a[k] == b[k], k


def _batch(spark, pairs, weighted=False):
    if weighted:
        return local_frame(spark, pairs, "src long, dst long, weight double")
    return local_frame(spark, pairs, "src long, dst long")


def test_unweighted_undirected_chained_batches(spark):
    rng = random.Random(7)
    n = 30
    edges = [(u, v) for u in range(n) for v in range(u + 1, n) if rng.random() < 0.08]
    g = Graph.from_pairs(spark, edges, directed=False, n=n)
    state = apsp_state(g)

    g1, s1 = update_apsp(g, state, _batch(spark, [(0, 29), (5, 17), (3, 22)]))
    _assert_same(s1, apsp_state(g1))

    # chain a second batch on the repaired state
    g2, s2 = update_apsp(g1, s1, _batch(spark, [(1, 28), (2, 2_0)]))
    _assert_same(s2, apsp_state(g2))


def test_weighted_directed_with_decrease(spark):
    rng = random.Random(13)
    n = 20
    arcs = [
        (u, v, round(1.0 + 4.0 * rng.random(), 3))
        for u in range(n)
        for v in range(n)
        if u != v and rng.random() < 0.12
    ]
    assert arcs, "fixture degenerate"
    g = Graph.from_pairs(spark, arcs, directed=True, n=n, weighted=True)
    state = apsp_state(g)

    # new edge + a weight DECREASE on an existing arc (the reference's
    # EDGE_WEIGHT_INCREMENT with negative delta)
    u0, v0, w0 = arcs[0]
    g1, s1 = update_apsp(
        g, state, _batch(spark, [(0, n - 1, 0.5), (u0, v0, w0 / 4)], weighted=True)
    )
    _assert_same(s1, apsp_state(g1), weighted=True)


def test_batch_path_through_two_inserted_edges(spark):
    # path 0-1-...-9; inserting (0,20)+(20,9) requires round 2 of the
    # repair (the new 0→9 shortest path uses BOTH inserted edges via
    # the isolated waypoint 20)
    pairs = [(i, i + 1) for i in range(9)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=21)
    state = apsp_state(g)
    g1, s1 = update_apsp(g, state, _batch(spark, [(0, 20), (20, 9)]))
    fresh = apsp_state(g1)
    _assert_same(s1, fresh)
    d09 = {(r["s"], r["t"]): r["dist"] for r in s1.filter("s = 0 and t = 9").collect()}
    assert d09[(0, 9)] == 2  # 0→20→9 beats the 9-hop chain


def test_noop_insertion_keeps_state(spark):
    pairs = [(0, 1, 1.0), (1, 2, 1.0)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=3, weighted=True)
    state = apsp_state(g)
    # heavier parallel edge: the min-merge makes it a no-op
    g1, s1 = update_apsp(g, state, _batch(spark, [(0, 1, 5.0)], weighted=True))
    _assert_same(s1, apsp_state(g1), weighted=True)
    assert _as_map(s1, tol=9) == _as_map(state, tol=9)


def test_restricted_sources_guard_and_repair(spark):
    # SPSP-style state over a sampled source set: repair is exact when
    # the inserted edges' endpoints are sources, loud otherwise
    pairs = [(i, i + 1) for i in range(9)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=10)
    srcs = local_frame(spark, [(0,), (4,), (8,)], "s long")
    state = apsp_state(g, sources=srcs)
    g1, s1 = update_apsp(g, state, _batch(spark, [(0, 8)]))
    _assert_same(s1, apsp_state(g1, sources=srcs))
    with pytest.raises(ValueError):
        update_apsp(g, state, _batch(spark, [(0, 5)]))


def test_new_reachability_rows_appear(spark):
    # two components joined by the insertion: (s,t) pairs that did not
    # exist in the state must appear after repair
    pairs = [(0, 1), (2, 3)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=4)
    state = apsp_state(g)
    assert (0, 3) not in _as_map(state)
    g1, s1 = update_apsp(g, state, _batch(spark, [(1, 2)]))
    fresh = apsp_state(g1)
    _assert_same(s1, fresh)
    assert _as_map(s1)[(0, 3)] == 3
