"""ParallelAgglomerativeClusterer: proper partition, planted-structure
recovery, determinism, and the reference's termination contract
(ParallelAgglomerativeClusterer.cpp:20-84)."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.agglomerative import parallel_agglomerative
from networkit_spark.operators.quality import modularity
from networkit_spark.session import local_frame


def _labels(spark, edges, nodes=None):
    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges],
                         directed=False)
    if nodes:
        g = g.add_nodes(
            local_frame(spark, [(int(x),) for x in nodes], "id long"))
    lab = {r["id"]: r["label"] for r in parallel_agglomerative(g).collect()}
    return g, lab


def test_planted_cliques(spark):
    # K4s: every agglomeration level pairs evenly inside each clique, so
    # the only cross edge never wins a matching round. (With odd
    # leftover supernodes PAC — like the reference's PathGrowing on the
    # same scores — may legitimately match a positive-score bridge.)
    k1 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k2 = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    edges = k1 + k2 + [(3, 10)]
    g, lab = _labels(spark, edges)
    # proper partition over every vertex
    assert set(lab) == {x for e in edges for x in e}
    # the two cliques end up internally coherent and mutually separate
    c1 = {lab[i] for i in range(4)}
    c2 = {lab[i] for i in range(10, 14)}
    assert len(c1) == 1 and len(c2) == 1
    assert c1.isdisjoint(c2)
    ldf = local_frame(spark, list(lab.items()), "id long, label long")
    assert modularity(g, ldf) > 0.3


def test_deterministic(spark):
    rng = random.Random(3)
    edges = sorted({(i, j) for i in range(40) for j in range(i + 1, 40)
                    if rng.random() < 0.12})
    _, lab1 = _labels(spark, edges)
    _, lab2 = _labels(spark, edges)
    assert lab1 == lab2


def test_tiny_graph_singletons_survive(spark):
    # below MIN_NUM_COMMUNITIES the loop must stop, not collapse to one
    g, lab = _labels(spark, [(0, 1)])
    assert len(lab) == 2
    assert len(set(lab.values())) >= 1


def test_isolated_nodes_keep_labels(spark):
    g, lab = _labels(spark, [(0, 1), (1, 2)], nodes=[9])
    assert 9 in lab
    assert len({lab[0], lab[9]}) == 2
