"""Assortativity: hand values (star = −1), Pearson oracle on ER with the
same canonical edge orientation, nominal mixing-matrix variant
(Assortativity.cpp:33-103)."""

import math

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.correlation import (
    attribute_assortativity,
    degree_assortativity,
    nominal_assortativity,
)
from networkit_spark.session import local_frame
from tests.fixtures import erdos_renyi


def _pearson_oracle(edges, attr):
    pairs = sorted({(min(u, v), max(u, v)) for u, v in edges})
    xs = [attr[u] for u, _ in pairs]
    ys = [attr[v] for _, v in pairs]
    m = len(pairs)
    xm, ym = sum(xs) / m, sum(ys) / m
    a = sum((x - xm) * (y - ym) for x, y in zip(xs, ys))
    b = sum((x - xm) ** 2 for x in xs)
    c = sum((y - ym) ** 2 for y in ys)
    return a / math.sqrt(b * c)


def test_star_degenerate_is_nan(spark):
    """Star: the canonical-orientation x side is the constant center
    degree → zero variance → 0/0, exactly like the reference's
    single-orientation formula (Assortativity.cpp:88-98)."""
    edges = [(0, i) for i in range(1, 6)]
    g = Graph.from_pairs(spark, edges, directed=False)
    assert math.isnan(degree_assortativity(g))


def test_double_star_hand_value(spark):
    """Two hubs joined, two leaves each: degree pairs over canonical
    edges (x=deg_min_id, y=deg_other) = (3,1),(3,1),(3,3),(3,1),(3,1)
    → x constant... use leaf-asymmetric sizes so both sides vary:
    hub 0 (deg 3) - hub 1 (deg 2), leaves 2,3 on 0 and leaf 4 on 1.
    pairs: (0,1):(3,2) (0,2):(3,1) (0,3):(3,1) (1,4):(2,1) — oracle
    cross-checks the closed form."""
    edges = [(0, 1), (0, 2), (0, 3), (1, 4)]
    deg = {0: 3, 1: 2, 2: 1, 3: 1, 4: 1}
    g = Graph.from_pairs(spark, edges, directed=False)
    got = degree_assortativity(g)
    assert got == pytest.approx(_pearson_oracle(edges, deg), abs=1e-9)


def test_degree_assortativity_oracle_er(spark):
    edges = erdos_renyi(40, 0.12, seed=17)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    deg = {v: 0 for v in range(40)}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    got = degree_assortativity(g)
    want = _pearson_oracle(edges, deg)
    assert got == pytest.approx(want, abs=1e-9)


def test_attribute_assortativity_custom(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    attr = {0: 1.0, 1: 2.0, 2: 1.0, 3: 2.0}
    g = Graph.from_pairs(spark, edges, directed=False)
    attr_df = local_frame(spark, list(attr.items()), "id long, value double")
    got = attribute_assortativity(g, attr_df)
    assert got == pytest.approx(_pearson_oracle(edges, attr), abs=1e-9)


def test_nominal_perfectly_assortative(spark):
    """Two cliques, labels = clique: every edge intra → r = 1."""
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    g = Graph.from_pairs(spark, edges, directed=False)
    labels = local_frame(
        spark, [(i, i // 3) for i in range(6)], "id long, label long"
    )
    assert nominal_assortativity(g, labels) == pytest.approx(1.0)


def test_nominal_hand_mixing_matrix(spark):
    """K4 with labels {0,1},{2,3} under the REFERENCE's normalization
    (mirrored inter-type counts divided by m, not 2m —
    Assortativity.cpp:44-57, a quirk reproduced faithfully):
    E = [[1/6, 4/6],[4/6, 1/6]], diag 2/6, a = b = [5/6, 5/6],
    abSum = 50/36 → r = (12/36 − 50/36)/(36/36 − 50/36) = 19/7."""
    edges = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    g = Graph.from_pairs(spark, edges, directed=False)
    labels = local_frame(
        spark, [(0, 0), (1, 0), (2, 1), (3, 1)], "id long, label long"
    )
    assert nominal_assortativity(g, labels) == pytest.approx(19.0 / 7.0)
