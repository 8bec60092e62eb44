"""Maximum spanning forest (Borůvka) vs a Kruskal union-find oracle
(UnionMaximumSpanningForest / KruskalMSF reference semantics), plus the
plain spanning forest's count/connectivity contract
(SpanningForest.cpp:15-31)."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.spanning import (
    maximum_spanning_forest,
    spanning_forest,
)
from networkit_spark.session import local_frame
from tests.fixtures import erdos_renyi


def _kruskal_msf(n, wedges):
    """Max spanning forest via union-find; returns (edge set, weight)."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen, total = set(), 0.0
    for u, v, w in sorted(wedges, key=lambda e: (-e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            chosen.add((min(u, v), max(u, v)))
            total += w
    return chosen, total


def test_msf_unique_weights_exact(spark):
    """Distinct weights → the maximum forest is unique → Borůvka must
    return exactly Kruskal's edge set."""
    edges = erdos_renyi(30, 0.15, seed=31)
    wedges = [(u, v, float((u * 37 + v * 101) % 997) + 1.0) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=30, weighted=True)
    got = {(r["u"], r["v"]) for r in maximum_spanning_forest(g).collect()}
    want, _ = _kruskal_msf(30, wedges)
    assert got == want


def test_msf_tie_weights_same_total(spark):
    """Equal weights: any maximum forest is valid — totals and edge
    counts must match the oracle, and the forest must be acyclic with
    the same connectivity."""
    edges = erdos_renyi(25, 0.2, seed=12)
    wedges = [(u, v, float(1 + (u + v) % 3)) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=25, weighted=True)
    forest = maximum_spanning_forest(g)
    rows = forest.collect()
    _, want_total = _kruskal_msf(25, wedges)
    assert sum(r["weight"] for r in rows) == pytest.approx(want_total)

    fg = Graph.from_edges(
        forest.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        directed=False,
        vertices=g.vertices(),
    )
    cc_g = connected_components(g).labels
    cc_f = connected_components(fg).labels
    assert {tuple(r) for r in cc_g.collect()} == {tuple(r) for r in cc_f.collect()}
    n_comp = cc_g.select("label").distinct().count()
    assert len(rows) == 25 - n_comp  # forest: n − #components edges


def test_spanning_forest_contract(spark):
    """Disconnected graph: one tree per component, n − #comp edges,
    connectivity preserved (what the reference's own test asserts)."""
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (6, 7), (7, 8), (8, 6)]
    g = Graph.from_pairs(spark, edges, directed=False, n=10)  # node 9 isolated
    forest = spanning_forest(g)
    rows = {(r["u"], r["v"]) for r in forest.collect()}
    assert len(rows) == 10 - 4  # components: {0,1,2},{3,4,5},{6,7,8},{9}
    fg = Graph.from_edges(
        forest.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        directed=False,
        vertices=g.vertices(),
    )
    cc_g = {tuple(r) for r in connected_components(g).labels.collect()}
    cc_f = {tuple(r) for r in connected_components(fg).labels.collect()}
    assert cc_g == cc_f


def test_msf_empty_graph(spark):
    g = Graph.from_pairs(spark, [], directed=False, n=3)
    assert maximum_spanning_forest(g).count() == 0


# ---------------------------------------------------------------- r2.9
# KruskalMSF/PrimMSF (minimum forest), RandomSpanningForest,
# RandomMaximumSpanningForest, UnionMaximumSpanningForest.

from networkit_spark.operators.spanning import (  # noqa: E402
    minimum_spanning_forest,
    random_maximum_spanning_forest,
    random_spanning_forest,
    union_maximum_spanning_forest,
)


def _kruskal_min(n, wedges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen, total = set(), 0.0
    for u, v, w in sorted(wedges, key=lambda e: (e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            chosen.add((min(u, v), max(u, v)))
            total += w
    return chosen, total


def test_min_msf_unique_weights_exact(spark):
    """Distinct weights: the minimum forest is unique, so the Borůvka
    result must equal Kruskal's (KruskalMSF.cpp) and Prim's (PrimMSF.cpp)
    edge-for-edge."""
    edges = erdos_renyi(30, 0.15, seed=77)
    wedges = [(u, v, float((u * 53 + v * 131) % 1009) + 1.0) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=30, weighted=True)
    got = {(r["u"], r["v"]) for r in minimum_spanning_forest(g).collect()}
    want, _ = _kruskal_min(30, wedges)
    assert got == want


def test_min_msf_tie_weights_total(spark):
    """Ties: any minimum forest is valid — totalWeight (the reference's
    reported scalar) is unique and must match."""
    edges = erdos_renyi(25, 0.2, seed=5)
    wedges = [(u, v, float(1 + (u * v) % 3)) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=25, weighted=True)
    rows = minimum_spanning_forest(g).collect()
    _, want_total = _kruskal_min(25, wedges)
    assert sum(r["weight"] for r in rows) == pytest.approx(want_total)


def test_random_spanning_forest_contract(spark):
    """RandomSpanningForest.cpp test surface: a spanning forest of every
    component (n − #comp edges, connectivity preserved), deterministic
    per seed, seed-sensitive."""
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (2, 3), (5, 6), (6, 7), (7, 5)]
    g = Graph.from_pairs(spark, edges, directed=False, n=9)
    f1 = {(r["u"], r["v"]) for r in random_spanning_forest(g, seed=1).collect()}
    f1b = {(r["u"], r["v"]) for r in random_spanning_forest(g, seed=1).collect()}
    assert f1 == f1b  # deterministic per seed
    assert len(f1) == 9 - 4  # components {0..3}, {4}, {5,6,7}, {8}
    assert f1 <= {(min(u, v), max(u, v)) for u, v in edges}
    # connectivity preserved
    fg = Graph.from_edges(
        local_frame(spark, sorted(f1), "src long, dst long"),
        directed=False, vertices=g.vertices(),
    )
    cc_g = {tuple(r) for r in connected_components(g).labels.collect()}
    cc_f = {tuple(r) for r in connected_components(fg).labels.collect()}
    assert cc_g == cc_f
    # seed sensitivity: across a few seeds at least two distinct forests
    forests = {
        frozenset(
            (r["u"], r["v"]) for r in random_spanning_forest(g, seed=s).collect()
        )
        for s in (1, 2, 3, 4)
    }
    assert len(forests) >= 2


def test_random_max_msf_ties_and_attribute(spark):
    """RandomMaximumSpanningForest: a maximum forest (total == Kruskal's),
    member of the UMSF, in_msf attribute consistent, seed-sensitive on a
    tie-heavy graph."""
    edges = erdos_renyi(20, 0.3, seed=9)
    wedges = [(u, v, float(1 + (u + v) % 2)) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=20, weighted=True)
    _, want_total = _kruskal_msf(20, wedges)
    att = random_maximum_spanning_forest(g, seed=3, attribute=True).collect()
    total = sum(r["weight"] for r in att if r["in_msf"])
    assert total == pytest.approx(want_total)
    assert {(r["u"], r["v"]) for r in att} == {
        (min(u, v), max(u, v)) for u, v, _ in wedges
    }
    umsf = {(r["u"], r["v"]) for r in union_maximum_spanning_forest(g).collect()}
    assert {(r["u"], r["v"]) for r in att if r["in_msf"]} <= umsf
    seeds = {
        frozenset(
            (r["u"], r["v"])
            for r in random_maximum_spanning_forest(g, seed=s).collect()
        )
        for s in (1, 2, 3)
    }
    assert len(seeds) >= 2


def test_umsf_exact_vs_cut_property(spark):
    """UnionMaximumSpanningForest EXACT: edge (u,v,w) belongs iff u, v are
    disconnected in the strictly-heavier subgraph — brute-forced in
    python per edge."""
    edges = erdos_renyi(18, 0.25, seed=21)
    wedges = [(u, v, float(1 + (u * 7 + v * 3) % 4)) for u, v in edges]
    g = Graph.from_pairs(spark, wedges, directed=False, n=18, weighted=True)
    got = {(r["u"], r["v"]) for r in union_maximum_spanning_forest(g).collect()}

    def connected(u, v, minw):
        adj = {}
        for a, b, w in wedges:
            if w > minw:
                adj.setdefault(a, []).append(b)
                adj.setdefault(b, []).append(a)
        seen, stack = {u}, [u]
        while stack:
            x = stack.pop()
            if x == v:
                return True
            for y in adj.get(x, []):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        return False

    want = {
        (min(u, v), max(u, v)) for u, v, w in wedges if not connected(u, v, w)
    }
    assert got == want


def test_umsf_unique_weights_shortcircuit(spark):
    """Globally unique weights: UMSF == the unique max forest."""
    edges = erdos_renyi(15, 0.3, seed=2)
    wedges = [
        (u, v, float(i + 1)) for i, (u, v) in enumerate(sorted(edges))
    ]
    g = Graph.from_pairs(spark, wedges, directed=False, n=15, weighted=True)
    umsf = {(r["u"], r["v"]) for r in union_maximum_spanning_forest(g).collect()}
    msf = {(r["u"], r["v"]) for r in maximum_spanning_forest(g).collect()}
    assert umsf == msf
