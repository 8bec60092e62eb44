"""Biconnected components: Tarjan–Vishkin DataFrame program vs an
independent pure-Python Hopcroft–Tarjan (the reference's own algorithm,
BiconnectedComponents.cpp:36-111) — exact edge-partition equality."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.biconnected import biconnected_components
from networkit_spark.session import local_frame


# ------------------------------------------------------------ HT oracle
def ht_blocks(nodes, edges):
    """Iterative Hopcroft–Tarjan. Returns the set of blocks, each a
    frozenset of (u, v) edges with u < v."""
    adj = {u: [] for u in nodes}
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    visited, disc, low = set(), {}, {}
    blocks = []
    for start in sorted(nodes):
        if start in visited or not adj[start]:
            visited.add(start)
            continue
        disc[start] = low[start] = 0
        visited.add(start)
        counter = 1
        edge_stack = []
        stack = [(None, start, iter(sorted(adj[start])))]
        while stack:
            parent, u, children = stack[-1]
            advanced = False
            for w in children:
                if w == parent:
                    continue
                if w in visited:
                    if disc[w] < disc[u]:  # back edge, seen once
                        low[u] = min(low[u], disc[w])
                        edge_stack.append((u, w))
                else:
                    disc[w] = low[w] = counter
                    counter += 1
                    visited.add(w)
                    edge_stack.append((u, w))
                    stack.append((u, w, iter(sorted(adj[w]))))
                    advanced = True
                    break
            if not advanced:
                stack.pop()
                if parent is None:
                    continue
                low[parent] = min(low[parent], low[u])
                if low[u] >= disc[parent]:
                    blk = set()
                    while edge_stack:
                        e = edge_stack.pop()
                        blk.add((min(e), max(e)))
                        if e == (parent, u):
                            break
                    blocks.append(frozenset(blk))
    return set(blocks)


def spark_blocks(spark, nodes, edges):
    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges],
                         directed=False)
    if nodes:
        g = g.add_nodes(
            local_frame(spark, [(int(x),) for x in nodes], "id long"))
    res = biconnected_components(g)
    rows = res.edge_blocks.collect()
    by_block = {}
    for r in rows:
        by_block.setdefault(r["block"], set()).add((r["u"], r["v"]))
    return set(frozenset(s) for s in by_block.values()), res


CASES = {
    "path": [(0, 1), (1, 2), (2, 3)],
    "triangle_tail": [(0, 1), (1, 2), (0, 2), (2, 3)],
    "two_triangles_shared": [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)],
    "k4": [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)],
    "c6": [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 5)],
    "star": [(0, 1), (0, 2), (0, 3), (0, 4)],
    "two_comps": [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)],
    "theta": [(0, 1), (1, 2), (2, 3), (0, 3), (1, 3)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_small_graphs(spark, name):
    edges = CASES[name]
    nodes = sorted({x for e in edges for x in e})
    got, _ = spark_blocks(spark, nodes, edges)
    assert got == ht_blocks(nodes, edges)


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_random_gnp(spark, seed):
    rng = random.Random(seed)
    n, p = 36, 0.07
    edges = sorted(
        {(i, j) for i in range(n) for j in range(i + 1, n) if rng.random() < p}
    )
    nodes = list(range(n))
    got, res = spark_blocks(spark, nodes, edges)
    want = ht_blocks(nodes, edges)
    assert got == want

    # articulation points agree: nodes in > 1 block
    from collections import Counter

    member = Counter()
    for blk in want:
        for u in {x for e in blk for x in e}:
            member[u] += 1
    want_arts = {u for u, c in member.items() if c > 1}
    got_arts = {r["id"] for r in res.articulation_points().collect()}
    assert got_arts == want_arts

    # component sizes: node count per block
    want_sizes = sorted(len({x for e in blk for x in e}) for blk in want)
    got_sizes = sorted(r["size"] for r in res.component_sizes().collect())
    assert got_sizes == want_sizes


def test_isolated_and_counts(spark):
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges],
                         directed=False)
    g = g.add_nodes(local_frame(g.edges.sparkSession, [(99,)], "id long"))
    res = biconnected_components(g)
    counts = {
        r["id"]: r["n_blocks"]
        for r in res.node_block_counts(g.vertices()).collect()
    }
    assert counts == {0: 1, 1: 1, 2: 2, 3: 1, 99: 0}


def test_directed_rejected(spark):
    g = Graph.from_pairs(spark, [(0, 1, 1.0)], directed=True)
    with pytest.raises(ValueError):
        biconnected_components(g)
