"""MaximalCliques vs a brute-force enumerator (the clique SET is unique,
so sorted-set equality is an exact order-free contract; reference:
cpp/clique/test/CliqueGTest.cpp which pins counts/sizes on fixtures)."""

import itertools
import random

from networkit_spark.graph import Graph
from networkit_spark.operators.clique import maximal_cliques
from networkit_spark.session import local_frame


def _brute_force(n, edges):
    adj = {v: set() for v in range(n)}
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    cliques = []
    # all maximal cliques by subset check (tiny n only)
    for size in range(1, n + 1):
        for sub in itertools.combinations(range(n), size):
            s = set(sub)
            if all(v in adj[u] for u, v in itertools.combinations(sub, 2)):
                # maximal: no outside vertex adjacent to all of s
                if not any(s <= adj[w] for w in range(n) if w not in s):
                    cliques.append(tuple(sorted(sub)))
    return sorted(cliques)


def _engine(spark, n, edges):
    df = local_frame(
        spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    verts = local_frame(spark, [(v,) for v in range(n)], "id long")
    g = Graph.from_edges(df, directed=False, vertices=verts)
    rows = maximal_cliques(g).collect()
    return sorted(tuple(r["clique"]) for r in rows)


def test_fixture_graph(spark):
    # two triangles sharing an edge + a pendant + an isolated vertex
    edges = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)]
    n = 6
    assert _engine(spark, n, edges) == _brute_force(n, edges)


def test_complete_graph(spark):
    n = 5
    edges = list(itertools.combinations(range(n), 2))
    got = _engine(spark, n, edges)
    assert got == [tuple(range(n))]


def test_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 10
        edges = [
            (u, v)
            for u, v in itertools.combinations(range(n), 2)
            if rng.random() < 0.35
        ]
        assert _engine(spark, n, edges) == _brute_force(n, edges), trial


def test_star_and_path(spark):
    # star K1,4: maximal cliques are the 4 edges
    edges = [(0, i) for i in range(1, 5)]
    assert _engine(spark, 5, edges) == _brute_force(5, edges)
    # path: every edge is a maximal clique
    edges = [(i, i + 1) for i in range(4)]
    assert _engine(spark, 5, edges) == _brute_force(5, edges)
