"""Group-closeness local swaps vs a pure-python exact replica and the
reference contract (CentralityGTest.cpp:2124-2186)."""

from collections import deque

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.groupcentrality import (
    group_closeness_local_swaps,
)
from networkit_spark.session import local_frame

EDGES = [
    (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (3, 8),
    (8, 9), (9, 10), (2, 11), (11, 12), (5, 13), (13, 14), (14, 15),
    (0, 16),
]
NODES = sorted({x for e in EDGES for x in e})
ADJ = {u: set() for u in NODES}
for a, b in EDGES:
    ADJ[a].add(b)
    ADJ[b].add(a)


def _bfs(s):
    d = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        for v in ADJ[u]:
            if v not in d:
                d[v] = d[u] + 1
                q.append(v)
    return d


DIST = {u: _bfs(u) for u in NODES}


def _mind(members, v):
    ds = [DIST[s][v] for s in members if v in DIST[s]]
    return min(ds) if ds else None


def _far(members):
    return sum(d for v in NODES if (d := _mind(members, v)) is not None)


def _py_swaps(group, max_swaps):
    members = sorted(set(group))
    sw = 0
    while sw < max_swaps:
        f0 = _far(members)
        cand = [
            v for v in NODES if v not in members and _mind(members, v) == 1
        ]
        best = None
        for x in members:
            for u in cand:
                s2 = [m for m in members if m != x] + [u]
                key = (_far(s2), x, u)
                if best is None or key < best:
                    best = key
        if best is None or best[0] >= f0:
            return members, sw, f0
        _, x, u = best
        members = sorted([m for m in members if m != x] + [u])
        sw += 1
    return members, sw, _far(members)


@pytest.fixture(scope="module")
def tree_graph(spark):
    df = local_frame(
        spark, [(a, b, 1.0) for a, b in EDGES], "src long, dst long, weight double"
    )
    return Graph.from_edges(df, directed=False, weighted=False)


def test_matches_python_exact_search(tree_graph):
    for grp, ms in [([0, 16, 1], 10), ([7, 10, 15, 16], 10)]:
        got = group_closeness_local_swaps(tree_graph, grp, max_swaps=ms)
        assert got == _py_swaps(grp, ms)


def test_reference_contract(tree_graph):
    """|group| preserved, swaps <= max_swaps, farness non-increasing,
    identity when 0 swaps (CentralityGTest.cpp:2166-2186)."""
    init = [7, 10, 15, 16]
    members, n_swaps, farness = group_closeness_local_swaps(
        tree_graph, init, max_swaps=100
    )
    assert len(members) == len(init)
    assert n_swaps <= 100
    assert farness <= _far(init)
    assert farness == _far(members)
    # local optimum: no single swap improves
    again = group_closeness_local_swaps(tree_graph, members, max_swaps=100)
    assert again == (members, 0, farness)


def test_max_swaps_cap(tree_graph):
    members, n_swaps, farness = group_closeness_local_swaps(
        tree_graph, [0, 1], max_swaps=1
    )
    assert n_swaps == 1
    assert (members, n_swaps, farness) == _py_swaps([0, 1], 1)


def test_validation(spark, tree_graph):
    ddf = local_frame(
        spark, [(0, 1, 1.0)], "src long, dst long, weight double"
    )
    dg = Graph.from_edges(ddf, directed=True)
    with pytest.raises(ValueError):
        group_closeness_local_swaps(dg, [0])
    with pytest.raises(ValueError):
        group_closeness_local_swaps(tree_graph, [])


def test_disconnected_components(spark):
    """Swaps stay inside reachable structure; unreached vertices are
    excluded from farness exactly as in the reference's BFSfrom sum."""
    df = local_frame(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (10, 11, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edges(df, directed=False)
    members, n_swaps, farness = group_closeness_local_swaps(
        g, [0], max_swaps=10
    )
    # center of the 3-path wins; the (10, 11) component is untouched
    assert members == [1]
    assert farness == 2
