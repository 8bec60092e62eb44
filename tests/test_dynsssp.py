"""Dynamic SSSP — the DynBFS/DynDijkstra updateBatch contract: the
repaired (distance, npaths) state equals a fresh run on the edited
graph (DynBFS.cpp:77-170; DynSSSPGTest checks exactly this), for
insertion-only, deletion-only, and mixed batches, unweighted and
weighted, including reachability loss/gain."""

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.dynsssp import sssp_state, update_sssp
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _collect(state):
    return {
        r["id"]: (r["dist"], int(r["npaths"]))
        for r in state.collect()
    }


def _py_sssp(n, arcs, source):
    """Dijkstra + shortest-path counting, exact ints."""
    import heapq

    adj = {}
    for u, v, w in arcs:
        adj.setdefault(u, []).append((v, w))
    dist, cnt = {}, {}
    pq = [(0.0, source)]
    dist[source] = 0.0
    cnt[source] = 1
    settled = set()
    while pq:
        d, u = heapq.heappop(pq)
        if u in settled or d > dist.get(u, float("inf")):
            continue
        settled.add(u)
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                cnt[v] = cnt[u]
                heapq.heappush(pq, (nd, v))
            elif nd == dist.get(v, float("inf")):
                cnt[v] += cnt[u]
    # counts via heap settle order can double-count; recompute by level
    order = sorted(dist, key=lambda x: dist[x])
    cnt = {source: 1}
    radj = {}
    for u, v, w in arcs:
        radj.setdefault(v, []).append((u, w))
    for v in order:
        if v == source:
            continue
        cnt[v] = sum(
            cnt.get(u, 0)
            for u, w in radj.get(v, ())
            if u in dist and dist[u] + w == dist[v]
        )
    return {v: (dist[v], cnt[v]) for v in dist}


def _arcs_list(rows, directed, weighted):
    # Graph.edges for undirected graphs already stores both orientations
    return [
        (r["src"], r["dst"], float(r["weight"]) if weighted else 1.0)
        for r in rows
    ]


def _check_fresh(spark, g, source, weighted):
    st = sssp_state(g, source)
    want = _py_sssp(g.num_vertices(), _arcs_list(g.edges.collect(), g.directed, weighted), source)
    assert _collect(st) == want
    return st


def _edit_and_check(spark, g, st, source, added, removed, weighted):
    add_df = (
        local_frame(spark, added, "src long, dst long, weight double")
        if added else None
    )
    rm_df = (
        local_frame(spark, removed, "src long, dst long")
        if removed else None
    )
    g2, st2 = update_sssp(g, st, source, added=add_df, removed=rm_df)
    want = _py_sssp(
        g2.num_vertices(), _arcs_list(g2.edges.collect(), g2.directed, weighted), source
    )
    assert _collect(st2) == want
    return g2, st2


def test_dynbfs_additions_and_removals(spark):  # noqa: F811
    edges = erdos_renyi(spark, 40, 0.06, seed=8)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(40))
    st = _check_fresh(spark, g, 0, weighted=False)
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    # remove 5 existing edges, add 4 fresh ones
    removed = rows[::7][:5]
    existing = set(rows) | {(b, a) for a, b in rows}
    added = [(u, v, 1.0) for u in (0, 3) for v in (17, 29)
             if (u, v) not in existing][:4]
    g2, st2 = _edit_and_check(spark, g, st, 0, added, removed, weighted=False)
    # second batch on the updated state (chained updates stay exact)
    rows2 = [(r["src"], r["dst"]) for r in g2.edges.collect()]
    _edit_and_check(spark, g2, st2, 0, [(1, 38, 1.0)], rows2[::5][:4],
                    weighted=False)


def test_dyndijkstra_weighted_mixed(spark):  # noqa: F811
    edges = erdos_renyi(spark, 30, 0.1, seed=3).withColumn(
        "weight",
        (F.lit(1) + F.pmod(F.col("src") * 7 + F.col("dst") * 3, F.lit(4))).cast("double"),
    )
    g = Graph.from_edges(edges, directed=False, weighted=True,
                         vertices=spark.range(30))
    st = _check_fresh(spark, g, 2, weighted=True)
    rows = [(r["src"], r["dst"]) for r in g.edges.collect()]
    added = [(2, 27, 1.0), (5, 19, 2.0)]
    existing = set(rows) | {(b, a) for a, b in rows}
    added = [e for e in added if (e[0], e[1]) not in existing]
    _edit_and_check(spark, g, st, 2, added, rows[::6][:4], weighted=True)


def test_dynbfs_directed_reachability_change(spark):  # noqa: F811
    # a path 0→1→2→3 plus a shortcut; deleting the bridge disconnects,
    # re-adding elsewhere reconnects
    rows = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 4, 1.0), (4, 2, 1.0)]
    edges = local_frame(spark, rows, "src long, dst long, weight double")
    g = Graph.from_edges(edges, directed=True, vertices=spark.range(5))
    st = _check_fresh(spark, g, 0, weighted=False)
    g2, st2 = _edit_and_check(spark, g, st, 0, None, [(1, 2), (4, 2)],
                              weighted=False)
    assert 2 not in _collect(st2) and 3 not in _collect(st2)
    _edit_and_check(spark, g2, st2, 0, [(1, 3, 1.0), (3, 2, 1.0)], None,
                    weighted=False)


def test_mixed_batch_added_edge_improves_deletion_cone(spark):
    """Regression (round 3, found by scripts/fuzz_parity.py dynsssp_w):
    the deletion-phase cone repair must NOT see the added arcs. If it
    does, a cone node absorbs the addition's improvement during phase 1
    and phase 2's is-it-an-improvement seed test then skips propagating
    that value to nodes OUTSIDE the cone (here: 4 stayed at 7.5 via
    0-1-2-4 instead of 6.0 via the added (1,7) then 7-4)."""
    edges = [(0, 1, 1.5), (0, 6, 3.5), (1, 2, 4.0), (1, 3, 3.0),
             (1, 5, 2.0), (2, 4, 2.0), (2, 5, 4.0), (3, 7, 4.0),
             (4, 7, 2.5)]
    g = Graph.from_pairs(spark, edges, directed=False, n=8, weighted=True)
    st = sssp_state(g, 0)
    added = local_frame(
        spark, [(1, 7, 2.0), (2, 6, 4.0)], "src long, dst long, weight double"
    )
    removed = local_frame(spark, [(0, 6), (1, 3)], "src long, dst long")
    _, st1 = update_sssp(g, st, 0, added=added, removed=removed)
    got = {r["id"]: round(float(r["dist"]), 9) for r in st1.collect()}
    assert got == {0: 0.0, 1: 1.5, 2: 5.5, 5: 3.5, 7: 3.5, 3: 7.5,
                   4: 6.0, 6: 9.5}
