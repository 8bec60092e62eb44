"""Edge-score family — pure-Python replicas of the reference loops
(ChibaNishizekiQuadrangleEdgeScore = brute-force 4-cycle count,
PrefixJaccardScore.cpp's rank walk verbatim) plus fixture checks for
the transforms."""

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.edgescores import (
    edge_score_as_weight,
    edge_score_blender,
    edge_score_linearizer,
    edge_score_normalizer,
    geometric_mean_score,
    prefix_jaccard_score,
    quadrangle_edge_score,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _adj(rows):
    adj = {}
    und = set()
    for r in rows:
        u, v = r["src"], r["dst"]
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
        und.add((min(u, v), max(u, v)))
    return adj, sorted(und)


def test_quadrangle_bruteforce_parity(spark):  # noqa: F811
    edges = erdos_renyi(spark, 25, 0.2, seed=7)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(25))
    adj, und = _adj(
        edges.select(F.least("src", "dst").alias("src"),
                     F.greatest("src", "dst").alias("dst")).distinct().collect()
    )
    want = {}
    for (u, v) in und:
        c = 0
        for w in adj[v] - {u}:
            c += len((adj[u] & adj[w]) - {v})
        want[(u, v)] = c
    got = {(r["u"], r["v"]): r["score"]
           for r in quadrangle_edge_score(g).collect()}
    assert got == want
    # sanity on a literal square 0-1-2-3-0: every edge in exactly one C4
    sq = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3), (3, 0)],
                          directed=False, n=4)
    assert all(r["score"] == 1 for r in quadrangle_edge_score(sq).collect())


def _prefix_jaccard_py(adj, und, attr):
    """Replica of PrefixJaccardScore.cpp:20-152."""
    ranks = {}
    for a in adj:
        inc = sorted(((attr[(min(a, w), max(a, w))], w) for w in adj[a]),
                     key=lambda t: (-t[0], t[1]))
        r, cur, num = 0, None, 0
        for val, w in inc:
            if cur is None or val != cur:
                r += num
                cur, num = val, 1
            else:
                num += 1
            ranks[(a, w)] = r
    out = {}
    for (u, v) in und:
        us = {w: ranks[(u, w)] for w in adj[u] if w != v}
        vs = {w: ranks[(v, w)] for w in adj[v] if w != u}
        best, maxr = 0.0, max([*us.values(), *vs.values(), -1])
        common = uo = vo = 0
        useen, vseen = set(), set()
        for r in range(maxr + 1):
            for w, rw in us.items():
                if rw == r:
                    if w in vseen:
                        vseen.discard(w)
                        common += 1
                        vo -= 1
                    else:
                        useen.add(w)
                        uo += 1
            for w, rw in vs.items():
                if rw == r:
                    if w in useen:
                        useen.discard(w)
                        common += 1
                        uo -= 1
                    else:
                        vseen.add(w)
                        vo += 1
            tot = common + uo + vo
            if tot > 0:
                best = max(best, common / tot)
        out[(u, v)] = best
    return out


def test_prefix_jaccard_parity(spark):  # noqa: F811
    edges = erdos_renyi(spark, 22, 0.22, seed=5)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(22))
    adj, und = _adj(
        edges.select(F.least("src", "dst").alias("src"),
                     F.greatest("src", "dst").alias("dst")).distinct().collect()
    )
    # attribute with deliberate ties: (u + v) % 4
    attr = {(u, v): (u + v) % 4 for (u, v) in und}
    attr_df = local_frame(
        spark, [(u, v, float(a)) for (u, v), a in attr.items()],
        "u long, v long, attr double",
    )
    want = _prefix_jaccard_py(adj, und, attr)
    got = {(r["u"], r["v"]): r["score"]
           for r in prefix_jaccard_score(g, attr_df).collect()}
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)


def test_geometric_mean_and_transforms(spark):  # noqa: F811
    pairs = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=4)
    attr = local_frame(
        spark, [(0, 1, 2.0), (1, 2, 1.0), (0, 2, 3.0), (2, 3, 0.0)],
        "u long, v long, attr double",
    )
    gm = {(r["u"], r["v"]): r["score"]
          for r in geometric_mean_score(g, attr).collect()}
    import math
    s = {0: 5.0, 1: 3.0, 2: 4.0, 3: 0.0}
    assert abs(gm[(0, 1)] - 2.0 / math.sqrt(s[0] * s[1])) < 1e-12
    assert gm[(2, 3)] == 0.0  # attr ≤ 0 → 0 (GeometricMeanScore.cpp:32)

    scores = attr.withColumnRenamed("attr", "score")
    norm = {(r["u"], r["v"]): r["score"]
            for r in edge_score_normalizer(scores).collect()}
    assert norm[(2, 3)] == 0.0 and norm[(0, 2)] == 1.0
    inv = {(r["u"], r["v"]): r["score"]
           for r in edge_score_normalizer(scores, invert=True).collect()}
    assert inv[(2, 3)] == 1.0 and abs(inv[(0, 2)]) < 1e-12

    lin = {(r["u"], r["v"]): r["score"]
           for r in edge_score_linearizer(scores).collect()}
    # ascending score order: (2,3)=0 → pos 0, (1,2)=1, (0,1)=2, (0,2)=3
    assert lin[(2, 3)] == 0.0 and lin[(0, 2)] == 1.0
    assert abs(lin[(1, 2)] - 1 / 3) < 1e-12

    sel = local_frame(
        spark, [(0, 1, True), (1, 2, False), (0, 2, True), (2, 3, False)],
        "u long, v long, sel boolean",
    )
    other = scores.select("u", "v", (F.col("score") * 10).alias("score"))
    bl = {(r["u"], r["v"]): r["score"]
          for r in edge_score_blender(sel, scores, other).collect()}
    assert bl[(0, 1)] == 20.0 and bl[(1, 2)] == 1.0

    wg = edge_score_as_weight(g, scores, squared=True, offset=1.0, factor=2.0)
    assert wg.weighted
    ws = {(min(r["src"], r["dst"]), max(r["src"], r["dst"])): r["weight"]
          for r in wg.edges.collect()}
    assert ws[(0, 2)] == 1.0 + 2.0 * 9.0
