"""Cover measures vs direct pure-Python recomputations of the reference
formulas (CoverF1Similarity.cpp, CoverHubDominance.cpp,
OverlappingNMIDistance.cpp — McDaid NMI with all five normalizations)."""

import math
import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.cover_measures import (
    cover_f1_similarity,
    cover_hub_dominance,
    overlapping_nmi_distance,
)
from networkit_spark.session import local_frame


# ----------------------------------------------------------- py oracles
def py_f1(cover, ref):
    csets, rsets = {}, {}
    for u, c in cover:
        csets.setdefault(c, set()).add(u)
    for u, c in ref:
        rsets.setdefault(c, set()).add(u)
    vals, weights = [], []
    for c, mem in csets.items():
        best = 0.0
        for s, rmem in rsets.items():
            ol = len(mem & rmem)
            if ol == 0:
                continue
            p, r = ol / len(rmem), ol / len(mem)
            best = max(best, 2 * p * r / (p + r))
        vals.append(best)
        weights.append(len(mem))
    tot = sum(weights)
    return (sum(vals) / len(vals), sum(v * w for v, w in zip(vals, weights)) / tot,
            min(vals), max(vals), len(vals))


def py_hub_dominance(edges, cover):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    csets = {}
    for u, c in cover:
        csets.setdefault(c, set()).add(u)
    vals, weights = [], []
    for c, mem in csets.items():
        if len(mem) == 1:
            vals.append(1.0)
        else:
            mx = max(len(adj.get(u, set()) & mem) for u in mem)
            vals.append(mx / (len(mem) - 1))
        weights.append(len(mem))
    tot = sum(weights)
    return (sum(vals) / len(vals), sum(v * w for v, w in zip(vals, weights)) / tot,
            min(vals), max(vals), len(vals))


def _h(w, n):
    return -w * math.log2(w / n) if w > 0 else 0.0


def _H(size, n):
    return _h(size, n) + _h(n - size, n)


def py_onmi(n, X, Y):
    xs, ys, inter = {}, {}, {}
    xmem, ymem = {}, {}
    for u, c in X:
        xmem.setdefault(u, set()).add(c)
    for u, c in Y:
        ymem.setdefault(u, set()).add(c)
    for u in set(xmem) | set(ymem):
        for i in xmem.get(u, ()):
            xs[i] = xs.get(i, 0) + 1
            for j in ymem.get(u, ()):
                inter[(i, j)] = inter.get((i, j), 0) + 1
        for j in ymem.get(u, ()):
            ys[j] = ys.get(j, 0) + 1

    def cond(sx, sy, it, swap):
        out = {i: _H(s, n) for i, s in sx.items()}
        for (i, j), d in it.items():
            if swap:
                i, j = j, i
            a = n + d - sx[i] - sy[j]
            b = sy[j] - d
            c = sx[i] - d
            hstar = (_h(a, n) + _h(b, n) + _h(c, n) + _h(d, n) - _H(sy[j], n)
                     if _h(a, n) + _h(d, n) >= _h(b, n) + _h(c, n)
                     else _H(sx[i], n))
            out[i] = min(out[i], hstar)
        return sum(out.values())

    hx = sum(_H(s, n) for s in xs.values())
    hy = sum(_H(s, n) for s in ys.values())
    hxgy = cond(xs, ys, inter, False)
    hygx = cond(ys, xs, inter, True)
    mi = 0.5 * ((hx - hxgy) + (hy - hygx))
    mi = max(0.0, min(mi, min(hx, hy)))
    if hx == 0.0 and hy == 0.0:
        return {k: 0.0 for k in ("min", "geo", "ari", "max", "joint")}
    out = {}
    for k, den, zz in (("min", min(hx, hy), True),
                       ("geo", math.sqrt(hx * hy), True),
                       ("ari", (hx + hy) / 2, False),
                       ("max", max(hx, hy), False),
                       ("joint", hx + hy - mi, False)):
        if zz and (hx == 0.0 or hy == 0.0):
            out[k] = 1.0
        else:
            out[k] = 1.0 - mi / den
    return out


def _rand_cover(rng, nodes, k, extra_p):
    rows = [(u, rng.randrange(k)) for u in nodes]
    rows += [(u, k + rng.randrange(k)) for u in nodes if rng.random() < extra_p]
    return sorted(set(rows))


def _df(spark, rows):
    return local_frame(spark, [(int(u), int(c)) for u, c in rows],
                                 "id long, c long")


@pytest.mark.parametrize("seed", [1, 4])
def test_f1_and_hub(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(50))
    edges = sorted({(i, j) for i in range(50) for j in range(i + 1, 50)
                    if rng.random() < 0.1})
    cover = _rand_cover(rng, nodes, 4, 0.3)
    ref = _rand_cover(rng, nodes, 3, 0.2)

    got = cover_f1_similarity(_df(spark, cover), _df(spark, ref)).collect()[0]
    want = py_f1(cover, ref)
    for g, w in zip([got["unweighted_avg"], got["weighted_avg"],
                     got["min_value"], got["max_value"], got["n_clusters"]], want):
        assert abs(g - w) < 1e-8

    g = Graph.from_pairs(spark, [(u, v, 1.0) for u, v in edges], directed=False)
    got = cover_hub_dominance(g, _df(spark, cover)).collect()[0]
    want = py_hub_dominance(edges, cover)
    for gg, w in zip([got["unweighted_avg"], got["weighted_avg"],
                      got["min_value"], got["max_value"], got["n_clusters"]], want):
        assert abs(gg - w) < 1e-8


@pytest.mark.parametrize("seed", [2, 8])
def test_onmi_random(spark, seed):
    rng = random.Random(seed)
    n = 40
    nodes = list(range(n))
    X = _rand_cover(rng, nodes, 3, 0.4)
    Y = _rand_cover(rng, nodes, 4, 0.25)
    got = overlapping_nmi_distance(n, _df(spark, X), _df(spark, Y)).collect()[0]
    want = py_onmi(n, X, Y)
    assert abs(got["dist_min"] - want["min"]) < 1e-8
    assert abs(got["dist_geometric_mean"] - want["geo"]) < 1e-8
    assert abs(got["dist_arithmetic_mean"] - want["ari"]) < 1e-8
    assert abs(got["dist_max"] - want["max"]) < 1e-8
    assert abs(got["dist_joint_entropy"] - want["joint"]) < 1e-8


def test_onmi_identical_is_zero(spark):
    rows = [(u, u % 3) for u in range(30)] + [(u, 3) for u in range(10)]
    got = overlapping_nmi_distance(30, _df(spark, rows), _df(spark, rows)).collect()[0]
    for k in ("dist_min", "dist_geometric_mean", "dist_arithmetic_mean",
              "dist_max", "dist_joint_entropy"):
        assert abs(got[k]) < 1e-9


def test_f1_identical_is_one(spark):
    rows = [(u, u % 4) for u in range(24)]
    got = cover_f1_similarity(_df(spark, rows), _df(spark, rows)).collect()[0]
    assert abs(got["unweighted_avg"] - 1.0) < 1e-12
    assert abs(got["min_value"] - 1.0) < 1e-12
