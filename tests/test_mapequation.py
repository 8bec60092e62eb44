"""LouvainMapEquation: the distributed synchronous gated sweeps must
match a pure-Python replica label-for-label (the gate bits are read from
Spark's xxhash64 so both sides share the same coin flips); the map
equation must improve over singletons; planted communities must be
recovered."""

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.mapequation import (
    louvain_map_equation,
    map_equation,
)
from networkit_spark.session import local_frame


def _graph(spark, n, edges, weights=None):
    w = weights or [1.0] * len(edges)
    df = local_frame(
        spark, [(u, v, float(x)) for (u, v), x in zip(edges, w)],
        "src long, dst long, weight double",
    )
    verts = local_frame(spark, [(v,) for v in range(n)], "id long")
    return Graph.from_edges(
        df, directed=False, weighted=weights is not None, vertices=verts
    )


def _gate_matrix(spark, n, sweeps):
    rows = spark.range(n).select(
        F.col("id"),
        *[
            (F.pmod(F.xxhash64("id", F.lit(s)), 4) != 0).alias(f"s{s}")
            for s in range(sweeps)
        ],
    ).collect()
    return {int(r["id"]): [bool(r[f"s{s}"]) for s in range(sweeps)] for r in rows}


def _replica(n, edges, weights, gates, max_iter=32):
    adj = {u: {} for u in range(n)}
    for (u, v), w in zip(edges, weights):
        if u == v:
            adj[u][u] = adj[u].get(u, 0.0) + w
        else:
            adj[u][v] = adj[u].get(v, 0.0) + w
            adj[v][u] = adj[v].get(u, 0.0) + w
    vol = {
        u: sum(adj[u].values()) + adj[u].get(u, 0.0) for u in range(n)
    }
    loop = {u: adj[u].get(u, 0.0) for u in range(n)}
    tv = sum(vol.values())

    def plogp(x):
        p = x / tv
        return p * math.log(p) if x > 0 else 0.0

    label = {u: u for u in range(n)}
    for sweep in range(max_iter):
        vol_c, cut_c = {}, {}
        for u in range(n):
            vol_c[label[u]] = vol_c.get(label[u], 0.0) + vol[u]
        for u in range(n):
            for v, w in adj[u].items():
                if v != u and label[v] != label[u]:
                    cut_c[label[u]] = cut_c.get(label[u], 0.0) + w
        total_cut = sum(cut_c.values())
        moves = {}
        improvable = 0
        for u in range(n):
            aff = {}
            for v, w in adj[u].items():
                if v != u:
                    aff[label[v]] = aff.get(label[v], 0.0) + w
            cands = {c: w for c, w in aff.items() if c != label[u]}
            if not cands:
                continue
            c = label[u]
            w_cur = aff.get(c, 0.0)
            cdc = 2 * w_cur - vol[u] + 2 * loop[u]
            cut_cc, vol_cc = cut_c.get(c, 0.0), vol_c.get(c, 0.0)
            stay = (
                plogp(total_cut)
                + (plogp(cut_cc + vol_cc) - plogp(cut_cc + cdc + vol_cc - vol[u]))
                - 2 * (plogp(cut_cc) - plogp(cut_cc + cdc))
            )
            best = None
            for d in sorted(cands):
                wd = cands[d]
                cdt = vol[u] - 2 * wd - 2 * loop[u]
                cut_d, vol_d = cut_c.get(d, 0.0), vol_c.get(d, 0.0)
                chg = (
                    plogp(total_cut + cdc + cdt)
                    + (plogp(cut_d + cdt + vol_d + vol[u]) - plogp(cut_d + vol_d))
                    - 2 * (plogp(cut_d + cdt) - plogp(cut_d))
                )
                if best is None or chg < best[0]:
                    best = (chg, d)
            if best[0] < stay:
                improvable += 1
                if gates[u][sweep]:
                    moves[u] = best[1]
        for u, d in moves.items():
            label[u] = d
        if improvable == 0:
            break
    return label


def test_replica_parity_random(spark):
    rng = random.Random(11)
    n = 30
    edges = [
        (u, v)
        for u, v in itertools.combinations(range(n), 2)
        if rng.random() < 0.5 * (1.0 if (u // 10) == (v // 10) else 0.08)
    ]
    weights = [1.0] * len(edges)
    g = _graph(spark, n, edges)
    gates = _gate_matrix(spark, n, 32)
    exp = _replica(n, edges, weights, gates)
    got = {
        r["id"]: r["label"]
        for r in louvain_map_equation(g).labels.collect()
    }
    assert got == exp


def test_replica_parity_weighted(spark):
    rng = random.Random(3)
    n = 20
    edges, weights = [], []
    for u, v in itertools.combinations(range(n), 2):
        if rng.random() < 0.25:
            edges.append((u, v))
            weights.append(float(rng.randint(1, 5)))
    g = _graph(spark, n, edges, weights)
    gates = _gate_matrix(spark, n, 32)
    exp = _replica(n, edges, weights, gates)
    got = {
        r["id"]: r["label"]
        for r in louvain_map_equation(g).labels.collect()
    }
    assert got == exp


def test_map_equation_improves_and_recovers_planted(spark):
    rng = random.Random(7)
    n, k = 40, 4
    edges = []
    for u, v in itertools.combinations(range(n), 2):
        same = (u % k) == (v % k)
        if rng.random() < (0.7 if same else 0.02):
            edges.append((u, v))
    g = _graph(spark, n, edges)
    res = louvain_map_equation(g, hierarchical=True)
    labels = res.labels
    singles = g.vertices().select("id", F.col("id").alias("label"))
    me_final = map_equation(g, labels)
    me_single = map_equation(g, singles)
    assert me_final < me_single
    # planted recovery: nodes of the same planted block end up together
    got = {r["id"]: r["label"] for r in labels.collect()}
    for blk in range(k):
        members = [u for u in range(n) if u % k == blk]
        assert len({got[u] for u in members}) == 1, blk
    # proper partition: every vertex labeled exactly once
    assert len(got) == n
