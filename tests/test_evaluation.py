"""Partition evaluation / comparison measures vs pure-Python replicas of
the reference formulas (EdgeCut, PartitionHubDominance,
IntrapartitionDensity, IsolatedInterpartition{Conductance,Expansion},
PartitionFragmentation, StablePartitionNodes, the Rand/Jaccard/ARI
family, PartitionIntersection)."""

import itertools
import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators import evaluation as ev
from networkit_spark.session import local_frame


def _graph(spark, n, edges):
    df = local_frame(
        spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    verts = local_frame(spark, [(i,) for i in range(n)], "id long")
    return Graph.from_edges(df, directed=False, vertices=verts)


def _labels(spark, lab):
    return local_frame(
        spark, [(u, l) for u, l in lab.items()], "id long, label long"
    )


@pytest.fixture(scope="module")
def fixture(spark):
    rng = random.Random(9)
    n = 20
    edges = [
        (u, v)
        for u, v in itertools.combinations(range(n), 2)
        if rng.random() < 0.3
    ]
    lab = {u: u % 3 for u in range(n)}
    return _graph(spark, n, edges), _labels(spark, lab), n, edges, lab


def _adj(n, edges):
    adj = {u: set() for u in range(n)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    return adj


def test_edge_cut(fixture):
    g, labels, n, edges, lab = fixture
    exp = sum(1.0 for u, v in edges if lab[u] != lab[v])
    assert ev.edge_cut(g, labels) == exp


def test_hub_dominance(fixture):
    g, labels, n, edges, lab = fixture
    adj = _adj(n, edges)
    vals = {}
    for c in set(lab.values()):
        members = [u for u in range(n) if lab[u] == c]
        md = max(sum(1 for v in adj[u] if lab[v] == c) for u in members)
        vals[c] = md / (len(members) - 1) if len(members) > 1 else 1.0
    s = ev.partition_hub_dominance(g, labels)
    assert s.unweighted_average == pytest.approx(sum(vals.values()) / len(vals))
    got = {r["label"]: r["value"] for r in s.values.collect()}
    for c, v in vals.items():
        assert got[c] == pytest.approx(v)


def test_intrapartition_density(fixture):
    g, labels, n, edges, lab = fixture
    intra, poss = {}, {}
    for c in set(lab.values()):
        members = [u for u in range(n) if lab[u] == c]
        s = len(members)
        poss[c] = s * (s - 1) // 2
        intra[c] = sum(1 for u, v in edges if lab[u] == c and lab[v] == c)
    summ, glob = ev.intrapartition_density(g, labels)
    exp_vals = {c: (intra[c] / poss[c] if poss[c] else 1.0) for c in intra}
    assert summ.unweighted_average == pytest.approx(
        sum(exp_vals.values()) / len(exp_vals)
    )
    assert glob == pytest.approx(sum(intra.values()) / sum(poss.values()))


def test_iic_and_expansion(fixture):
    g, labels, n, edges, lab = fixture
    cut, vol = {}, {}
    for u, v in edges:
        if lab[u] != lab[v]:
            cut[lab[u]] = cut.get(lab[u], 0.0) + 1
            cut[lab[v]] = cut.get(lab[v], 0.0) + 1
        vol[lab[u]] = vol.get(lab[u], 0.0) + 1
        vol[lab[v]] = vol.get(lab[v], 0.0) + 1
    tv = sum(vol.values())
    sizes = {c: sum(1 for u in range(n) if lab[u] == c) for c in set(lab.values())}
    exp_c = {
        c: (cut.get(c, 0.0) / min(vol[c], tv - vol[c]) if min(vol[c], tv - vol[c]) > 0 else 0.0)
        for c in sizes
    }
    s = ev.isolated_interpartition_conductance(g, labels)
    got = {r["label"]: r["value"] for r in s.values.collect()}
    for c in sizes:
        assert got[c] == pytest.approx(exp_c[c]), c
    exp_e = {c: cut.get(c, 0.0) / min(sizes[c], n - sizes[c]) for c in sizes}
    se = ev.isolated_interpartition_expansion(g, labels)
    gote = {r["label"]: r["value"] for r in se.values.collect()}
    for c in sizes:
        assert gote[c] == pytest.approx(exp_e[c]), c


def test_fragmentation(spark):
    # two clusters; cluster 0 = {0,1,2} with edge 0-1 only (fragments
    # {0,1},{2} -> 1 - 2/3); cluster 1 = {3,4} connected (frag 0)
    edges = [(0, 1), (3, 4), (2, 3)]  # 2-3 is inter-cluster, dropped
    g = _graph(spark, 5, edges)
    labels = _labels(spark, {0: 0, 1: 0, 2: 0, 3: 1, 4: 1})
    s = ev.partition_fragmentation(g, labels)
    got = {r["label"]: r["value"] for r in s.values.collect()}
    assert got[0] == pytest.approx(1 - 2 / 3)
    assert got[1] == pytest.approx(0.0)


def test_stable_nodes(fixture):
    g, labels, n, edges, lab = fixture
    adj = _adj(n, edges)
    exp = {}
    for u in range(n):
        if not adj[u]:
            exp[u] = True
            continue
        w = {}
        for v in adj[u]:
            w[lab[v]] = w.get(lab[v], 0) + 1
        own = w.get(lab[u], 0)
        exp[u] = own > 0 and all(
            s < own for c, s in w.items() if c != lab[u]
        )
    stable, summ = ev.stable_partition_nodes(g, labels)
    got = {r["id"]: r["stable"] for r in stable.collect()}
    assert got == exp
    assert summ.weighted_average == pytest.approx(
        sum(exp.values()) / n
    )


def test_comparison_measures(spark):
    rng = random.Random(4)
    n = 18
    edges = [
        (u, v) for u, v in itertools.combinations(range(n), 2) if rng.random() < 0.3
    ]
    g = _graph(spark, n, edges)
    la = {u: u % 3 for u in range(n)}
    lb = {u: u % 4 for u in range(n)}
    za, eb = _labels(spark, la), _labels(spark, lb)

    def pairsum(lab):
        from collections import Counter

        c = Counter(lab.values())
        return sum(s * (s - 1) // 2 for s in c.values())

    sz, se = pairsum(la), pairsum(lb)
    si = pairsum({u: (la[u], lb[u]) for u in range(n)})
    a = n * (n - 1) / 2 + 2 * si - (sz + se)
    assert ev.node_structural_rand(g, za, eb) == pytest.approx(
        1 - 2 * a / (n * (n - 1))
    )
    s00 = n * (n - 1) / 2 + si - (sz + se)
    div = n * (n - 1) - 2 * s00
    assert ev.jaccard_measure(g, za, eb) == pytest.approx(1 - 2 * si / div)
    den = n * (n - 1) // 2
    mx, expd = 0.5 * (sz + se), sz * se / den
    assert ev.adjusted_rand(g, za, eb) == pytest.approx(
        1 - (si - expd) / (mx - expd)
    )
    e11 = sum(1 for u, v in edges if la[u] == la[v] and lb[u] == lb[v])
    e00 = sum(1 for u, v in edges if la[u] != la[v] and lb[u] != lb[v])
    assert ev.graph_structural_rand(g, za, eb) == pytest.approx(
        1 - (e11 + e00) / len(edges)
    )
    # intersection: same cells as the (la, lb) product
    inter = {
        r["id"]: r["label"] for r in ev.partition_intersection(za, eb).collect()
    }
    cells = {}
    for u in range(n):
        cells.setdefault((la[u], lb[u]), set()).add(u)
    for members in cells.values():
        assert len({inter[u] for u in members}) == 1
    assert len({inter[u] for u in range(n)}) == len(cells)
