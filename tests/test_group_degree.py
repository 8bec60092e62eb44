"""GroupDegree vs the reference contract (CentralityGTest.cpp:1480-1529):
greedy score beats 0.5·OPT (and (1-1/e)·OPT for the counting variant),
score is self-consistent with scoreOfGroup, and the picked group equals
a pure-Python replay of the same exact-gain greedy."""

import itertools
import random

from networkit_spark.graph import Graph
from networkit_spark.operators.group import group_degree, score_of_group
from networkit_spark.session import local_frame


def _local_greedy(n, arcs, k, count_group_nodes):
    out = {v: set() for v in range(n)}
    for u, v in arcs:
        out[u].add(v)
    penalty = 0 if count_group_nodes else 1
    S, R = [], set()
    for _ in range(k):
        best = None
        for u in range(n):
            if u in S:
                continue
            gain = len((out[u] | {u}) - R) - penalty
            if best is None or gain > best[0] or (gain == best[0] and u < best[1]):
                best = (gain, u)
        S.append(best[1])
        R |= out[best[1]] | {best[1]}
    score = len(R) if count_group_nodes else len(R) - k
    return S, score


def _opt(n, arcs, k):
    out = {v: set() for v in range(n)}
    for u, v in arcs:
        out[u].add(v)
    best = 0
    for sub in itertools.combinations(range(n), k):
        s = set(sub)
        covered = set().union(*(out[u] for u in sub)) - s
        best = max(best, len(covered))
    return best


def _graph(spark, n, arcs, directed):
    df = local_frame(
        spark, [(u, v, 1.0) for u, v in arcs], "src long, dst long, weight double"
    )
    verts = local_frame(spark, [(v,) for v in range(n)], "id long")
    return Graph.from_edges(df, directed=directed, vertices=verts)


def _er(n, p, directed, seed):
    rng = random.Random(seed)
    pairs = (
        itertools.permutations(range(n), 2)
        if directed
        else itertools.combinations(range(n), 2)
    )
    return [(u, v) for u, v in pairs if rng.random() < p]


def test_group_degree_directed(spark):
    n, k = 12, 5
    arcs = _er(n, 0.3, True, seed=42)
    g = _graph(spark, n, arcs, directed=True)
    res = group_degree(g, k, count_group_nodes=False)
    rows = sorted(res.group.collect(), key=lambda r: r["rank"])
    ids = [r["id"] for r in rows]
    exp_ids, exp_score = _local_greedy(n, arcs, k, False)
    assert ids == exp_ids
    assert res.score == exp_score
    # reference test contract
    opt = _opt(n, arcs, k)
    assert res.score > 0.5 * opt
    assert res.score == score_of_group(g, ids, False)


def test_group_degree_undirected_counting(spark):
    n, k = 12, 5
    und = _er(n, 0.3, False, seed=7)
    arcs = und + [(v, u) for u, v in und]
    g = _graph(spark, n, und, directed=False)
    res = group_degree(g, k, count_group_nodes=True)
    rows = sorted(res.group.collect(), key=lambda r: r["rank"])
    ids = [r["id"] for r in rows]
    exp_ids, exp_score = _local_greedy(n, arcs, k, True)
    assert ids == exp_ids
    assert res.score == exp_score
    import math

    opt = _opt(n, arcs, k)
    assert res.score > (1.0 - 1.0 / math.e) * (opt + k)
    assert res.score == score_of_group(g, ids, True)


def test_gain_rows_sum_to_score(spark):
    # marginal gains telescope to the final score (exact-gain greedy)
    n, k = 10, 4
    arcs = _er(n, 0.35, True, seed=3)
    g = _graph(spark, n, arcs, directed=True)
    res = group_degree(g, k, count_group_nodes=False)
    assert sum(r["gain"] for r in res.group.collect()) == res.score
