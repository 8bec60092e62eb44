"""PageRank parity: golden values from the reference test suite + numpy
oracle at allclose(1e-6) across semantic branches (sink handling, norms,
normalization, maxIterations)."""

import random

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.pagerank import (
    DISTRIBUTE_SINKS,
    NO_SINK_HANDLING,
    pagerank,
    pagerank_fixed,
)
from tests.fixtures import (
    F3_EDGES_DIRECTED,
    F3_N,
    F3_NORMALIZED_DIRECTED,
    F3_NORMALIZED_UNDIRECTED,
    assert_same_history,
    erdos_renyi,
)
from tests.oracle.pagerank import pagerank_oracle


def _scores_list(result, n):
    rows = {r["id"]: r["score"] for r in result.scores.collect()}
    return [rows[i] for i in range(n)]


def _sym(edges):
    out = []
    for u, v, *w in [tuple(e) for e in edges]:
        wt = w[0] if w else 1.0
        out.append((u, v, wt))
        if u != v:
            out.append((v, u, wt))
    return out


def test_berberich_normalized_directed(spark):
    """CentralityGTest.cpp:521-560 published values, tol 2e-4."""
    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    res = pagerank(g, damp=0.85, tol=1e-6, normalized=True,
                   distribute_sinks=DISTRIBUTE_SINKS)
    got = _scores_list(res, F3_N)
    assert np.allclose(got, F3_NORMALIZED_DIRECTED, atol=2e-4)


def test_berberich_normalized_undirected(spark):
    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=False, n=F3_N)
    res = pagerank(g, damp=0.85, tol=1e-6, normalized=True)
    got = _scores_list(res, F3_N)
    assert np.allclose(got, F3_NORMALIZED_UNDIRECTED, atol=2e-4)


@pytest.mark.parametrize("distribute", [NO_SINK_HANDLING, DISTRIBUTE_SINKS])
@pytest.mark.parametrize("norm", ["l2", "l1"])
def test_vs_oracle_directed(spark, distribute, norm):
    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    res = pagerank(g, damp=0.85, tol=1e-9, norm=norm, distribute_sinks=distribute,
                   max_iterations=25)
    want, it = pagerank_oracle(
        F3_N, [(u, v, 1.0) for u, v in F3_EDGES_DIRECTED],
        damp=0.85, tol=1e-9, norm=norm, distribute_sinks=distribute, directed=True,
        max_iterations=25,
    )
    got = _scores_list(res, F3_N)
    assert np.allclose(got, want, atol=1e-6)
    assert res.iterations == it


def test_vs_oracle_random_directed_weighted(spark):
    """Seeded random weighted digraph vs oracle, both norms of life: scores
    allclose 1e-6 and identical superstep count (pre-swap convergence)."""
    rng = random.Random(42)
    n = 60
    edges = []
    seen = set()
    while len(edges) < 300:
        u, v = rng.randrange(n), rng.randrange(n)
        if (u, v) in seen:
            continue
        seen.add((u, v))
        edges.append((u, v, rng.choice([0.5, 1.0, 2.0, 3.5])))
    g = Graph.from_pairs(spark, edges, directed=True, n=n, weighted=True)
    res = pagerank(g, damp=0.85, tol=1e-6, distribute_sinks=DISTRIBUTE_SINKS)
    want, it = pagerank_oracle(n, edges, damp=0.85, tol=1e-6,
                               distribute_sinks=DISTRIBUTE_SINKS, directed=True)
    got = _scores_list(res, n)
    assert np.allclose(got, want, atol=1e-6)
    assert res.iterations == it


def test_vs_oracle_undirected_selfloop(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 2), (3, 4)]
    n = 5
    g = Graph.from_pairs(spark, edges, directed=False, n=n)
    res = pagerank(g, damp=0.85, tol=1e-7)
    want, _ = pagerank_oracle(n, _sym(edges), damp=0.85, tol=1e-7, directed=False)
    got = _scores_list(res, n)
    assert np.allclose(got, want, atol=1e-6)


def test_max_iterations_early_stop(spark):
    """PageRank.cpp:53-63 — maxIterations respected and checked FIRST."""
    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    res = pagerank(g, damp=0.85, tol=1e-12, max_iterations=2)
    want, it = pagerank_oracle(F3_N, [(u, v, 1.0) for u, v in F3_EDGES_DIRECTED],
                               damp=0.85, tol=1e-12, max_iterations=2, directed=True)
    assert res.iterations == 2 == it
    got = _scores_list(res, F3_N)
    assert np.allclose(got, want, atol=1e-9)


def test_ranking_and_maximum(spark):
    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    res = pagerank(g, distribute_sinks=DISTRIBUTE_SINKS)
    top = res.ranking(1).collect()[0]
    assert top["id"] == 2  # node 2 has in-edges from both 0 and 1
    assert res.maximum() == pytest.approx(top["score"])


def test_checkpoint_resume(spark, tmp_path):
    """Kill after k supersteps; resuming completes with identical scores and
    total superstep count as an uninterrupted run."""
    from networkit_spark.plans.iterative import Checkpointer

    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    full = pagerank(g, tol=1e-5, distribute_sinks=DISTRIBUTE_SINKS)

    path = str(tmp_path / "pr_ckpt")
    ck1 = Checkpointer(spark, path, algorithm="pagerank")
    partial = pagerank(g, tol=1e-5, distribute_sinks=DISTRIBUTE_SINKS,
                       max_iterations=3, checkpointer=ck1)
    assert partial.iterations == 3

    ck2 = Checkpointer(spark, path, algorithm="pagerank")
    resumed = pagerank(g, tol=1e-5, distribute_sinks=DISTRIBUTE_SINKS,
                       checkpointer=ck2, resume=True)
    assert resumed.iterations == full.iterations
    got = _scores_list(resumed, F3_N)
    want = _scores_list(full, F3_N)
    assert np.allclose(got, want, atol=1e-12)
    # snapshot metadata carries per-iteration lineage and the superstep's
    # measures; the resumed run reports the uninterrupted run's history
    metas = ck2.history()
    assert [m["iteration"] for m in metas] == list(range(1, full.iterations + 1))
    assert all("files" in m and m["files"] for m in metas)
    assert all(m["metrics"]["rows"] == F3_N and m["metrics"]["diff"] > 0 for m in metas)
    assert [m["metrics"] for m in metas] == resumed.history
    assert_same_history(resumed.history, full.history)


def test_checkpoint_resume_pagerank(spark, tmp_path):
    """Durable snapshots: a run killed mid-iteration resumes and produces
    the same scores as an uninterrupted run."""
    from networkit_spark.plans.iterative import Checkpointer

    g = Graph.from_pairs(spark, F3_EDGES_DIRECTED, directed=True, n=F3_N)
    straight = pagerank(g, tol=1e-10, distribute_sinks=DISTRIBUTE_SINKS)

    path = str(tmp_path / "pr_ckpt")
    ck1 = Checkpointer(spark, path, algorithm="pagerank")
    partial = pagerank(g, tol=1e-10, distribute_sinks=DISTRIBUTE_SINKS,
                       max_iterations=3, checkpointer=ck1)
    assert partial.iterations == 3

    ck2 = Checkpointer(spark, path, algorithm="pagerank")
    resumed = pagerank(g, tol=1e-10, distribute_sinks=DISTRIBUTE_SINKS,
                       checkpointer=ck2, resume=True)
    assert resumed.iterations > 3
    a = _scores_list(straight, F3_N)
    b = _scores_list(resumed, F3_N)
    assert np.allclose(a, b, atol=1e-12)
    assert resumed.iterations == straight.iterations
    assert_same_history(resumed.history, straight.history)


def test_fixed_mode_plan_stats_stay_real(spark):
    """Twelve materialized supersteps keep the scores' plan statistics at
    the cached size: a bare localCheckpoint carries each superstep's
    join estimate into the next, and the product passes 2^40 bytes within
    ten supersteps."""
    n, arcs = 60, erdos_renyi(60, 0.08, seed=5)
    g = Graph.from_pairs(spark, arcs, directed=True, n=n)
    scores = pagerank_fixed(g, 12)
    size = scores._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(size)) < 2**40
    want, it = pagerank_oracle(n, [(u, v, 1.0) for u, v in arcs], tol=0.0,
                               distribute_sinks=DISTRIBUTE_SINKS,
                               max_iterations=12, directed=True)
    assert it == 12
    rows = {r["id"]: r["score"] for r in scores.collect()}
    assert np.allclose([rows[i] for i in range(n)], want, atol=1e-6)
