"""PageRankNibble / ApproximatePageRank / SetConductance tests.

The reference's own SCD tests assert a nonempty, connected community
with conductance under a target (SCDGTest.cpp:59-164) — replicated
here on planted structure, plus the push operator's own invariants
(termination residuals, mass conservation) which hold for ANY valid
ACL push schedule, batched or queued.
"""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.scd import (
    approximate_pagerank,
    page_rank_nibble,
    set_conductance,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _two_cliques(spark, k=5):  # noqa: F811
    pairs = []
    for base in (0, k):
        for a in range(base, base + k):
            for b in range(a + 1, base + k):
                pairs.append((a, b))
    pairs.append((k - 1, 2 * k - 1))  # bridge
    return Graph.from_pairs(spark, pairs, directed=False, n=2 * k)


def test_apr_invariants(spark):  # noqa: F811
    g = _two_cliques(spark)
    eps = 1e-4
    pr = approximate_pagerank(g, [0], alpha=0.15, eps=eps)
    rows = pr.collect()
    # mass conservation: p + res still sums to the initial unit residual
    assert sum(r["p"] + r["res"] for r in rows) == pytest.approx(1.0)
    # termination: no residual at or above eps * vol
    vols = {
        r["id"]: r["vol"]
        for r in g.symmetrized_edges()
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("vol"))
        .collect()
    }
    for r in rows:
        assert r["res"] < eps * vols[r["id"]]


def test_nibble_recovers_clique(spark):  # noqa: F811
    g = _two_cliques(spark)
    res = page_rank_nibble(g, 0, alpha=0.15, eps=1e-4)
    comm = sorted(r["id"] for r in res.community.collect())
    assert comm == [0, 1, 2, 3, 4]
    # reported conductance == independently computed set conductance
    assert res.conductance == pytest.approx(set_conductance(g, res.community))
    # 5-clique + 1 bridge: cut 1, vol 21 → 1/21
    assert res.conductance == pytest.approx(1.0 / 21.0)


def test_nibble_seed_in_other_clique(spark):  # noqa: F811
    g = _two_cliques(spark)
    res = page_rank_nibble(g, 7, alpha=0.15, eps=1e-4)
    comm = sorted(r["id"] for r in res.community.collect())
    assert comm == [5, 6, 7, 8, 9]


def test_nibble_community_connected(spark):  # noqa: F811
    # reference contract: the sweep community is connected and nonempty
    from networkit_spark.generators import planted_partition
    from networkit_spark.operators.components import connected_components
    from networkit_spark.graphtools import subgraph_from_nodes

    n = 40
    edges = planted_partition(spark, n, k=4, p_intra=0.9, p_inter=0.02, seed=5)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    res = page_rank_nibble(g, 0, alpha=0.15, eps=1e-5)
    ids = [r["id"] for r in res.community.collect()]
    assert len(ids) > 0
    assert res.conductance < 0.5
    sub = subgraph_from_nodes(g, res.community)
    n_comp = (
        connected_components(sub).labels.select("label").distinct().count()
    )
    assert n_comp == 1


def test_set_conductance_hand_value(spark):  # noqa: F811
    # path 0-1-2-3: S = {0,1} → cut 1, vol(S) 3, vol rest 3 → 1/3
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3)], directed=False, n=4)
    s = local_frame(spark, [(0,), (1,)], "id long")
    assert set_conductance(g, s) == pytest.approx(1.0 / 3.0)
