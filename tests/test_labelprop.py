"""PLP: planted-cluster recovery, proper-clustering invariants, self-loop
singleton — the assertions the reference's own tests make
(CommunityGTest.cpp:204-290)."""

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.labelprop import label_propagation
from networkit_spark.operators.quality import (
    equal_clusterings,
    is_proper_clustering,
    modularity,
)
from networkit_spark.session import local_frame
from tests.fixtures import F5_EDGES, F5_N, assert_same_history, erdos_renyi, planted_cliques
from tests.oracle.plp import plp_oracle


def test_planted_cliques_recovered(spark):
    """ClusteredRandomGraphGenerator(n,k,1.0,0.0) → PLP finds exactly k
    clusters equal to the plant (CommunityGTest.cpp:204-240)."""
    edges, planted = planted_cliques(60, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    res = label_propagation(g)
    assert res.number_of_communities() == 3
    planted_df = local_frame(
        spark, [(v, l) for v, l in planted.items()], "id long, label long"
    )
    assert equal_clusterings(g, res.labels, planted_df)


def test_many_small_cliques(spark):
    """OnManySmallClusters analog (CommunityGTest.cpp:259-290)."""
    edges, planted = planted_cliques(100, 20)
    g = Graph.from_pairs(spark, edges, directed=False, n=100)
    res = label_propagation(g)
    assert res.number_of_communities() == 20
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == plp_oracle(100, [(u, v, 1.0) for u, v in edges])


def test_self_loop_singleton(spark):
    """Single node with self-loop stays a singleton
    (CommunityGTest.cpp:241-258)."""
    g = Graph.from_pairs(spark, F5_EDGES, directed=False, n=F5_N, weighted=True)
    res = label_propagation(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == {0: 0}


def test_proper_clustering_on_er(spark):
    """PLP on ER(80, 0.1) is a proper clustering with modularity in
    [-0.5, 1] (CommunityGTest.cpp:59-75)."""
    edges = erdos_renyi(80, 0.1, seed=11)
    g = Graph.from_pairs(spark, edges, directed=False, n=80)
    res = label_propagation(g, max_iterations=10)
    assert is_proper_clustering(g, res.labels)
    q = modularity(g, res.labels)
    assert -0.5 <= q <= 1.0


def test_active_set_matches_full_sweep(spark):
    """The frontier optimization must not change the result."""
    edges, _ = planted_cliques(40, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    with_frontier = {
        r["id"]: r["label"]
        for r in label_propagation(g, use_active_set=True).labels.collect()
    }
    full = {
        r["id"]: r["label"]
        for r in label_propagation(g, use_active_set=False).labels.collect()
    }
    assert with_frontier == full


def test_update_threshold_stops_early(spark):
    """Loop gate is nUpdated > updateThreshold with nUpdated initialized
    to n (PLP.cpp:45,69): threshold=n → zero sweeps (labels stay
    singletons); threshold=n-1 → at least one sweep runs."""
    edges, _ = planted_cliques(30, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    res = label_propagation(g, update_threshold=30)
    assert res.iterations == 0
    assert res.number_of_communities() == 30
    res2 = label_propagation(g, update_threshold=29, max_iterations=1)
    assert res2.iterations == 1


def test_base_clustering(spark):
    """Base clustering seeds the labels (PLP.cpp:30-34): starting AT the
    planted partition, PLP keeps it."""
    edges, planted = planted_cliques(30, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=30)
    base = local_frame(
        spark, [(v, l) for v, l in planted.items()], "id long, label long"
    )
    res = label_propagation(g, base_labels=base)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == planted


def test_checkpoint_resume_plp(spark, tmp_path):
    """Durable PLP snapshots resume to the same fixed point."""
    from networkit_spark.plans.iterative import Checkpointer

    edges, _ = planted_cliques(40, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    full = label_propagation(g)
    straight = {r["id"]: r["label"] for r in full.labels.collect()}
    path = str(tmp_path / "plp_ckpt")
    ck1 = Checkpointer(spark, path, algorithm="plp")
    partial = label_propagation(g, checkpointer=ck1, max_iterations=1)
    assert partial.iterations == 1
    ck2 = Checkpointer(spark, path, algorithm="plp")
    resumed = label_propagation(g, checkpointer=ck2, resume=True)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == straight
    metas = ck2.history()
    assert resumed.iterations > 1
    assert all(m["metrics"]["rows"] == 40 and "updated" in m["metrics"] for m in metas)
    assert [m["metrics"] for m in metas] == resumed.history
    assert_same_history(resumed.history, full.history)


def test_fixed_sweeps_report_updates(spark):
    """update_threshold=-1 never stops on the count, yet every sweep's
    record carries its real number of relabelled vertices."""
    edges, _ = planted_cliques(20, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=20)
    res = label_propagation(g, update_threshold=-1, max_iterations=3,
                            use_active_set=False)
    assert res.iterations == 3
    assert [r["iteration"] for r in res.history] == [1, 2, 3]
    assert res.history[0]["updated"] > 0 and res.history[-1]["updated"] == 0
    assert all(r["rows"] == 20 for r in res.history)


@pytest.mark.parametrize("use_active_set", [True, False])
def test_non_broadcast_regime_matches_broadcast(spark, use_active_set):
    """With spark.sql.autoBroadcastJoinThreshold=-1 the label frame is never
    broadcast (edges partitioned by src, both aggregations exchange): the
    labels equal the broadcast regime's and the oracle's."""
    from networkit_spark.operators.labelprop import _broadcast_labels

    cliques, _ = planted_cliques(100, 20)
    cases = [(100, cliques), (50, erdos_renyi(50, 0.1, seed=7))]

    def run(n, edges):
        g = Graph.from_pairs(spark, edges, directed=False, n=n)
        res = label_propagation(g, max_iterations=10, use_active_set=use_active_set)
        return {r["id"]: r["label"] for r in res.labels.collect()}

    assert _broadcast_labels(spark, 100)
    key = "spark.sql.autoBroadcastJoinThreshold"
    if spark.conf.get(key) == "10485760b":  # Spark's default: 8M rows
        assert _broadcast_labels(spark, 8_000_000)
        assert not _broadcast_labels(spark, 8_000_001)
    broadcast = [run(n, edges) for n, edges in cases]
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert not _broadcast_labels(spark, 100)
        shuffled = [run(n, edges) for n, edges in cases]
    finally:
        spark.conf.set(key, old)
    for (n, edges), b, s in zip(cases, broadcast, shuffled):
        assert s == b
        assert s == plp_oracle(n, [(u, v, 1.0) for u, v in edges], max_iterations=10)
