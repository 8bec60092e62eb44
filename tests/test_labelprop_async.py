"""Async-within-block PLP: planted recovery, 2-cycle breaking,
proper-clustering invariants."""

from networkit_spark.graph import Graph
from networkit_spark.operators.labelprop import label_propagation
from networkit_spark.operators.labelprop_async import label_propagation_async
from networkit_spark.operators.quality import equal_clusterings, is_proper_clustering
from networkit_spark.session import local_frame
from tests.fixtures import erdos_renyi, planted_cliques


def test_planted_cliques(spark):
    edges, planted = planted_cliques(60, 3)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    res = label_propagation_async(g)
    assert res.number_of_communities() == 3
    planted_df = local_frame(
        spark, [(v, l) for v, l in planted.items()], "id long, label long"
    )
    assert equal_clusterings(g, res.labels, planted_df)


def test_breaks_two_cycle(spark):
    """A single edge: synchronous PLP swaps labels forever (bounded only by
    max_iterations); the async sweep converges because the second node
    sees the first node's new label (when co-located) or the oscillation
    dies at the block boundary within a few sweeps."""
    g = Graph.from_pairs(spark, [(0, 1)], directed=False, n=2)
    sync = label_propagation(g, max_iterations=6)
    assert sync.iterations == 6  # never converged — hit the cap
    res = label_propagation_async(g, max_iterations=20, num_blocks=1)
    assert res.iterations < 20  # converged
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels[0] == labels[1]  # one community


def test_proper_clustering(spark):
    edges = erdos_renyi(60, 0.1, seed=13)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    res = label_propagation_async(g, max_iterations=15)
    assert is_proper_clustering(g, res.labels)


def test_deterministic_given_blocks(spark):
    edges, _ = planted_cliques(40, 4)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)
    a = {tuple(r) for r in label_propagation_async(g, num_blocks=4).labels.collect()}
    b = {tuple(r) for r in label_propagation_async(g, num_blocks=4).labels.collect()}
    assert a == b


def test_lp_degree_ordered_planted(spark):  # noqa: F811
    from networkit_spark.generators import planted_partition
    from networkit_spark.graph import Graph
    from networkit_spark.operators.labelprop_async import lp_degree_ordered
    from networkit_spark.operators.quality import is_proper_clustering

    n, k = 60, 4
    edges = planted_partition(spark, n, k, 1.0, 0.0, seed=8)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    res = lp_degree_ordered(g, update_threshold=0, max_iterations=50)
    labels = res.labels
    assert is_proper_clustering(g, labels)
    # planted disjoint cliques recovered exactly: one label per residue
    rows = {r["id"]: r["label"] for r in labels.collect()}
    for c in range(k):
        labs = {rows[u] for u in range(n) if u % k == c}
        assert len(labs) == 1, c
    # distinct cliques, distinct labels
    assert len({rows[u] for u in range(k)}) == k
    assert res.iterations <= 50
