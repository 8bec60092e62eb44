"""Bucketed edge-table ingest (sources/bucketed.py): the bucketBy(src)
catalog table must let PreparedPageRank plan its degree rollup +
normalization join with NO exchange below them, and the scores must be
identical to the repartition path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.pagerank import (
    NO_SINK_HANDLING,
    PreparedPageRank,
    pagerank_fixed,
)
from networkit_spark.sources.bucketed import (
    read_bucketed_graph,
    write_edges_bucketed,
)
from networkit_spark.session import local_frame
from tests.fixtures import erdos_renyi


@pytest.fixture()
def bucketed_graph(spark, tmp_path):
    # u<v pairs used as directed arcs: plenty of sinks + multi-out nodes
    edges = erdos_renyi(200, 0.05, seed=21)
    df = local_frame(
        spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
    )
    name = "bucketed_edges_test"
    write_edges_bucketed(df, name, n_buckets=4, path=str(tmp_path / "tbl"))
    yield df, read_bucketed_graph(spark, name, directed=True)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_prepare_plan_has_no_exchange(spark, bucketed_graph):
    _, g = bucketed_graph
    prep = PreparedPageRank(g, src_partitioned=True)
    plan = prep.edges_norm._jdf.queryExecution().executedPlan().toString()
    # The only acceptable Exchange anywhere in the prepare plan would be
    # a broadcast; the hash exchange the bucketed layout exists to remove
    # must be gone.
    assert "Exchange hashpartitioning" not in plan, plan
    prep.unpersist()


def test_prepare_plan_repartition_path_has_exchange(spark, bucketed_graph):
    """Control: the same edges WITHOUT the bucketed layout plan the
    exchange — i.e. the assertion above is detecting the layout, not
    vacuous."""
    df, _ = bucketed_graph
    prep = PreparedPageRank(Graph.from_edges(df, directed=True),
                            src_partitioned=False)
    plan = prep.edges_norm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan
    prep.unpersist()


def test_bucketed_scores_identical(spark, bucketed_graph):
    df, g = bucketed_graph
    g_plain = Graph.from_edges(df, directed=True)
    prep_b = PreparedPageRank(g, src_partitioned=True)
    prep_p = PreparedPageRank(g_plain)
    sb = pagerank_fixed(g, n_iter=5, distribute_sinks=NO_SINK_HANDLING,
                        prepared=prep_b)
    sp = pagerank_fixed(g_plain, n_iter=5, distribute_sinks=NO_SINK_HANDLING,
                        prepared=prep_p)
    a = {r["id"]: r["score"] for r in sb.collect()}
    b = {r["id"]: r["score"] for r in sp.collect()}
    assert a.keys() == b.keys()
    assert np.allclose([a[k] for k in sorted(a)], [b[k] for k in sorted(b)],
                       atol=1e-15)
    prep_b.unpersist()
    prep_p.unpersist()
