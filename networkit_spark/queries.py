"""Driver-checked query bindings: each function takes (spark, sf_dir) and
returns a DataFrame whose columns/values exactly match the DuckDB oracle
in networkit_spark/oracles.py (same derivation, hashes, tie-breaks,
rounding). __spark_entry__.py exposes these as queries().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from networkit_spark.graph import Graph
from networkit_spark.graphtools import continuous_node_ids
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.dedup import (
    dedup_clusters,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicates,
    simhash,
)
from networkit_spark.operators.labelprop import label_propagation_fixed
from networkit_spark.operators.pagerank import pagerank_fixed
from networkit_spark.operators.similarity import brute_force_topk, lsh_buckets
from networkit_spark.operators.triangles import (
    _oriented_edges,
    triangle_counts,
    triangles,
)
from networkit_spark.functions.text import (
    fingerprints,
    language_id,
    quality_scores,
    token_stats,
)
from networkit_spark.oracles import CC_ITERS, DAMP, PLP_ITERS, PR_ITERS
from networkit_spark.session import local_frame
from networkit_spark.sources.tables import derive_web_edges, load_table


# ------------------------------------------------------------------ graphs
# The derived link graph is THE shared input of ~70 driver queries; a
# real deployment materializes it once (an Iceberg table), so the query
# layer does the session-local analog — derive + dedup once per
# (session, sf_dir, direction), persist, and hand every query the same
# cached edge table. Without this, a multi-branch query replays the
# parquet scan + dropDuplicates shuffle once per branch (28 scans
# observed in one centrality plan), which is exactly the waste the
# materialized table avoids at 100 TB.
_GRAPH_CACHE: dict[tuple[str, str, str], Graph] = {}


def _cached(spark: SparkSession, sf_dir: str, kind: str, build) -> Graph:
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    g = _GRAPH_CACHE.get(key)
    if g is None:
        from pyspark.storagelevel import StorageLevel

        g = build()
        g.edges.persist(StorageLevel.MEMORY_AND_DISK)
        _GRAPH_CACHE[key] = g
    return g


def _directed_graph(spark: SparkSession, sf_dir: str) -> Graph:
    return _cached(
        spark, sf_dir, "directed",
        lambda: Graph.from_edges(derive_web_edges(spark, sf_dir), directed=True),
    )


def _undirected_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Simple undirected graph over the same arcs: distinct {u, v} pairs,
    symmetrized by Graph (mirrors the oracle's und/sym CTEs)."""

    def build() -> Graph:
        e = derive_web_edges(spark, sf_dir)
        und = (
            e.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .dropDuplicates(["src", "dst"])
            .withColumn("weight", F.lit(1.0))
        )
        return Graph.from_edges(und, directed=False)

    return _cached(spark, sf_dir, "undirected", build)


def _vertex_anchors(g: Graph, ge=(), le=()):
    """min/max vertex id plus smallest-id ≥ x / largest-id ≤ x anchors,
    computed in ONE aggregate job. Replaces collecting the full vertex
    list to the driver for seed/pair selection — identical values (the
    anchors are functions of the id set), O(1) driver rows at any scale."""
    aggs = [F.min("id").alias("lo"), F.max("id").alias("hi")]
    for i, x in enumerate(ge):
        aggs.append(
            F.min(F.when(F.col("id") >= x, F.col("id"))).alias(f"ge{i}")
        )
    for i, x in enumerate(le):
        aggs.append(
            F.max(F.when(F.col("id") <= x, F.col("id"))).alias(f"le{i}")
        )
    return g.vertices().agg(*aggs).first()


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _directed_graph(spark, sf_dir)
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates(["u", "v"])
    return (
        g.vertices().agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(g.edges.agg(F.count("*").cast("long").alias("n_arcs")))
        .crossJoin(und.agg(F.count("*").cast("long").alias("n_und_edges")))
    )


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _directed_graph(spark, sf_dir)
    out = g.out_degrees().select("id", F.col("degree").alias("out_degree"))
    inn = g.in_degrees().select("id", F.col("in_degree"))
    return out.join(inn, "id")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _directed_graph(spark, sf_dir)
    scores = pagerank_fixed(g, n_iter=PR_ITERS, damp=DAMP)
    return scores.select("id", F.round("score", 6).alias("score"))


def q_pagerank_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    scores = pagerank_fixed(g, n_iter=PR_ITERS, damp=DAMP)
    return scores.select("id", F.round("score", 6).alias("score"))


def q_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    return connected_components(g, max_iterations=CC_ITERS).labels


def q_cc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    res = connected_components(g, max_iterations=CC_ITERS)
    return res.labels.groupBy("label").agg(F.count("*").cast("long").alias("size"))


def q_plp_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    return label_propagation_fixed(g, n_iter=PLP_ITERS)


def q_triangle_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    return triangles(g).agg(F.count("*").cast("long").alias("n_triangles"))


def q_triangle_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    return triangle_counts(g)


def q_triangle_edge_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.triangles import triangle_edge_scores

    g = _undirected_graph(spark, sf_dir)
    return triangle_edge_scores(g)


def q_local_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    _, deg = _oriented_edges(g)
    tri = triangle_counts(g)
    return (
        g.vertices()
        .join(deg, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(0.0)
            .alias("score"),
        )
    )


def q_global_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    _, deg = _oriented_edges(g)
    tri = triangle_counts(g)
    num = tri.agg((2.0 * F.sum("triangles")).cast("double").alias("num"))
    den = deg.agg(F.sum(F.col("degree") * (F.col("degree") - 1)).cast("double").alias("den"))
    return num.crossJoin(den).select(
        F.round(F.col("num") / F.col("den"), 6).alias("global_cc")
    )


def q_degree_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    n = g.num_vertices()
    _, deg = _oriented_edges(g)
    return (
        g.vertices()
        .join(deg, "id", "left")
        .select(
            "id",
            F.round(
                F.coalesce("degree", F.lit(0)).cast("double") / F.lit(float(n - 1)), 6
            ).alias("score"),
        )
    )


def q_modularity_plp(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    labels = label_propagation_fixed(g, n_iter=PLP_ITERS)
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates(["u", "v"]).withColumn("weight", F.lit(1.0))
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    el = und.join(lu, "u").join(lv, "v")
    tot = el.agg(
        F.sum(F.when(F.col("lu") == F.col("lv"), F.col("weight")).otherwise(0.0)).alias("intra"),
        F.sum("weight").alias("m"),
    )
    vol = g.edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("vol"))
    volc = (
        labels.join(vol, "id", "left")
        .groupBy("label")
        .agg(F.sum(F.coalesce("vol", F.lit(0.0))).alias("vol_c"))
    )
    expected = volc.crossJoin(F.broadcast(tot.select("m"))).agg(
        F.sum(F.pow(F.col("vol_c") / (2.0 * F.col("m")), 2)).alias("expected")
    )
    return tot.crossJoin(expected).select(
        F.round(F.col("intra") / F.col("m") - F.col("expected"), 6).alias("modularity")
    )


def q_coverage_plp(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    labels = label_propagation_fixed(g, n_iter=PLP_ITERS)
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates(["u", "v"]).withColumn("weight", F.lit(1.0))
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    el = und.join(lu, "u").join(lv, "v")
    return el.agg(
        F.round(
            F.sum(F.when(F.col("lu") == F.col("lv"), F.col("weight")).otherwise(0.0))
            / F.sum("weight"),
            6,
        ).alias("coverage")
    )


def q_subgraph_stats(spark: SparkSession, sf_dir: str, max_id: int = 300) -> DataFrame:
    g = _directed_graph(spark, sf_dir)
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates(["u", "v"])
    nodes = g.vertices().filter(F.col("id") < max_id)
    sub_e = und.filter((F.col("u") < max_id) & (F.col("v") < max_id))
    return (
        nodes.agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(sub_e.agg(F.count("*").cast("long").alias("n_edges")))
    )


def q_compact_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _directed_graph(spark, sf_dir)
    return continuous_node_ids(g)


# --------------------------------------------------------------- documents
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load_table(spark, sf_dir, "documents"))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_duplicates(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- embeddings
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(q, emb, k=5)


def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_buckets(load_table(spark, sf_dir, "embeddings"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.similarity import lsh_topk

    return lsh_topk(load_table(spark, sf_dir, "embeddings"), k=5)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.similarity import embedding_near_duplicates

    # The synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.51) — 0.4 keeps the driver check non-degenerate; production
    # near-dup threshold is 0.98 (tests/test_similarity.py).
    return embedding_near_duplicates(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


# ------------------------------------------ convergence-mode (recursive twins)
def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence-mode PageRank. The DuckDB twin
    (oracles.pagerank_converged_sql) is a RECURSIVE CTE running the same
    superstep to the same L2-residual ≤ tol stopping rule, so BOTH
    engines discover the (data-dependent) iteration count independently
    — a full-strength hash check of the convergence semantics."""
    from networkit_spark.operators.pagerank import DISTRIBUTE_SINKS, pagerank

    g = _directed_graph(spark, sf_dir)
    res = pagerank(g, damp=DAMP, tol=1e-8, distribute_sinks=DISTRIBUTE_SINKS)
    return res.scores.select("id", F.round("score", 6).alias("score"))


def q_eigenvector_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 eigenvector centrality; DuckDB twin is a recursive CTE with
    the same power iteration / L∞ stopping rule. Ordering is on the
    ROUNDED score (then id) in BOTH engines, so 1e-15 raw-score noise
    between summation orders cannot flip near-tied ranks."""
    from networkit_spark.operators.centrality import eigenvector_centrality

    g = _undirected_graph(spark, sf_dir)
    ev = eigenvector_centrality(g, tol=1e-6, max_iterations=50)
    return (
        ev.select("id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(20)
    )


# ------------------------------------------------------------------ events
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


QUERIES = {
    "graph_stats": q_graph_stats,
    "graph_degrees": q_graph_degrees,
    "pagerank_5iter": q_pagerank,
    "pagerank_undirected_5iter": q_pagerank_undirected,
    "cc_labels": q_cc_labels,
    "cc_sizes": q_cc_sizes,
    "plp_labels_2iter": q_plp_labels,
    "triangle_total": q_triangle_total,
    "triangle_per_node": q_triangle_per_node,
    "triangle_edge_scores": q_triangle_edge_scores,
    "local_clustering": q_local_cc,
    "global_clustering": q_global_cc,
    "degree_centrality": q_degree_centrality,
    "modularity_plp": q_modularity_plp,
    "coverage_plp": q_coverage_plp,
    "subgraph_stats": q_subgraph_stats,
    "compact_ids": q_compact_ids,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash,
    "lsh_candidate_pairs": q_lsh_pairs,
    "near_dup_jaccard": q_near_dup_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "simhash": q_simhash,
    "token_stats": q_token_stats,
    "quality_scores": q_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_fingerprint,
    "knn_cosine_top5": q_knn,
    "ann_lsh_buckets": q_ann_buckets,
    "ann_lsh_top5": q_ann_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "events_hourly": q_events_hourly,
    "pagerank_converged": q_pagerank_converged,
    "eigenvector_top20": q_eigenvector_top20,
}


# ------------------------------------------------------- distances / PLM
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.distances import multi_source_bfs

    g = _undirected_graph(spark, sf_dir)
    first = g.vertices().agg(F.min("id")).first()[0]
    src = local_frame(spark, [(int(first),)], "s long")
    return multi_source_bfs(g, src).select("id", "dist")


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.distances import closeness_centrality

    g = _undirected_graph(spark, sf_dir)
    return closeness_centrality(g).select("id", F.round("score", 9).alias("score"))


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.distances import harmonic_closeness

    g = _undirected_graph(spark, sf_dir)
    return harmonic_closeness(g).select("id", F.round("score", 9).alias("score"))


def q_approx_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source closeness (ApproxCloseness semantics) with the
    SQL-replicable sample s ≡ 0 (mod 37) so the DuckDB twin draws the
    identical pivots."""
    from networkit_spark.operators.distances import approx_closeness

    g = _undirected_graph(spark, sf_dir)
    sources = g.vertices().filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("s")
    )
    return approx_closeness(g, sources=sources)


def q_scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC partition (label = min id per SCC) — unique, hence exactly
    oracle-able despite the randomized peel order (operators/scc.py)."""
    from networkit_spark.operators.scc import strongly_connected_components

    g = _directed_graph(spark, sf_dir)
    return strongly_connected_components(g).labels


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.distances import eccentricities

    g = _undirected_graph(spark, sf_dir)
    return eccentricities(g)


def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrors effective_diameter_exact but keeps the result relational
    (same ROUND as the oracle)."""
    import math as _math

    from pyspark.sql import Window
    from networkit_spark.operators.distances import multi_source_bfs

    g = _undirected_graph(spark, sf_dir)
    n = g.num_vertices()
    threshold = int(_math.ceil(0.9 * n))
    dists = multi_source_bfs(g, g.vertices().select(F.col("id").alias("s")))
    w = Window.partitionBy("s").orderBy(F.asc("dist"))
    h = (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == threshold)
        .select("s", F.greatest(F.col("dist"), F.lit(1)).alias("h"))
    )
    return h.agg(F.round(F.avg("h"), 6).alias("effective_diameter"))


def q_coarsen_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.coarsening import coarsen

    g = _undirected_graph(spark, sf_dir)
    labels = connected_components(g, max_iterations=CC_ITERS).labels
    coarse, _ = coarsen(g, labels)
    return coarse.edges.select("src", "dst", "weight")


def q_betweenness_est20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.betweenness import estimate_betweenness

    g = _undirected_graph(spark, sf_dir)
    src = g.vertices().filter(F.col("id") < 20).select(F.col("id").alias("s"))
    res = estimate_betweenness(g, n_samples=19, sources=src)
    return res.select("id", F.round("score", 6).alias("score"))


SIDE_CHANNEL_ROOT = "/tmp/networkit_spark_side_channel"


def side_channel_path(name: str, sf_tag: str) -> str:
    """Deterministic per-(query, scale-factor) parquet path used to hand a
    nondeterministic query's own output to its DuckDB property oracle."""
    return f"{SIDE_CHANNEL_ROOT}/{name}_{sf_tag}.parquet"


def _community_summary(
    spark: SparkSession, sf_dir: str, name: str, labels: DataFrame, g: Graph
) -> DataFrame:
    """Materialize community labels to the side channel, then recompute
    the partition-property summary FROM THE MATERIALIZED COPY (so the
    summary and what the oracle reads are the same rows even though the
    algorithm is nondeterministic across re-evaluations). The DuckDB twin
    (oracles.community_summary_sql) recomputes the identical summary
    independently from (labels parquet, edges) — properness, community
    count, modularity, coverage (CommunityGTest.cpp:284-305 contract)."""
    import os

    from networkit_spark.operators.quality import (
        coverage,
        is_proper_clustering,
        modularity,
    )

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = side_channel_path(name, tag)
    labels.select("id", "label").write.mode("overwrite").parquet(path)
    persisted = spark.read.parquet(path)
    return (
        local_frame(
            spark, [
                (
                    persisted.count(),
                    persisted.select("label").distinct().count(),
                    is_proper_clustering(g, persisted),
                    modularity(g, persisted),
                    coverage(g, persisted),
                )
            ],
            "n_nodes long, n_communities long, is_proper boolean, "
            "modularity double, coverage double",
        )
        .select(
            "n_nodes",
            "n_communities",
            "is_proper",
            F.round("modularity", 6).alias("modularity"),
            F.round("coverage", 6).alias("coverage"),
        )
    )


def q_plm_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLM community summary (multi-level greedy optimization is
    nondeterministic — the hashable artifact is the property summary of
    the labels PLM actually produced, exchanged via the side channel;
    pytest additionally holds PLM to planted-structure and quality
    oracles)."""
    from networkit_spark.operators.plm import plm

    g = _undirected_graph(spark, sf_dir)
    return _community_summary(spark, sf_dir, "plm_labels", plm(g).labels, g)


QUERIES.update(
    {
        "bfs_hops": q_bfs_hops,
        "closeness": q_closeness,
        "harmonic_closeness": q_harmonic,
        "approx_closeness": q_approx_closeness,
        "scc_labels": q_scc_labels,
        "eccentricity": q_eccentricity,
        "effective_diameter_90": q_effective_diameter,
        "coarsen_cc": q_coarsen_cc,
        "betweenness_est20": q_betweenness_est20,
        "plm_labels": q_plm_labels,
    }
)


# ------------------------------------------------------------- correlation
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _undirected_graph(spark, sf_dir)
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates(["u", "v"])
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("double").alias("d"))
    )
    el = und.join(deg.select(F.col("id").alias("u"), F.col("d").alias("x")), "u").join(
        deg.select(F.col("id").alias("v"), F.col("d").alias("y")), "v"
    )
    mm = el.agg(F.avg("x").alias("xm"), F.avg("y").alias("ym"))
    return (
        el.crossJoin(F.broadcast(mm))
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("xm")) * (F.col("y") - F.col("ym")))
                / F.sqrt(
                    F.sum(F.pow(F.col("x") - F.col("xm"), 2))
                    * F.sum(F.pow(F.col("y") - F.col("ym"), 2))
                ),
                6,
            ).alias("r")
        )
    )


def q_nominal_assortativity(spark: SparkSession, sf_dir: str, modulus: int = 7) -> DataFrame:
    from networkit_spark.operators.correlation import nominal_assortativity

    g = _undirected_graph(spark, sf_dir)
    labels = g.vertices().select("id", (F.col("id") % modulus).alias("label"))
    r = nominal_assortativity(g, labels)
    return local_frame(spark, [(r,)], "r double").select(
        F.round("r", 6).alias("r")
    )


QUERIES.update(
    {
        "degree_assortativity": q_degree_assortativity,
        "nominal_assortativity_mod7": q_nominal_assortativity,
    }
)


def q_link_prediction_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.linkprediction import (
        link_prediction_scores,
        missing_links,
    )

    g = _undirected_graph(spark, sf_dir)
    scores = link_prediction_scores(g, missing_links(g, k=2))
    return scores.select(
        "u", "v", "common_neighbors",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
        F.round("resource_allocation", 6).alias("resource_allocation"),
        "pref_attachment",
    )


def q_algebraic_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.distances import (
        algebraic_distance_edge_scores,
    )

    g = _undirected_graph(spark, sf_dir)
    return algebraic_distance_edge_scores(g, num_systems=4, num_iters=4)


QUERIES.update(
    {
        "link_prediction_d2": q_link_prediction_d2,
        "algebraic_distance": q_algebraic_distance,
    }
)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import adamic_adar_scores

    g = _undirected_graph(spark, sf_dir)
    return adamic_adar_scores(g).select(
        "u", "v", F.round("score", 6).alias("score")
    )


QUERIES["adamic_adar"] = q_adamic_adar


def q_leiden_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leiden community summary (side-channel property oracle like
    plm_labels; pytest holds the algorithm to planted recovery, karate
    quality and the connected-communities guarantee)."""
    from networkit_spark.operators.leiden import leiden

    g = _undirected_graph(spark, sf_dir)
    return _community_summary(spark, sf_dir, "leiden_labels", leiden(g).labels, g)


QUERIES["leiden_labels"] = q_leiden_labels


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-blocking SimHash near-dup pairs; the oracle recomputes the
    same set with an all-pairs Hamming filter (banding is lossless for
    max_hamming < n_bands)."""
    from networkit_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(load_table(spark, sf_dir, "documents"))


def q_jaccard_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import jaccard_similarity_scores

    g = _undirected_graph(spark, sf_dir)
    return jaccard_similarity_scores(g).select(
        "u", "v", F.round("score", 6).alias("score")
    )


def q_katz_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality at a fixed 3-superstep unroll (tol=0 disables the
    early break) so the oracle is plain unrolled SQL; convergence-mode
    Katz is pytest-covered against the numpy oracle."""
    from networkit_spark.operators.centrality import katz_centrality

    g = _directed_graph(spark, sf_dir)
    return katz_centrality(
        g, alpha=5e-4, beta=0.1, tol=0.0, max_iterations=3
    ).select("id", F.round("score", 9).alias("score"))


def q_matching_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-max matching property summary (side-channel pattern, like
    plm_labels): the matched edges go to parquet; Spark and DuckDB
    independently verify matching validity, edge realness, and
    maximality from that copy."""
    import os

    from networkit_spark.operators.matching import local_max_matching

    g = _undirected_graph(spark, sf_dir)
    m = local_max_matching(g)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = side_channel_path("matching_summary", tag)
    m.select("u", "v").write.mode("overwrite").parquet(path)
    pers = spark.read.parquet(path)

    und = g.simple_undirected_edges()
    nodes = pers.select(F.col("u").alias("id")).unionByName(
        pers.select(F.col("v").alias("id"))
    )
    n_matched = pers.count()
    is_matching = nodes.distinct().count() == 2 * n_matched
    edges_real = pers.join(und, ["u", "v"], "left_anti").count() == 0
    matched_nodes = nodes.distinct()
    is_maximal = (
        und.join(matched_nodes.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(matched_nodes.withColumnRenamed("id", "v"), "v", "left_anti")
        .count()
        == 0
    )
    return local_frame(
        spark, [(n_matched, is_matching, edges_real, is_maximal)],
        "n_matched long, is_matching boolean, edges_real boolean, is_maximal boolean",
    )


QUERIES.update(
    {
        "simhash_near_dups": q_simhash_near_dups,
        "jaccard_scores": q_jaccard_scores,
        "katz_3iter": q_katz_3iter,
        "matching_summary": q_matching_summary,
    }
)


def q_cc_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged components via alternating large-star/small-star
    (Kiveris et al.) — the O(log² n)-round scale path; oracled exactly
    against a transitive-closure min-label twin (partition is unique)."""
    from networkit_spark.operators.components import connected_components_twophase

    g = _undirected_graph(spark, sf_dir)
    return connected_components_twophase(g).labels


QUERIES.update({"cc_labels_twophase": q_cc_twophase})


def q_ivf_knn_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe = n_cells (every cell probed): the index routing
    must be LOSSLESS, so the result equals exact brute-force top-k and
    the oracle is the same all-pairs SQL as knn_cosine_top5. Recall at
    partial nprobe is pytest-covered (test_similarity.py)."""
    from networkit_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(q, emb, k=5, n_cells=8, nprobe=8)


QUERIES.update({"ivf_knn_full_probe": q_ivf_knn_full_probe})


def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic biased second-order walks (Node2Vec's corpus stage,
    BiasedRandomWalk.cpp:107-140) over the undirected link graph: one
    4-step walk per node, p=0.5 / q=2.0, every draw a seeded integer
    hash — the oracle replays the identical arithmetic as one CTE per
    step (oracles.node2vec_walks_sql)."""
    from networkit_spark.operators.embedding import biased_random_walks

    g = _undirected_graph(spark, sf_dir)
    w = biased_random_walks(
        g, p=0.5, q=2.0, walk_length=4, walks_per_node=1, seed=42
    )
    return w.select("walk", F.col("pos").cast("int").alias("pos"), "node")


QUERIES.update({"node2vec_walks": q_node2vec_walks})


def q_pivot_mds_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PivotMDS's distributed half — the double-centered pivot-distance
    matrix (PivotMDS.cpp:49-70) over the undirected link graph with the
    SQL-replicable pivot rule id % 97 == 0. The k×k spectral step is
    pytest-locked against a numpy replica (tests/test_layout.py)."""
    from networkit_spark.operators.layout import centered_pivot_matrix

    g = _undirected_graph(spark, sf_dir)
    centered, _, _ = centered_pivot_matrix(g, pivot_modulus=97)
    return centered.select(
        "id", F.col("j").cast("int").alias("j"), F.round("val", 9).alias("val")
    )


QUERIES.update({"pivot_mds_centered": q_pivot_mds_centered})


def q_pagerank_nibble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRankNibble community from the smallest vertex id
    (PageRankNibble.cpp:84-89): ACL push (synchronous batched
    supersteps) + best-conductance sweep prefix. The oracle unrolls the
    same batched push to a fixed superstep count past convergence and
    replays the sweep with window cumsums."""
    from networkit_spark.operators.scd import page_rank_nibble

    g = _undirected_graph(spark, sf_dir)
    seed = int(g.vertices().agg(F.min("id")).first()[0])
    res = page_rank_nibble(g, seed, alpha=0.15, eps=1e-5)
    return res.community.select("id")


QUERIES.update({"pagerank_nibble": q_pagerank_nibble})


def q_degree_preserving_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DegreePreservingShuffle permutation of the undirected link graph
    (seeded-hash rank zip within degree classes — bit-exact SQL twin)."""
    from networkit_spark.operators.randomization import degree_preserving_shuffle

    g = _undirected_graph(spark, sf_dir)
    return degree_preserving_shuffle(g, seed=7)


QUERIES.update({"degree_preserving_shuffle": q_degree_preserving_shuffle})


def q_curveball_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalCurveball randomization of the undirected link graph —
    checked by its reference contract (GlobalCurveballGTest: the trade
    rounds preserve every node's degree EXACTLY and keep the graph
    simple), so the oracle is the original graph's degree table. The
    bit-exact round replay is pytest-locked (tests/test_randomization.py
    pure-Python twin)."""
    from networkit_spark.operators.randomization import global_curveball

    g = _undirected_graph(spark, sf_dir)
    g2 = global_curveball(g, n_global_trades=3, seed=7)
    und = g2.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return sym.groupBy(F.col("u").alias("id")).agg(
        F.count("*").cast("long").alias("degree")
    )


QUERIES.update({"curveball_degrees": q_curveball_degrees})


def q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set over the undirected link graph —
    deterministic via seeded-hash draws, so the oracle replays the round
    loop exactly (oracles.luby_sql; membership set is hash-checked)."""
    from networkit_spark.operators.independent import luby_independent_set

    g = _undirected_graph(spark, sf_dir)
    return luby_independent_set(g, seed=1, max_rounds=16).members


def q_sfigality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.centrality import sfigality

    g = _undirected_graph(spark, sf_dir)
    return sfigality(g)


def q_square_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.centrality import local_square_clustering

    g = _undirected_graph(spark, sf_dir)
    return local_square_clustering(g).select(
        "id", F.round("score", 9).alias("score")
    )


QUERIES.update(
    {
        "luby_mis": q_luby_mis,
        "sfigality": q_sfigality,
        "square_clustering": q_square_clustering,
    }
)


def q_reachable_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node reachable-vertex counts on the DIRECTED link graph
    (ReachableNodes exact mode: SCC condensation + transitive-closure
    doubling); oracle doubles over node-level arcs directly."""
    from networkit_spark.operators.reachability import reachable_nodes

    g = _directed_graph(spark, sf_dir)
    return reachable_nodes(g, exact=True).counts


def q_hashing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingOverlapper core partition of the two deterministic
    clusterings id % 5 and id % 7 (bit-exact djb2 + compact twin)."""
    from networkit_spark.operators.overlap import hashing_overlapper

    g = _undirected_graph(spark, sf_dir)
    v = g.vertices()
    c1 = v.select("id", (F.col("id") % 5).alias("label"))
    c2 = v.select("id", (F.col("id") % 7).alias("label"))
    return hashing_overlapper(g, [c1, c2])


def q_seir_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEIR epidemic census over the undirected link graph, patient zero
    = min id, seeded-hash contact draws (exact unrolled oracle)."""
    from networkit_spark.operators.simulation import epidemic_seir

    g = _undirected_graph(spark, sf_dir)
    return epidemic_seir(
        g, t_max=8, trans_p=0.3, e_time=2, i_time=3, zero=None, seed=11
    )


QUERIES.update(
    {
        "reachable_nodes": q_reachable_nodes,
        "hashing_overlap": q_hashing_overlap,
        "seir_census": q_seir_census,
    }
)


# --------------------------------------------------- cliques / group degree
CLIQUE_SPARSIFY_MOD = 97
CLIQUE_SPARSIFY_KEEP = 6


def q_maximal_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cliques (ELS degeneracy-ordered Bron–Kerbosch,
    operators/clique.py) of the HASH-SPARSIFIED undirected link graph.
    The full link graph is a dense quasi-random graph (avg degree ~170
    at sf0.01) whose maximal-clique count is super-polynomial, so the
    driver query pins the deterministic arithmetic keep-rule
    (u*1000003+v) % 97 < 6 — replayed verbatim in SQL — and the oracle
    enumerates the clique set exactly by ordered expansion + maximality
    filter (oracles.maximal_cliques_sql). Vertices keep the FULL link-
    graph vertex set, so sparsification-isolated vertices exercise the
    singleton-clique path."""
    from networkit_spark.operators.clique import maximal_cliques

    e = derive_web_edges(spark, sf_dir)
    und = (
        e.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .dropDuplicates(["u", "v"])
    )
    verts = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .distinct()
    )
    sp = und.filter(
        (F.col("u") * 1000003 + F.col("v")) % CLIQUE_SPARSIFY_MOD
        < CLIQUE_SPARSIFY_KEEP
    )
    g = Graph.from_edges(
        sp.select(
            F.col("u").alias("src"), F.col("v").alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        directed=False,
        vertices=verts,
    )
    cl = maximal_cliques(g)
    return cl.select(
        F.array_join("clique", ",").alias("members"),
        F.size("clique").alias("size"),
    )


def q_group_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupDegree greedy k=5 group on the directed link graph
    (exact marginal gains, smallest-id tie-break — deterministic, so
    the oracle unrolls the five greedy steps exactly)."""
    from networkit_spark.operators.group import group_degree

    g = _directed_graph(spark, sf_dir)
    return group_degree(g, k=5, count_group_nodes=False).group


QUERIES.update(
    {
        "maximal_cliques": q_maximal_cliques,
        "group_degree": q_group_degree,
    }
)


def q_laplacian_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplacian energy-drop centrality on the undirected link graph
    (closed form — exact SQL twin)."""
    from networkit_spark.operators.centrality import laplacian_centrality

    g = _undirected_graph(spark, sf_dir)
    return laplacian_centrality(g)


def q_permanence_mod7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PermanenceCentrality w.r.t. the deterministic id%7 partition on
    the undirected link graph (same partition the nominal-assortativity
    query pins) — internal strength, max foreign strength, and the
    intra-community triangle count all have exact SQL twins."""
    from networkit_spark.operators.centrality import permanence_centrality

    g = _undirected_graph(spark, sf_dir)
    part = g.vertices().select("id", (F.col("id") % 7).alias("label"))
    return permanence_centrality(g, part).select(
        "id", F.round("permanence", 9).alias("permanence")
    )


QUERIES.update(
    {
        "laplacian_centrality": q_laplacian_centrality,
        "permanence_mod7": q_permanence_mod7,
    }
)


def q_local_partition_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocalPartitionCoverage w.r.t. the deterministic id%7 partition on
    the undirected link graph (exact SQL twin)."""
    from networkit_spark.operators.centrality import local_partition_coverage

    g = _undirected_graph(spark, sf_dir)
    part = g.vertices().select("id", (F.col("id") % 7).alias("label"))
    return local_partition_coverage(g, part).select(
        "id", F.round("score", 9).alias("score")
    )


QUERIES.update({"local_partition_coverage": q_local_partition_coverage})


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact neighborhood function (ordered pairs within distance <= h,
    one row per realized distance) of the undirected link graph — the
    graph is connected at every shipped SF (the operator enforces it,
    NeighborhoodFunction.cpp contract). Oracle: unrolled BFS closure."""
    from networkit_spark.operators.distances import neighborhood_function

    g = _undirected_graph(spark, sf_dir)
    return neighborhood_function(g)


QUERIES.update({"neighborhood_function": q_neighborhood_function})


def q_lme_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LouvainMapEquation community summary (hierarchical map-equation
    minimization; the hashable artifact is the property summary of the
    labels actually produced, exchanged via the side channel — same
    contract as plm_labels/leiden_labels; pytest additionally holds the
    module to exact replica parity and planted recovery)."""
    from networkit_spark.operators.mapequation import louvain_map_equation

    g = _undirected_graph(spark, sf_dir)
    return _community_summary(
        spark, sf_dir, "lme_labels", louvain_map_equation(g, hierarchical=True).labels, g
    )


QUERIES.update({"lme_labels": q_lme_labels})


# ------------------------------------------------- corpus pipeline ops
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination: training docs (doc_id%17 != 0)
    sharing any distinct 5-gram with the pinned eval split (doc_id%17
    == 0) — the standard pretraining hygiene pass, exact SQL twin."""
    from networkit_spark.operators.corpus import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    tr = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(tr, ev, n=5)


def q_tfidf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.corpus import tf_idf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tf_idf(docs, top_k=5)


QUERIES.update(
    {
        "decontaminate": q_decontaminate,
        "tfidf_top5": q_tfidf_top5,
    }
)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing into 256-token bins over 8 shards —
    per-shard sequential semantics replayed exactly by a DuckDB
    recursive CTE (oracles.pack_sequences_sql)."""
    from networkit_spark.operators.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, capacity=256, shards=8)


QUERIES.update({"pack_sequences": q_pack_sequences})


def q_partition_eval_mod7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row summary of the partition-evaluation family w.r.t. the
    deterministic id%7 partition on the undirected link graph: EdgeCut,
    PartitionHubDominance, IntrapartitionDensity (avg + global),
    IsolatedInterpartitionConductance/Expansion, PartitionFragmentation,
    StablePartitionNodes — every number recomputed exactly in SQL."""
    from networkit_spark.operators import evaluation as ev

    g = _undirected_graph(spark, sf_dir)
    part = g.vertices().select("id", (F.col("id") % 7).alias("label"))
    hub = ev.partition_hub_dominance(g, part)
    dens, dens_global = ev.intrapartition_density(g, part)
    iic = ev.isolated_interpartition_conductance(g, part)
    iie = ev.isolated_interpartition_expansion(g, part)
    frag = ev.partition_fragmentation(g, part)
    _, stab = ev.stable_partition_nodes(g, part)
    row = [
        (
            round(ev.edge_cut(g, part), 9),
            round(hub.unweighted_average, 9),
            round(dens.unweighted_average, 9),
            round(dens_global, 9),
            round(iic.unweighted_average, 9),
            round(iie.unweighted_average, 9),
            round(frag.unweighted_average, 9),
            round(stab.weighted_average, 9),
        )
    ]
    return local_frame(
        spark, row,
        "edge_cut double, hub_dominance double, intra_density double, "
        "intra_density_global double, iic double, iie double, "
        "fragmentation double, stable_fraction double",
    )


def q_partition_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison measures between the id%5 and id%7 partitions:
    node-structural Rand, graph-structural Rand, Jaccard, adjusted Rand
    dissimilarities + intersection cell count (exact SQL twins)."""
    from networkit_spark.operators import evaluation as ev

    g = _undirected_graph(spark, sf_dir)
    za = g.vertices().select("id", (F.col("id") % 5).alias("label"))
    eb = g.vertices().select("id", (F.col("id") % 7).alias("label"))
    cells = ev.partition_intersection(za, eb).select("label").distinct().count()
    row = [
        (
            round(ev.node_structural_rand(g, za, eb), 9),
            round(ev.graph_structural_rand(g, za, eb), 9),
            round(ev.jaccard_measure(g, za, eb), 9),
            round(ev.adjusted_rand(g, za, eb), 9),
            cells,
        )
    ]
    return local_frame(
        spark, row,
        "rand_node double, rand_graph double, jaccard double, "
        "adjusted_rand double, n_cells long",
    )


QUERIES.update(
    {
        "partition_eval_mod7": q_partition_eval_mod7,
        "partition_compare": q_partition_compare,
    }
)


def q_stream_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance over 4 ordered event batches
    (edges derived deterministically from the events table): the
    operator's running total after each batch must equal the from-
    scratch triangle count of the accumulated prefix — which is exactly
    what the SQL twin recomputes per prefix."""
    from networkit_spark.streaming.edge_stream import incremental_triangle_count

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 601).alias("src"),
        (F.col("event_id") % 601).alias("dst"),
    )
    max_id = ev.agg(F.max("event_id")).first()[0]
    ev = ev.withColumn(
        "batch", (F.col("event_id") * 4 / (max_id + 1)).cast("long")
    ).persist()
    itc = incremental_triangle_count(spark)
    rows = []
    for b in range(4):
        itc(ev.filter(F.col("batch") == b).select("src", "dst"), b)
        rows.append((b, itc.total))
    ev.unpersist()
    return local_frame(spark, rows, "batch long, n_triangles long")


QUERIES.update({"stream_triangles": q_stream_triangles})


# ----------------------------------------------------------- biconnected
_BICC_CACHE: dict[tuple[str, str], object] = {}


def _bicc(spark: SparkSession, sf_dir: str):
    """One Tarjan–Vishkin run feeds both biconnected driver queries."""
    key = (spark.sparkContext.applicationId, sf_dir)
    res = _BICC_CACHE.get(key)
    if res is None:
        from networkit_spark.operators.biconnected import biconnected_components

        res = biconnected_components(_undirected_graph(spark, sf_dir))
        _BICC_CACHE[key] = res
    return res


def q_biconnected_node_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, n_blocks) per vertex — componentsOfNode cardinality
    (BiconnectedComponents.cpp:113-120); n_blocks > 1 = articulation."""
    g = _undirected_graph(spark, sf_dir)
    return _bicc(spark, sf_dir).node_block_counts(g.vertices())


def q_biconnected_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(size, n_blocks) block-size histogram — label-invariant twin of
    getComponentSizes()."""
    return (
        _bicc(spark, sf_dir)
        .component_sizes()
        .groupBy("size")
        .agg(F.count("*").cast("long").alias("n_blocks"))
        .select(F.col("size").cast("long").alias("size"), "n_blocks")
    )


QUERIES.update({
    "biconnected_node_blocks": q_biconnected_node_blocks,
    "biconnected_size_hist": q_biconnected_size_hist,
})


# ---------------------------------------------------------- top-k closeness
def q_top_closeness_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by standard closeness via the NBcut pruned search
    (TopCloseness.cpp) — score/tie-break contract matches the oracle's
    full ranking."""
    from networkit_spark.operators.topcloseness import top_closeness

    return top_closeness(_undirected_graph(spark, sf_dir), k=10)


def q_top_harmonic_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.topcloseness import top_closeness

    return top_closeness(_undirected_graph(spark, sf_dir), k=10, harmonic=True)


QUERIES.update({
    "top_closeness_10": q_top_closeness_10,
    "top_harmonic_10": q_top_harmonic_10,
})


# ----------------------------------------------------------- cover measures
def _mod_cover_x(g) -> DataFrame:
    """Deterministic overlapping cover: every node in cluster id%7, nodes
    with id%3==0 additionally in cluster 7+id%11 (ranges disjoint)."""
    v = g.vertices()
    return (
        v.select("id", (F.col("id") % 7).alias("c"))
        .unionByName(
            v.filter(F.col("id") % 3 == 0)
            .select("id", (F.lit(7) + F.col("id") % 11).alias("c"))
        )
    )


def _mod_cover_y(g) -> DataFrame:
    v = g.vertices()
    return (
        v.select("id", (F.col("id") % 5).alias("c"))
        .unionByName(
            v.filter(F.col("id") % 4 == 1)
            .select("id", (F.lit(5) + F.col("id") % 13).alias("c"))
        )
    )


def q_cover_f1_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoverF1Similarity of the two deterministic mod-covers."""
    from networkit_spark.operators.cover_measures import cover_f1_similarity

    g = _undirected_graph(spark, sf_dir)
    return cover_f1_similarity(_mod_cover_x(g), _mod_cover_y(g))


def q_cover_hub_dominance_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.cover_measures import cover_hub_dominance

    g = _undirected_graph(spark, sf_dir)
    return cover_hub_dominance(g, _mod_cover_x(g))


def q_overlapping_nmi_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 - NMI (McDaid) between the mod-covers, all five normalizations."""
    from networkit_spark.operators.cover_measures import overlapping_nmi_distance

    g = _undirected_graph(spark, sf_dir)
    return overlapping_nmi_distance(g.num_vertices(), _mod_cover_x(g),
                                    _mod_cover_y(g))


QUERIES.update({
    "cover_f1_mod": q_cover_f1_mod,
    "cover_hub_dominance_mod": q_cover_hub_dominance_mod,
    "overlapping_nmi_mod": q_overlapping_nmi_mod,
})


# ----------------------------------------------------- agglomerative (PAC)
def q_agglomerative_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParallelAgglomerativeClusterer summary (matching tie-breaks make
    the exact labels schedule-dependent — the hashable artifact is the
    property summary, exchanged via the side channel like plm_labels)."""
    from networkit_spark.operators.agglomerative import parallel_agglomerative

    g = _undirected_graph(spark, sf_dir)
    return _community_summary(
        spark, sf_dir, "agglomerative_labels", parallel_agglomerative(g), g
    )


QUERIES.update({"agglomerative_labels": q_agglomerative_labels})


# ----------------------------------------------------------------- k-path
def q_kpath_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-path centrality, explicit (k=6, t=20000) walk budget; every
    draw is the shared quadratic walk-hash so the DuckDB twin replays
    the Monte-Carlo run exactly."""
    from networkit_spark.operators.kpath import kpath_centrality

    g = _undirected_graph(spark, sf_dir)
    return kpath_centrality(g, k=6, t=20000, seed=1)


QUERIES.update({"kpath_scores": q_kpath_scores})


# --------------------------------------------------- hop plot + graph diff
def q_hop_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop plot (HopPlotApproximation.cpp semantics, exact
    variant): fraction of reachable ordered pairs within h hops —
    NF(h) / NF(diameter)."""
    from networkit_spark.operators.distances import neighborhood_function

    g = _undirected_graph(spark, sf_dir)
    nf = neighborhood_function(g)
    total = nf.agg(F.max("n_pairs")).first()[0]
    return nf.select(
        "dist", F.round(F.col("n_pairs") / float(total), 9).alias("hp")
    )


def _perturbed_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Deterministic G2 for GraphDifference: drop edges with
    (u+v)%9 == 0, add the chord (i, (5i+7) mod n) for every vertex."""
    g = _undirected_graph(spark, sf_dir)
    from networkit_spark.sources.tables import GRAPH_MODULUS

    kept = g.simple_undirected_edges().filter(
        (F.col("u") + F.col("v")) % 9 != 0
    )
    chords = (
        g.vertices()
        .select(
            F.least(F.col("id"), (F.col("id") * 5 + 7) % GRAPH_MODULUS).alias("u"),
            F.greatest(F.col("id"), (F.col("id") * 5 + 7) % GRAPH_MODULUS).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    e2 = kept.unionByName(chords).dropDuplicates(["u", "v"]).select(
        F.col("u").alias("src"), F.col("v").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    return Graph.from_edges(e2, directed=False, vertices=g.vertices())


def q_graph_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphDifference edit-script counts between the web graph and its
    deterministic perturbation (GraphDifference.cpp:18-125)."""
    from networkit_spark.operators.graphdiff import difference_summary

    g1 = _undirected_graph(spark, sf_dir)
    return difference_summary(g1, _perturbed_graph(spark, sf_dir))


QUERIES.update({
    "hop_plot": q_hop_plot,
    "graph_difference": q_graph_difference,
})


# ------------------------------------------------------------ simple paths
def q_simple_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(length, n_paths) of all simple paths between the two smallest
    vertex ids, cutoff 3 (AllSimplePaths.cpp:15-130)."""
    from networkit_spark.operators.simplepaths import all_simple_paths

    g = _undirected_graph(spark, sf_dir)
    lo = [r["id"] for r in
          g.vertices().orderBy("id").limit(2).collect()]
    paths = all_simple_paths(g, lo[0], lo[1], cutoff=3)
    return (
        paths.select((F.size("path") - 1).cast("long").alias("length"))
        .groupBy("length")
        .agg(F.count("*").alias("n_paths"))
    )


QUERIES.update({"simple_paths": q_simple_paths})


# ---------------------------------------------- sparsification scores (r2.4)
def q_local_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import local_similarity_scores

    g = _undirected_graph(spark, sf_dir)
    return local_similarity_scores(g).select(
        "u", "v", F.round("score", 9).alias("score"))


def q_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import multiscale_scores

    g = _undirected_graph(spark, sf_dir)
    return multiscale_scores(g).select(
        "u", "v", F.round("score", 9).alias("score"))


def q_chance_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import (
        chance_corrected_triangle_scores,
    )

    g = _undirected_graph(spark, sf_dir)
    return chance_corrected_triangle_scores(g).select(
        "u", "v", F.round("score", 9).alias("score"))


def q_simmelian_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimmelianOverlapScore with the reference's default maxRank=10
    (sparsification surface: SimmelianOverlapScore.cpp:19-32)."""
    from networkit_spark.operators.sparsification import simmelian_overlap_scores

    g = _undirected_graph(spark, sf_dir)
    return simmelian_overlap_scores(g, max_rank=10).select("u", "v", "score")


def q_forest_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ForestFireScore in fixed-work mode (64 fires, 4 generations,
    pf = 1/2 so the geometric draw is integer-exact in both engines);
    the while-until-burnt-ratio contract is pytest-covered."""
    from networkit_spark.operators.forestfire import forest_fire_scores

    g = _undirected_graph(spark, sf_dir)
    return forest_fire_scores(g, pf=0.5, seed=1, n_fires=64, max_steps=4).select(
        "u", "v", F.round("score", 9).alias("score"))


def q_random_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import random_edge_scores

    g = _undirected_graph(spark, sf_dir)
    return random_edge_scores(g, seed=1).select(
        "u", "v", F.round("score", 9).alias("score"))


def q_random_node_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from networkit_spark.operators.sparsification import random_node_edge_scores

    g = _undirected_graph(spark, sf_dir)
    return random_node_edge_scores(g, rne_ratio=0.5, seed=1).select(
        "u", "v", F.round("score", 9).alias("score"))


QUERIES.update({
    "local_similarity_scores": q_local_similarity,
    "multiscale_scores": q_multiscale,
    "chance_triangle_scores": q_chance_triangle,
    "simmelian_overlap": q_simmelian_overlap,
    "forest_fire_scores": q_forest_fire,
    "random_edge_scores": q_random_edge,
    "random_node_edge_scores": q_random_node_edge,
})


# ------------------------------------------- degree-sequence generators
def _und_degree_df(g) -> DataFrame:
    e = g.simple_undirected_edges()
    return (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )


def _degree_histogram(edges: DataFrame) -> DataFrame:
    dg = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .groupBy("id").agg(F.count("*").alias("degree"))
    )
    return dg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def q_havel_hakimi_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HavelHakimiGenerator over the derived graph's degree sequence;
    the generated graph realizes the sequence exactly, so its degree
    histogram equals the source graph's (computed independently by the
    oracle)."""
    from networkit_spark.operators.degseq import havel_hakimi

    g = _undirected_graph(spark, sf_dir)
    return _degree_histogram(havel_hakimi(spark, _und_degree_df(g)))


def q_config_model_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConfigurationModel (distributed stub pairing + conflict repair)
    keeps degrees exact by stub conservation. The full link graph is a
    dense quasi-random graph (avg degree ~170 at sf0.01) — the worst
    case for pairing-collision repair — so the driver query runs on the
    hash-sparsified subgraph ((u*1000003+v) % 97 < 24, ~25% of edges,
    replayed verbatim in the oracle); the dense case is pytest-covered
    at small n."""
    from networkit_spark.operators.degseq import configuration_model

    g = _undirected_graph(spark, sf_dir)
    sp = g.simple_undirected_edges().filter(
        (F.col("u") * 1000003 + F.col("v")) % 97 < 24
    )
    deg = (
        sp.select(F.col("u").alias("id"))
        .unionByName(sp.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    return _degree_histogram(configuration_model(spark, deg, seed=1))


def q_esmc_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EdgeSwitchingMarkovChainGenerator: Havel-Hakimi seed + 2
    switches/edge; every accepted swap preserves degrees and
    simplicity."""
    from networkit_spark.operators.degseq import edge_switching_markov_chain

    g = _undirected_graph(spark, sf_dir)
    return _degree_histogram(
        edge_switching_markov_chain(
            spark, _und_degree_df(g), num_switches_per_edge=2, seed=1
        )
    )


def q_planarity_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftRightPlanarityCheck block verdicts on a constructed disjoint
    union over the 40 smallest real vertex ids, ONE biconnected run,
    every block verdict a graph-theoretic certainty (closed-form
    oracle, the commute_time_cycle pattern):
    - K4 (4 nodes): trivially planar (n<=4 fast path);
    - K3,3 (6 nodes, 9 edges): Euler passes, the Arrow LR check must
      REJECT it (Kuratowski);
    - octahedron K2,2,2 (6 nodes, 12 edges = exactly 3n-6): maximal
      planar — Euler cannot reject, LR must ACCEPT;
    - wheel W24 (24 nodes, 46 edges): planar, LR path.
    All blocks have BFS depth <= 4, bounding the Tarjan-Vishkin level
    sweeps (a spanning tree of the link graph would cost ~600
    supersteps)."""
    from networkit_spark.graph import Graph
    from networkit_spark.operators.planarity import block_planarity

    g = _undirected_graph(spark, sf_dir)
    low = sorted(
        r["id"] for r in g.vertices().orderBy("id").limit(40).collect()
    )
    w, k33, octa, k4 = low[:24], low[24:30], low[30:36], low[36:40]
    edges = (
        [(w[i], w[(i + 1) % 23]) for i in range(23)]
        + [(w[23], w[i]) for i in range(23)]
        + [(k33[a], k33[b + 3]) for a in range(3) for b in range(3)]
        + [(octa[a], octa[b]) for a in range(6) for b in range(a + 1, 6)
           if {a, b} not in ({0, 1}, {2, 3}, {4, 5})]
        + [(k4[a], k4[b]) for a in range(4) for b in range(a + 1, 4)]
    )
    gc = Graph.from_edges(
        local_frame(
            spark, [(u, v, 1.0) for u, v in edges], "src long, dst long, weight double"
        ),
        directed=False,
        vertices=local_frame(spark, [(i,) for i in low], "id long"),
    )
    return (
        block_planarity(gc)
        .select("n_nodes", "n_edges", "is_planar")
        .orderBy("n_nodes", "n_edges")
    )


def q_approx_betweenness_rk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApproxBetweenness (Riondato-Kornaropoulos path sampling) at a
    PINNED (vd=4, r=48) so the oracle replays the identical sample set
    (the reference's ESTIMATED_PEDANTIC vd feed is pytest-covered via
    the formula test)."""
    from networkit_spark.operators.betweenness import approx_betweenness_rk

    g = _undirected_graph(spark, sf_dir)
    return approx_betweenness_rk(g, vd=4, r=48, seed=1).select(
        "id", F.round("score", 9).alias("score"))


def q_approx_group_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApproxGroupBetweenness (Mahmoody hyperedge sampling + greedy
    max-coverage) at PINNED (k=5, samples=48, seed=1) — the identical
    sample pairs as approx_betweenness_rk, so the oracle's 8-level BFS
    unroll provably covers every drawn walk."""
    from networkit_spark.operators.betweenness import approx_group_betweenness

    g = _undirected_graph(spark, sf_dir)
    return approx_group_betweenness(g, group_size=5, samples=48, seed=1)


def q_scd_ground_truth_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCDGroundTruthComparison on deterministic fixtures: found
    community of seed s (12 smallest ids) = its mod-9 class, ground
    truth = the engine's mod-7/11 overlapping cover (cover_f1_mod
    family), seed-restricted candidates."""
    from networkit_spark.operators.scd import scd_ground_truth_comparison

    g = _undirected_graph(spark, sf_dir)
    v = g.vertices()
    seeds = v.orderBy("id").limit(12).select(F.col("id").alias("seed"))
    fnd = seeds.join(
        v.select("id", (F.col("id") % 9).alias("k9")),
        seeds["seed"] % 9 == F.col("k9"),
    ).select("seed", "id")
    res = scd_ground_truth_comparison(g, _mod_cover_x(g), fnd,
                                      ignore_seeds=False)
    return res.select(
        "seed", F.round("jaccard", 9).alias("jaccard"),
        F.round("f1", 9).alias("f1"),
        F.round("precision", 9).alias("precision"),
        F.round("recall", 9).alias("recall"),
    )


def q_conductance_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of the id-parity 2-partition (Conductance.cpp)."""
    from networkit_spark.operators.evaluation import conductance

    g = _undirected_graph(spark, sf_dir)
    labels = g.vertices().select("id", (F.col("id") % 2).alias("label"))
    return local_frame(
        spark, [(round(conductance(g, labels), 9),)], "conductance double"
    )


def q_sampled_rand_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled node-/graph-structural rand dissimilarities between the
    mod-3 and mod-4 partitions, 500 hash-drawn samples each."""
    from networkit_spark.operators.evaluation import (
        sampled_graph_structural_rand,
        sampled_node_structural_rand,
    )

    g = _undirected_graph(spark, sf_dir)
    zeta = g.vertices().select("id", (F.col("id") % 3).alias("label"))
    eta = g.vertices().select("id", (F.col("id") % 4).alias("label"))
    nr = sampled_node_structural_rand(g, zeta, eta, max_samples=500, seed=1)
    gr = sampled_graph_structural_rand(g, zeta, eta, max_samples=500, seed=1)
    return local_frame(
        spark, [(round(nr, 9), round(gr, 9))], "node_rand double, graph_rand double"
    )


QUERIES.update({
    "havel_hakimi_degrees": q_havel_hakimi_degrees,
    "config_model_degrees": q_config_model_degrees,
    "esmc_degrees": q_esmc_degrees,
    "planarity_cases": q_planarity_cases,
    "approx_betweenness_rk": q_approx_betweenness_rk,
    "approx_group_betweenness": q_approx_group_betweenness,
    "scd_ground_truth_mod": q_scd_ground_truth_mod,
    "conductance_parity": q_conductance_parity,
    "sampled_rand_mod": q_sampled_rand_mod,
})


def _link_pred_curve(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    """Shared harness for the ROC / PR queries: 70/30 seeded holdout
    (RandomLinkSampler parity), common-neighbor scores over the training
    graph on its distance-2 candidates, curve vs the FULL graph as
    testGraph (the reference's own test setup). Integer CN scores keep
    the (score DESC, u, v) total order engine-independent."""
    from networkit_spark.operators.linkpred_eval import (
        evaluation_points,
        random_link_sampler,
    )
    from networkit_spark.operators.linkprediction import (
        link_prediction_scores,
        missing_links,
    )

    g = _undirected_graph(spark, sf_dir)
    train, _ = random_link_sampler(g, train_fraction=0.7, seed=7)
    cand = missing_links(train, 2)
    preds = link_prediction_scores(train, cand).select(
        "u", "v", F.col("common_neighbors").cast("double").alias("score")
    )
    full = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    pts = evaluation_points(preds, full, num_thresholds=21, metric=metric)
    return pts.select(F.round("x", 9).alias("x"), F.round("y", 9).alias("y"))


def q_link_pred_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCMetric.generatePoints over the holdout harness."""
    return _link_pred_curve(spark, sf_dir, "roc")


def q_link_pred_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrecisionRecallMetric.generatePoints over the holdout harness."""
    return _link_pred_curve(spark, sf_dir, "pr")


QUERIES.update({
    "link_pred_roc": q_link_pred_roc,
    "link_pred_pr": q_link_pred_pr,
})


def q_spsp_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-pairs hop distances (SPSP.cpp / APSP.cpp contract) from
    sources {id % 37 == 0} of the undirected link graph to every
    reachable vertex — ONE batched multi-source BFS; unreached pairs
    absent (the reference's infinity)."""
    from networkit_spark.operators.apsp import spsp

    g = _undirected_graph(spark, sf_dir)
    srcs = g.vertices().filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("s")
    )
    return spsp(g, srcs).select(
        "s", "id", F.col("dist").cast("long").alias("dist")
    )


def q_spsp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted subset-pairs distances (the Dijkstra-parity Bellman-Ford
    fixed point of operators/apsp) on the link graph with deterministic
    per-edge weights 1 + (u + v) % 2, sources {id % 97 == 0}."""
    from networkit_spark.operators.apsp import spsp

    g = _undirected_graph(spark, sf_dir)
    wed = g.edges.select(
        "src",
        "dst",
        (F.lit(1.0) + F.pmod(F.col("src") + F.col("dst"), F.lit(2))).alias(
            "weight"
        ),
    )
    wg = Graph.from_edges(
        wed, directed=False, weighted=True, vertices=g.vertices()
    )
    srcs = g.vertices().filter(F.col("id") % 97 == 0).select(
        F.col("id").alias("s")
    )
    return spsp(wg, srcs).select("s", "id", F.round("dist", 9).alias("dist"))


def q_st_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BidirectionalBFS.cpp st-distances for three deterministic vertex
    pairs of the undirected link graph (smaller-frontier ball growth;
    the oracle reads the plain BFS closure — same contract)."""
    from networkit_spark.operators.apsp import bidirectional_bfs

    g = _undirected_graph(spark, sf_dir)
    a = _vertex_anchors(g, ge=(150, 300), le=(450, 200))
    pairs = [(a["lo"], a["hi"]), (a["ge0"], a["le0"]), (a["ge1"], a["le1"])]
    rows = []
    for s, t in pairs:
        d = bidirectional_bfs(g, int(s), int(t))
        if d is not None:
            rows.append((int(s), int(t), int(d)))
    return local_frame(spark, rows, "s long, t long, dist long")


def q_st_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BidirectionalDijkstra.cpp st-distances for the same three
    deterministic vertex pairs under weights w = 1 + (u + v) % 2
    (smaller-frontier weighted ball growth with best-meeting pruning;
    the oracle reads the Bellman-Ford unroll — same fixed point)."""
    from networkit_spark.operators.apsp import bidirectional_dijkstra

    g = _undirected_graph(spark, sf_dir)
    wed = g.edges.select(
        "src",
        "dst",
        (F.lit(1.0) + F.pmod(F.col("src") + F.col("dst"), F.lit(2))).alias(
            "weight"
        ),
    )
    wg = Graph.from_edges(
        wed, directed=False, weighted=True, vertices=g.vertices()
    )
    a = _vertex_anchors(g, ge=(150, 300), le=(450, 200))
    pairs = [(a["lo"], a["hi"]), (a["ge0"], a["le0"]), (a["ge1"], a["le1"])]
    rows = []
    for s, t in pairs:
        d = bidirectional_dijkstra(wg, int(s), int(t))
        if d is not None:
            rows.append((int(s), int(t), round(float(d), 9)))
    return local_frame(spark, rows, "s long, t long, dist double")


QUERIES.update({
    "spsp_distances": q_spsp_distances,
    "spsp_weighted": q_spsp_weighted,
    "st_distances_bidirectional": q_st_distances,
    "st_weighted_bidirectional": q_st_weighted,
})


def q_floyd_warshall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FloydWarshall.cpp distances + equal-distance min-hop tie-breaks
    on the {id % 7 == 0}-induced weighted subgraph (weights
    1 + (u + v) % 3 — positive, so no negative-cycle rows), computed by
    lexicographic min-plus doubling (operators/floydwarshall.py)."""
    from networkit_spark.operators.floydwarshall import floyd_warshall

    g = _undirected_graph(spark, sf_dir)
    sub = g.edges.filter(
        (F.col("src") % 7 == 0) & (F.col("dst") % 7 == 0)
    ).select(
        "src",
        "dst",
        (F.lit(1.0) + F.pmod(F.col("src") + F.col("dst"), F.lit(3))).alias(
            "weight"
        ),
    )
    wg = Graph.from_edges(
        sub, directed=False, weighted=True,
        vertices=g.vertices().filter(F.col("id") % 7 == 0),
    )
    dists, _ = floyd_warshall(wg)
    return dists.select(
        "u", "v", F.round("dist", 9).alias("dist"),
        F.col("hops").cast("long").alias("hops"),
    )


QUERIES.update({"floyd_warshall_mod7": q_floyd_warshall})


def q_pll_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned landmark labeling (2-hop hub labels) on the
    {id % 3 == 0}-induced subgraph, then EXACT distance queries from
    the label index alone for sources {id % 30 == 0} × all subgraph
    vertices — queryImpl's contract, so the oracle is the plain BFS
    closure (unreachable pairs absent)."""
    from networkit_spark.operators.pll import (
        pll_query,
        pruned_landmark_labeling,
    )

    g = _undirected_graph(spark, sf_dir)
    sub = g.edges.filter((F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0))
    sv = g.vertices().filter(F.col("id") % 3 == 0)
    sg = Graph.from_edges(sub, directed=False, vertices=sv)
    labels = pruned_landmark_labeling(sg, batch_size=64)
    pairs = (
        sv.filter(F.col("id") % 30 == 0)
        .select(F.col("id").alias("s"))
        .crossJoin(sv.select(F.col("id").alias("t")))
    )
    return pll_query(labels, labels, pairs).select(
        "s", "t", F.col("dist").cast("long").alias("dist")
    )


QUERIES.update({"pll_distances": q_pll_distances})


def q_dynpll_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynPrunedLandmarkLabeling on the same {id % 3 == 0}-induced
    subgraph as pll_distances: static index, then ONE insertion batch
    of two deterministic long-range edges repaired by the resumed
    pruned BFS (operators/dynpll.py). Queries from the repaired index
    are exact on the edited graph (DynPrunedLandmarkLabeling.cpp
    contract), so the oracle is the BFS closure over the edited
    subgraph."""
    from networkit_spark.operators.dynpll import (
        pll_index,
        pll_index_query,
        update_pll,
    )

    g = _undirected_graph(spark, sf_dir)
    sub = g.edges.filter((F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0))
    sv = g.vertices().filter(F.col("id") % 3 == 0)
    sg = Graph.from_edges(sub, directed=False, vertices=sv)
    idx = pll_index(sg, batch_size=64)
    a = sv.agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.min(F.when(F.col("id") >= 300, F.col("id"))).alias("mid"),
    ).first()
    added = local_frame(
        spark, [(int(a["lo"]), int(a["hi"])), (int(a["lo"]), int(a["mid"]))],
        "src long, dst long",
    )
    _, idx1 = update_pll(sg, idx, added)
    pairs = (
        sv.filter(F.col("id") % 30 == 0)
        .select(F.col("id").alias("s"))
        .crossJoin(sv.select(F.col("id").alias("t")))
    )
    return pll_index_query(idx1, pairs).select(
        "s", "t", F.col("dist").cast("long").alias("dist")
    )


QUERIES.update({"dynpll_distances": q_dynpll_distances})


def q_dyn_betweenness_one_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynBetweennessOneNode on the {id % 3 == 0}-induced subgraph:
    fresh (dist, sigma, sigmax) state for tracked node x = the smallest
    {id % 30 == 0} vertex, repaired through the same two-edge insertion
    batch as dynpll_distances, sliced to sampled sources. Contract
    (DynBetweennessOneNode.cpp updateBatch): state == fresh run on the
    edited graph — the oracle reruns the σ-BFS + x-decomposition in
    SQL."""
    from networkit_spark.operators.dynbetweenness_one import (
        one_node_state,
        update_one_node,
    )

    g = _undirected_graph(spark, sf_dir)
    sub = g.edges.filter((F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0))
    sv = g.vertices().filter(F.col("id") % 3 == 0)
    sg = Graph.from_edges(sub, directed=False, vertices=sv)
    a = sv.agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.min(F.when(F.col("id") >= 300, F.col("id"))).alias("mid"),
        F.min(F.when(F.col("id") % 30 == 0, F.col("id"))).alias("x"),
    ).first()
    x = int(a["x"])
    st = one_node_state(sg, x)
    added = local_frame(
        spark, [(int(a["lo"]), int(a["hi"])), (int(a["lo"]), int(a["mid"]))],
        "src long, dst long",
    )
    _, st1 = update_one_node(sg, st, x, added)
    return st1.filter(F.col("s") % 30 == 0).select(
        "s", "t", "dist", "sigma", "sigmax"
    )


QUERIES.update(
    {"dyn_betweenness_one_state": q_dyn_betweenness_one_state}
)


def q_dynbfs_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynBFS updateBatch over the undirected link graph: fresh state
    from the min-id source, then ONE mixed batch (remove every edge
    with (u*13 + v*7) % 11 == 0, add two deterministic long-range
    pairs) repaired by the localized three-phase update. The contract
    (DynSSSPGTest) is state == fresh run on the edited graph, so the
    oracle runs the fresh BFS + exact path counts in SQL."""
    from networkit_spark.operators.dynsssp import sssp_state, update_sssp

    g = _undirected_graph(spark, sf_dir)
    a = _vertex_anchors(g, ge=(200,), le=(400,))
    source = a["lo"]
    p2 = (a["ge0"], a["le0"])
    pairs = [(min(a["lo"], a["hi"]), max(a["lo"], a["hi"])),
             (min(p2), max(p2))]
    added = local_frame(spark, pairs, "src long, dst long")
    removed = g.edges.filter(
        (F.col("src") < F.col("dst"))
        & (F.pmod(F.col("src") * 13 + F.col("dst") * 7, F.lit(11)) == 0)
    ).select("src", "dst")
    st = sssp_state(g, source)
    _, st2 = update_sssp(g, st, source, added=added, removed=removed)
    return st2.select("id", F.col("dist").cast("long").alias("dist"),
                      F.col("npaths"))


QUERIES.update({"dynbfs_state": q_dynbfs_state})


def q_dynapsp_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynAPSP updateBatch over the undirected link graph with an
    SPSP-style source sample {id % 20 == 0}: fresh (s, t, dist) state,
    then ONE batch inserting two deterministic long-range edges between
    sampled sources, repaired by the relational cone algebra
    (operators/dynapsp.py). Contract (DynAPSP.cpp:157-161): state ==
    fresh run on the edited graph, so the oracle edits the edge table
    in SQL and reruns the multi-source BFS closure."""
    from networkit_spark.operators.dynapsp import apsp_state, update_apsp

    g = _undirected_graph(spark, sf_dir)
    srcs = g.vertices().filter(F.pmod(F.col("id"), F.lit(20)) == 0)
    a = srcs.agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.min(F.when(F.col("id") >= 300, F.col("id"))).alias("mid"),
    ).first()
    pairs = [(int(a["lo"]), int(a["hi"])), (int(a["lo"]), int(a["mid"]))]
    added = local_frame(spark, pairs, "src long, dst long")
    st = apsp_state(g, sources=srcs.select(F.col("id").alias("s")))
    _, st2 = update_apsp(g, st, added)
    return st2.select("s", "t", F.col("dist").cast("long").alias("dist"))


QUERIES.update({"dynapsp_state": q_dynapsp_state})


def _edge_attr(g) -> DataFrame:
    """Deterministic per-edge attribute (u + v) % 5 — tie-heavy on
    purpose (the prefix-Jaccard rank walk's hard case)."""
    return (
        g.edges.filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("u"), F.col("dst").alias("v"),
            F.pmod(F.col("src") + F.col("dst"), F.lit(5)).cast("double")
            .alias("attr"),
        )
    )


def q_quadrangle_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChibaNishizekiQuadrangleEdgeScore: 4-cycles through every
    canonical edge of the undirected link graph."""
    from networkit_spark.operators.edgescores import quadrangle_edge_score

    g = _undirected_graph(spark, sf_dir)
    return quadrangle_edge_score(g)


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixJaccardScore over the deterministic (u+v)%5 attribute."""
    from networkit_spark.operators.edgescores import prefix_jaccard_score

    g = _undirected_graph(spark, sf_dir)
    return prefix_jaccard_score(g, _edge_attr(g)).select(
        "u", "v", F.round("score", 9).alias("score")
    )


def q_geometric_mean_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeometricMeanScore over the deterministic (u+v)%5 attribute."""
    from networkit_spark.operators.edgescores import geometric_mean_score

    g = _undirected_graph(spark, sf_dir)
    return geometric_mean_score(g, _edge_attr(g)).select(
        "u", "v", F.round("score", 9).alias("score")
    )


QUERIES.update({
    "quadrangle_scores": q_quadrangle_scores,
    "prefix_jaccard_scores": q_prefix_jaccard,
    "geometric_mean_scores": q_geometric_mean_scores,
})


def q_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume.cpp multi-radius local volume estimate over the
    seeded-hash sample {id % 41 == 0} at radii 1, 2, 3."""
    from networkit_spark.operators.volume import volume

    g = _undirected_graph(spark, sf_dir)
    return volume(g, [1.0, 2.0, 3.0], modulus=41).select(
        "r", F.round("volume", 9).alias("volume")
    )


def q_nf_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NeighborhoodFunctionHeuristic (random strategy = the hash
    sample {id % 37 == 0}): endpoint-anchored cumulative NF estimate."""
    from networkit_spark.operators.volume import (
        neighborhood_function_heuristic,
    )

    g = _undirected_graph(spark, sf_dir)
    return neighborhood_function_heuristic(g, strategy="random", modulus=37)


QUERIES.update({
    "volume_r123": q_volume,
    "nf_heuristic": q_nf_heuristic,
})


# ----------------------------------------------------------- commute time
def q_commute_time_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommuteTimeDistance (exact run(), CommuteTimeDistance.cpp:38-67)
    on the deterministic 24-cycle over the web graph's 24 smallest
    vertex ids: the block-CG Laplacian solve must reproduce the cycle
    closed form ctd(0, j) = sqrt(2·j·(n−j)) (effective resistance
    d(n−d)/n times vol = 2n) to 6 decimals."""
    from networkit_spark.operators.commutetime import commute_time_distance

    g = _undirected_graph(spark, sf_dir)
    n_cyc = 24
    ids = [r["id"] for r in g.vertices().orderBy("id").limit(n_cyc).collect()]
    cycle_edges = [(ids[i], ids[(i + 1) % n_cyc]) for i in range(n_cyc)]
    cyc = Graph.from_pairs(spark, cycle_edges, directed=False)
    pairs = [(ids[0], ids[j]) for j in (1, 3, 6, 12)]
    out = commute_time_distance(cyc, pairs, tol=1e-11)
    return out.select("s", "t", F.round("ctd", 6).alias("ctd"))


QUERIES.update({"commute_time_cycle": q_commute_time_cycle})


# ------------------------------------------------------------- electrical
def _lollipop(spark: SparkSession, sf_dir: str):
    """Deterministic lollipop over the web graph's 18 smallest vertex
    ids: 12-cycle over ranks 0..11 plus a 6-node pendant path (ranks
    12..17) attached at rank 0. Non-uniform effective resistances with
    SQL closed forms — the exact-oracle fixture for the electrical
    centralities."""
    g = _undirected_graph(spark, sf_dir)
    ids = [r["id"] for r in g.vertices().orderBy("id").limit(18).collect()]
    c = 12
    edges = [(ids[i], ids[(i + 1) % c]) for i in range(c)]
    edges.append((ids[0], ids[c]))
    edges += [(ids[j], ids[j + 1]) for j in range(c, 17)]
    return Graph.from_pairs(spark, edges, directed=False)


def q_spanning_edge_lollipop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact spanning-edge centrality (SpanningEdgeCentrality.cpp:33-66)
    on the lollipop: cycle edges have effective resistance 11/12, path
    and bridge edges exactly 1."""
    from networkit_spark.operators.electrical import spanning_edge_centrality

    cyc = _lollipop(spark, sf_dir)
    out = spanning_edge_centrality(cyc, tol=1e-11)
    return out.select("u", "v", F.round("score", 6).alias("score"))


def q_electrical_closeness_lollipop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact electrical closeness (ApproxElectricalCloseness.cpp:529-538
    with the exact L+ diagonal) on the lollipop; the oracle sums the
    closed-form pairwise resistances."""
    from networkit_spark.operators.electrical import electrical_closeness

    cyc = _lollipop(spark, sf_dir)
    out = electrical_closeness(cyc, tol=1e-11)
    return out.select("id", F.round("score", 6).alias("score"))


QUERIES.update({
    "spanning_edge_lollipop": q_spanning_edge_lollipop,
    "electrical_closeness_lollipop": q_electrical_closeness_lollipop,
})


# ------------------------------------------------------------ group centrality
def q_group_closeness_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy group closeness, k=4 (GroupCloseness.cpp run +
    hpp scoreOfGroup); deterministic (gain DESC, id ASC) tie-break,
    replayed exactly by the unrolled-greedy oracle."""
    from networkit_spark.operators.groupcentrality import group_closeness

    g = _undirected_graph(spark, sf_dir)
    members, score = group_closeness(g, 4)
    return local_frame(
        spark, [(i + 1, m, round(score, 9)) for i, m in enumerate(members)],
        "ord int, id long, score double",
    )


def q_group_harmonic_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy group harmonic closeness, k=4
    (GroupHarmonicCloseness.cpp; score = Σ_{dist>0} 1/dist(v,S))."""
    from networkit_spark.operators.groupcentrality import (
        group_harmonic_closeness,
    )

    g = _undirected_graph(spark, sf_dir)
    members, score = group_harmonic_closeness(g, 4)
    return local_frame(
        spark, [(i + 1, m, round(score, 9)) for i, m in enumerate(members)],
        "ord int, id long, score double",
    )


QUERIES.update({
    "group_closeness_4": q_group_closeness_4,
    "group_harmonic_4": q_group_harmonic_4,
})


def q_forest_closeness_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact forest closeness (ForestCentrality.cpp:129-146) on the
    deterministic disjoint K12 ∪ K6 over the web graph's 18 smallest
    vertex ids — diag of the forest matrix of K_c is exactly 2/(c+1),
    so the oracle is closed-form; also exercises the solver's
    disconnected-graph path (Ω block diagonal)."""
    from networkit_spark.operators.electrical import forest_centrality

    g = _undirected_graph(spark, sf_dir)
    ids = [r["id"] for r in g.vertices().orderBy("id").limit(18).collect()]
    edges = [(ids[i], ids[j]) for i in range(12) for j in range(i + 1, 12)]
    edges += [(ids[i], ids[j]) for i in range(12, 18) for j in range(i + 1, 18)]
    cliq = Graph.from_pairs(spark, edges, directed=False)
    out = forest_centrality(cliq, tol=1e-11)
    return out.select("id", F.round("score", 6).alias("score"))


QUERIES.update({"forest_closeness_cliques": q_forest_closeness_cliques})


# ------------------------------------------------------ complex paths (r2.5)
def q_complex_paths_adopters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adopters (id, activation round) of the complex-contagion fixed
    point (ComplexPaths.cpp:127-171) seeded at the smallest vertex id,
    threshold 3 — seeds are the deterministic smallest-id neighbors
    (the engine's std::sample substitution, replayed by the oracle)."""
    from networkit_spark.operators.complexpaths import complex_paths_graph

    g = _undirected_graph(spark, sf_dir)
    seed = g.vertices().agg(F.min("id")).first()[0]
    _, adopters = complex_paths_graph(g, int(seed), 3)
    return adopters.select("id", "round")


def q_complex_path_length_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLci of the smallest vertex id (complexPathLength,
    ComplexPaths.cpp:185-208, threshold 3): mean complex-graph BFS
    distance over ALL n vertices, unreachable = 0."""
    from networkit_spark.operators.complexpaths import complex_path_lengths

    g = _undirected_graph(spark, sf_dir)
    seed = g.vertices().agg(F.min("id")).first()[0]
    out = complex_path_lengths(g, 3, sources=[int(seed)])
    return out.select("id", F.round("plci", 9).alias("plci"))


QUERIES.update({
    "complex_paths_adopters": q_complex_paths_adopters,
    "complex_path_length_seed": q_complex_path_length_seed,
})


# ------------------------------------------- extended link prediction (r2.7)
def q_link_pred_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining LinkPredictor family (AdjustedRand incl. the reference's
    set_union quirk, NeighborhoodDistance, TotalNeighbors,
    NeighborsMeasure, U/VDegree, SameCommunity on the deterministic
    mod-7 partition) over a deterministic hash sample of the distance-2
    candidate pairs (bounds the NeighborsMeasure deg*deg fan-out at the
    driver's scale; the operators take any pair table)."""
    from networkit_spark.operators.linkprediction import (
        extended_link_prediction_scores,
        missing_links,
    )

    g = _undirected_graph(spark, sf_dir)
    pairs = missing_links(g, 2).filter((F.col("u") * 7 + F.col("v")) % 101 == 0)
    part = g.vertices().select("id", (F.col("id") % 7).alias("label"))
    out = extended_link_prediction_scores(g, pairs, part)
    return out.select(
        "u",
        "v",
        F.round("adjusted_rand", 9).alias("adjusted_rand"),
        F.round("neighborhood_distance", 9).alias("neighborhood_distance"),
        "total_neighbors",
        "neighbors_measure",
        "u_degree",
        "v_degree",
        "same_community",
    )


def q_link_pred_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KatzIndex (walk-count damping sum, smaller-degree start endpoint,
    KatzIndex.cpp:34-87) over the distance-2 candidate pairs, L=3."""
    from networkit_spark.operators.linkprediction import (
        katz_index_scores,
        missing_links,
    )

    g = _undirected_graph(spark, sf_dir)
    pairs = missing_links(g, 2).filter((F.col("u") * 7 + F.col("v")) % 101 == 0)
    out = katz_index_scores(g, pairs, max_path_length=3, damping=0.1)
    return out.select("u", "v", F.round("score", 9).alias("score"))


def q_adi_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AlgebraicDistanceIndex (RAW loads — no per-system normalization —
    p-norm over systems, AlgebraicDistanceIndex.cpp:24-74) over the
    distance-2 candidate pairs."""
    from networkit_spark.operators.linkprediction import (
        algebraic_distance_index_scores,
        missing_links,
    )

    g = _undirected_graph(spark, sf_dir)
    pairs = missing_links(g, 2).filter((F.col("u") * 7 + F.col("v")) % 101 == 0)
    out = algebraic_distance_index_scores(
        g, pairs, num_systems=3, num_iters=4, omega=0.5, norm=2, seed=1
    )
    return out.select("u", "v", F.round("score", 9).alias("score"))


QUERIES.update({
    "link_pred_extended": q_link_pred_extended,
    "link_pred_katz": q_link_pred_katz,
    "adi_pair_scores": q_adi_pair_scores,
})


def q_suitor_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SuitorMatcher (SuitorMatcher.cpp:55-146) on deterministic edge
    weights w = (31u + 17v) mod 10 + 1. The result is THE unique greedy
    matching over (w desc, pair asc) — the side-channel oracle verifies
    the local-dominance certificate (matching + every non-matched edge
    dominated by an adjacent heavier matched edge ⟺ greedy) and emits
    the same rows, so the check is exact, not just property-level."""
    import os

    from networkit_spark.operators.matching import suitor_matching

    g = _undirected_graph(spark, sf_dir)
    und = g.simple_undirected_edges()
    wund = und.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        ((F.col("u") * 31 + F.col("v") * 17) % 10 + 1).cast("double").alias("weight"),
    )
    wg = Graph.from_edges(wund, directed=False, weighted=True)
    m = suitor_matching(wg)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = side_channel_path("suitor_matching", tag)
    m.select("u", "v", "weight").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select("u", "v", "weight")


QUERIES.update({"suitor_matching": q_suitor_matching})


def q_gedwalk_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GedWalk per-level group-walk table (the hit/miss recursion of
    GedWalk.cpp:298-345) for the top-3 out-degree group at fixed
    alpha=0.05, levels=4 — walk counts are integer-valued doubles, so
    the unrolled-SQL twin is exact. The greedy maximizer, tail-bound
    convergence, and gain estimates are pytest-covered
    (tests/test_gedwalk.py)."""
    from networkit_spark.operators.gedwalk import ged_walk_level_table

    g = _directed_graph(spark, sf_dir)
    top = (
        g.edges.groupBy("src")
        .count()
        .orderBy(F.col("count").desc(), F.col("src").asc())
        .limit(3)
        .collect()
    )
    group = [int(r["src"]) for r in top]
    return ged_walk_level_table(g, group, alpha=0.05, levels=4).select(
        "level", "hits", F.round("contrib", 9).alias("contrib")
    )


QUERIES.update({"gedwalk_levels": q_gedwalk_levels})


def q_group_closeness_swaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-swap group-closeness local search (the engine's
    GroupClosenessLocalSwaps/GrowShrink substitute) from the
    deterministic worst-start group (4 smallest vertex ids), capped at
    3 swaps. Farness values are integer hop sums, so the DuckDB twin —
    an INDEPENDENT direct min-over-sources recomputation per swap
    round — matches exactly."""
    from networkit_spark.operators.groupcentrality import (
        group_closeness_local_swaps,
    )

    g = _undirected_graph(spark, sf_dir)
    init = [int(r["id"]) for r in g.vertices().orderBy("id").limit(4).collect()]
    members, n_swaps, farness = group_closeness_local_swaps(
        g, init, max_swaps=3
    )
    return local_frame(
        spark, [(m, n_swaps, farness) for m in members],
        "id long, n_swaps int, farness long",
    )


QUERIES.update({"group_closeness_swaps": q_group_closeness_swaps})


# -------------------------------------------------------- r2.9 spanning
def _mod3_subgraph(spark: SparkSession, sf_dir: str, weight_expr) -> "Graph":
    """{id % 3 == 0}-induced undirected subgraph of the link graph with a
    deterministic per-edge weight (weight_expr over canonical (u, v),
    u < v — symmetric by construction, so both arc directions agree)."""
    g = _undirected_graph(spark, sf_dir)
    u = F.least("src", "dst")
    v = F.greatest("src", "dst")
    sub = g.edges.filter(
        (F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0)
    ).select("src", "dst", weight_expr(u, v).cast("double").alias("weight"))
    return Graph.from_edges(
        sub,
        directed=False,
        weighted=True,
        already_symmetrized=True,
        vertices=g.vertices().filter(F.col("id") % 3 == 0),
    )


def q_min_spanning_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KruskalMSF.cpp / PrimMSF.cpp: the minimum spanning forest of the
    mod-3 link subgraph under globally DISTINCT weights (w = 1000u + v,
    u < v) — distinct weights make the forest unique, so distributed
    Borůvka here and sequential Kruskal/Prim there return the identical
    edge set; the oracle states it via the cycle property (edge in the
    min forest iff its weight equals the minimax path weight between its
    endpoints, computed by min-max doubling)."""
    from networkit_spark.operators.spanning import minimum_spanning_forest

    wg = _mod3_subgraph(
        spark, sf_dir, lambda u, v: u * F.lit(1000) + v
    )
    return minimum_spanning_forest(wg).select("u", "v", "weight")


def q_umsf_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnionMaximumSpanningForest.cpp:12-90: all edges belonging to ANY
    maximum spanning forest of the mod-3 link subgraph under 4-level tie
    weights (w = 1 + (u + v) % 4). Exact and unique regardless of
    tie-breaks: edge (u, v, w) is a member iff no u–v path uses only
    strictly heavier edges, i.e. iff the maximin path weight equals w
    (max-min doubling in the oracle)."""
    from networkit_spark.operators.spanning import (
        union_maximum_spanning_forest,
    )

    wg = _mod3_subgraph(
        spark, sf_dir, lambda u, v: F.lit(1) + F.pmod(u + v, F.lit(4))
    )
    return union_maximum_spanning_forest(wg).select("u", "v", "weight")


QUERIES.update({
    "min_spanning_forest": q_min_spanning_forest,
    "umsf_members": q_umsf_members,
})


def q_b_matching_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-suitor b-matching (b=2) under deterministic hash weights
    w(u,v) = ((u*2654435761 + v*40503) % 1000003) / 1000003 (exact BIGINT
    arithmetic in both engines). Side-channel pattern: matched edges go
    to parquet; Spark and DuckDB independently verify the BMatching
    isProper contract (per-vertex capacity <= b, edges real, maximality)
    plus size and total recomputed weight from that copy."""
    import os

    from networkit_spark.graph import Graph
    from networkit_spark.operators.matching import b_suitor_matching
    from networkit_spark.sources.tables import derive_web_edges

    B = 2
    e = derive_web_edges(spark, sf_dir)
    und = (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
        .withColumn(
            "weight",
            (
                (F.col("src") * F.lit(2654435761) + F.col("dst") * F.lit(40503))
                % F.lit(1000003)
            ).cast("double")
            / F.lit(1000003.0),
        )
    )
    g = Graph.from_edges(und, directed=False, weighted=True)
    m = b_suitor_matching(g, B)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = side_channel_path("b_matching_summary", tag)
    m.select("u", "v").write.mode("overwrite").parquet(path)
    pers = spark.read.parquet(path)

    wund = und.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "weight"
    )
    n_matched = pers.count()
    deg = (
        pers.select(F.col("u").alias("id"))
        .unionByName(pers.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    capacity_ok = deg.filter(F.col("d") > B).count() == 0
    edges_real = pers.join(wund, ["u", "v"], "left_anti").count() == 0
    # maximality: no unmatched edge whose both endpoints are below capacity
    full = deg.filter(F.col("d") >= B).select("id")
    is_maximal = (
        wund.join(pers, ["u", "v"], "left_anti")
        .join(full.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(full.withColumnRenamed("id", "v"), "v", "left_anti")
        .count()
        == 0
    )
    total_w = (
        pers.join(wund, ["u", "v"])
        .agg(F.round(F.sum("weight"), 6).alias("tw"))
        .collect()[0]["tw"]
    )
    return local_frame(
        spark, [(n_matched, capacity_ok, edges_real, is_maximal, float(total_w or 0.0))],
        "n_matched long, capacity_ok boolean, edges_real boolean, "
        "is_maximal boolean, total_w double",
    )


QUERIES.update({"b_matching_summary": q_b_matching_summary})
