"""ComplexPathAlgorithm — complex-contagion path graphs and lengths.

Reference (networkit/cpp/centrality/ComplexPaths.cpp, Guilbeault &
Centola, Nat. Commun. 2021):
- generateSeeds (:90-125): the seed plus threshold−1 RANDOM neighbors
  (distance-2 nodes if the seed's degree is short) — std::sample is
  nondeterministic; substituted by the smallest-id neighbors
  (distance-2 fallback: smallest-id distinct non-seed nodes), the
  engine's standard deterministic-draw substitution, replayed exactly
  by the SQL oracle.
- complexPathsGraph (:127-171): grow complex_g as a fixed point —
  every seed and every node whose complex_g degree (influence) reaches
  `threshold` contributes ALL its input-graph edges; repeat until no
  node newly activates. Activated list = adopters.
- complexPathLength (:185-208): for every node u, PLci[u] =
  Σ_v dist_{complex_g(u)}(u, v) / n with unreachable distances set to
  0; optional min-max normalization (:173-183).

Spark shape: the fixed point is a contributor set Q (DataFrame);
each round is one semi-join (edges incident to Q), one groupBy
(influence = complex degree), one filter (≥ threshold) — the same
monotone-frontier shape as hash-min CC, O(rounds) supersteps with
rounds bounded by the activation diameter. complexPathLength runs the
per-source loop like the reference's parallelForNodes; each source is
a fixed point + one BFS on the complex graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


def _seeds(graph: Graph, seed: int, threshold: int) -> list[int]:
    """seed + (threshold−1) smallest-id neighbors; if the seed has too
    few, fill with smallest-id distinct distance-2 nodes (≠ seed) —
    the deterministic substitution for generateSeeds' std::sample."""
    need = threshold - 1
    nbrs = [
        r["dst"]
        for r in graph.edges.filter(F.col("src") == seed)
        .select("dst").distinct().orderBy("dst").limit(need).collect()
    ]
    if len(nbrs) < need:
        nbr_df = graph.edges.filter(F.col("src") == seed).select(
            F.col("dst").alias("mid")
        )
        d2 = (
            graph.edges.join(
                nbr_df, graph.edges["src"] == nbr_df["mid"]
            )
            .select("dst").distinct()
            .filter(F.col("dst") != seed)
        )
        if nbrs:
            d2 = d2.filter(~F.col("dst").isin(*nbrs))
        d2 = (
            d2
            .orderBy("dst")
            .limit(need - len(nbrs))
        )
        nbrs += [r["dst"] for r in d2.collect()]
    return [seed] + nbrs


def complex_paths_graph(
    graph: Graph, seed: int, threshold: int, max_rounds: int = 10000
) -> tuple[DataFrame, DataFrame]:
    """(complex_edges (u, v) canonical, adopters (id, round)) —
    complexPathsGraph's fixed point. Adopter ORDER in the reference is
    per-round scan order; here each adopter carries its activation
    round (seeds = round 0), the deterministic equivalent."""
    if threshold < 1:
        raise ValueError(
            "complexPathAlgorithm: threshold must be greater than 0."
        )
    spark = graph.edges.sparkSession
    arcs = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    arcs.count()
    seeds = _seeds(graph, int(seed), threshold)
    q = local_frame(
        spark, [(s, 0) for s in seeds], "id long, round int"
    ).persist()
    n_q = q.count()
    for rnd in range(1, max_rounds + 1):
        # complex_g = input edges incident to Q; influence(w) = its
        # complex degree = distinct neighbors x with {w,x} touching Q.
        qids = q.select("id")
        ce = (
            arcs.join(
                qids.withColumnRenamed("id", "src"), "src", "left_semi"
            )
            .select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
            )
            .distinct()
        )
        infl = (
            ce.select(F.col("u").alias("id"))
            .unionByName(ce.select(F.col("v").alias("id")))
            .groupBy("id").agg(F.count("*").alias("influence"))
        )
        fresh = (
            infl.filter(F.col("influence") >= threshold)
            .join(qids, "id", "left_anti")
            .select("id", F.lit(rnd).alias("round"))
        )
        q2 = q.unionByName(fresh).persist()
        n2 = q2.count()
        if n2 == n_q:
            q2.unpersist()
            break
        q.unpersist()
        q, n_q = q2, n2
    qids = q.select("id")
    ce = (
        arcs.join(qids.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    arcs.unpersist()
    return ce, q.withColumnRenamed("round", "round")


def complex_path_lengths(
    graph: Graph, threshold: int, sources=None, normalized: bool = False
) -> DataFrame:
    """(id, plci) — complexPathLength: per source u, the mean BFS
    distance inside complexPathsGraph(u) (unreachable = 0), divided by
    the GLOBAL node count; `sources` restricts the computed rows (the
    reference loops all nodes — same per-node cost)."""
    from networkit_spark.operators.distances import multi_source_bfs

    n = graph.num_vertices()
    if sources is None:
        sources = [r["id"] for r in graph.vertices().orderBy("id").collect()]
    rows = []
    for s in sources:
        ce, adopters = complex_paths_graph(graph, int(s), threshold)
        adopters.unpersist()
        cg = Graph.from_edges(
            ce.select("u", "v").withColumnRenamed("u", "src")
            .withColumnRenamed("v", "dst"),
            directed=False,
        )
        spark = graph.edges.sparkSession
        src_df = local_frame(spark, [(int(s),)], "s long")
        d = multi_source_bfs(cg, src_df)
        total = d.agg(F.sum("dist")).first()[0] or 0
        rows.append((int(s), float(total) / n))
    spark = graph.edges.sparkSession
    out = local_frame(spark, rows, "id long, plci double")
    if normalized:
        mm = out.agg(
            F.min("plci").alias("lo"), F.max("plci").alias("hi")
        ).first()
        lo, hi = mm["lo"], mm["hi"]
        span = (hi - lo) or 1.0
        out = out.select(
            "id", ((F.col("plci") - F.lit(lo)) / F.lit(span)).alias("plci")
        )
    return out
