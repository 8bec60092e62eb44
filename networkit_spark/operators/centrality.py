"""Non-iterative centralities.

- DegreeCentrality (networkit/cpp/centrality/DegreeCentrality.cpp:16-51):
  score(v) = degree(v), optionally normalized by (n-1). One hash
  aggregation — the trivial centrality, included for API parity.
- EigenvectorCentrality (networkit/cpp/centrality/
  EigenvectorCentrality.cpp): power iteration with L2 normalization per
  step — reuses the engine's iterative driver; convergence when
  ||x_{k+1} − x_k||∞ ≤ tol (reference uses scaled vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, materialize, truncate


def degree_centrality(graph: Graph, normalized: bool = False) -> DataFrame:
    """(id, score) — degree (out-degree for directed graphs), 0 for
    isolated vertices; normalized divides by n-1."""
    deg = graph.out_degrees().select("id", F.col("degree").cast("double").alias("score"))
    if normalized:
        n = graph.num_vertices()
        deg = deg.select("id", (F.col("score") / F.lit(float(n - 1))).alias("score"))
    return deg


def katz_centrality(
    graph: Graph,
    alpha: float = 5e-4,
    beta: float = 0.1,
    tol: float = 1e-8,
    max_iterations: int = 100,
) -> DataFrame:
    """(id, score) — Katz centrality, reference semantics
    (networkit/cpp/centrality/KatzCentrality.cpp): iterate
    x' = α·(gather over in-edges) + β from x=0, converge on the L2 norm
    of the step, then L2-normalize. Undirected graphs gather over the
    symmetrized table (in ≡ incident)."""
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="katz")
    edges = graph.edges if graph.directed else graph.symmetrized_edges()
    vertices = graph.vertices()
    x = vertices.select("id", F.lit(0.0).alias("score"))
    for it in range(1, max_iterations + 1):
        gathered = (
            x.join(edges, x.id == edges.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("score") * F.col("weight")).alias("g"))
        )
        new = (
            vertices.join(gathered, "id", "left")
            .join(x.withColumnRenamed("score", "old"), "id")
            .select(
                "id",
                (F.lit(alpha) * F.coalesce("g", F.lit(0.0)) + F.lit(beta)).alias("score"),
                "old",
            )
        )
        snap = ckpt.save(new, it, {
            "diff": F.sqrt(F.sum(F.pow(F.col("score") - F.col("old"), 2))),
            "norm": F.sqrt(F.sum(F.pow("score", 2))),
        })
        diff = ckpt.records[-1]["diff"]
        x = snap.select("id", "score")
        if diff is not None and diff <= tol:
            break
    norm = (ckpt.records[-1]["norm"] if ckpt.records else None) or 1.0
    out = x.select("id", (F.col("score") / F.lit(norm)).alias("score"))
    ckpt.close()
    return out


def core_decomposition(graph: Graph, max_iterations: int = 10000) -> DataFrame:
    """(id, core) — k-core numbers by distributed peeling
    (reference: networkit/cpp/centrality/CoreDecomposition.cpp bucket
    peeling; here: level-synchronous peel — remove all vertices of
    degree ≤ k until none remain at that k, then k+1). Works on the
    simple undirected graph."""
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="kcore")
    und = graph.simple_undirected_edges().persist(StorageLevel.MEMORY_AND_DISK)
    remaining_v, left = materialize(graph.vertices())
    remaining_e = und
    out = None
    k = 0
    it = 0
    while left["rows"] > 0 and it < max_iterations:
        it += 1
        deg = (
            remaining_e.select(F.col("u").alias("id"))
            .unionByName(remaining_e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("d"))
        )
        degs = remaining_v.join(deg, "id", "left").select(
            "id", F.coalesce("d", F.lit(0)).alias("d")
        )
        peel = degs.filter(F.col("d") <= k).select("id").withColumn(
            "core", F.lit(k).cast("long")
        )
        peel = ckpt.save(peel, it)
        if ckpt.records[-1]["rows"] == 0:
            k += 1
            continue
        out = peel if out is None else truncate(out.unionByName(peel), release=out)
        remaining_v, left = materialize(
            remaining_v.join(peel.select("id"), "id", "left_anti"), release=remaining_v
        )
        remaining_e = truncate(
            remaining_e.join(peel.select(F.col("id").alias("u")), "u", "left_anti")
            .join(peel.select(F.col("id").alias("v")), "v", "left_anti")
            .select("u", "v"),
            release=remaining_e,
        )
    und.unpersist()
    ckpt.close()
    if out is None:
        return graph.vertices().withColumn("core", F.lit(0).cast("long"))
    return out


def eigenvector_centrality(
    graph: Graph, tol: float = 1e-8, max_iterations: int = 100
) -> DataFrame:
    """(id, score) — power iteration on the (symmetrized, weighted)
    adjacency matrix, L2-normalized each superstep."""
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="eigenvector")
    sym = graph.symmetrized_edges()
    vertices = graph.vertices()
    n = vertices.count()
    x = vertices.select("id", F.lit(1.0 / n**0.5).alias("score"))

    for _ in range(max_iterations):
        gathered = (
            x.join(sym, x.id == sym.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("score") * F.col("weight")).alias("raw"))
        )
        new = vertices.join(gathered, "id", "left").select(
            "id", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        norm = new.agg(F.sqrt(F.sum(F.pow("raw", 2)))).first()[0] or 1.0
        new = new.select(
            "id",
            (F.col("raw") / F.lit(norm)).alias("score"),
        ).join(x.withColumnRenamed("score", "old"), "id")
        snap = ckpt.save(new, _ + 1, {"diff": F.max(F.abs(F.col("score") - F.col("old")))})
        diff = ckpt.records[-1]["diff"]
        x = snap.select("id", "score")
        if diff is not None and diff <= tol:
            break
    ckpt.close()
    return x


def sfigality(graph: Graph) -> DataFrame:
    """(id, score) — Sfigality (networkit/cpp/centrality/Sfigality.cpp:16-28):
    the fraction of a node's neighbors that have a STRICTLY higher degree,
    score(u) = |{v ∈ N(u) : deg(u) < deg(v)}| / deg(u). Uses the graph's
    out-adjacency like the reference's forEdgesOf; isolated vertices get
    NaN in the reference (0/0) — this engine returns 0.0 (documented
    deviation; the reference never defines the 0-degree case and its
    tests avoid it). One degree aggregation + one arc join — no shuffle
    beyond the degree tables.
    """
    deg = graph.out_degrees().select("id", F.col("degree").alias("d"))
    e = graph.edges.select("src", "dst")
    scored = (
        e.join(deg.select(F.col("id").alias("src"), F.col("d").alias("du")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dv")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            (
                F.sum(F.when(F.col("du") < F.col("dv"), 1).otherwise(0))
                / F.first("du")
            ).alias("score")
        )
    )
    return (
        graph.vertices()
        .join(scored, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def local_square_clustering(graph: Graph) -> DataFrame:
    """(id, score) — LocalSquareClusteringCoefficient
    (networkit/cpp/centrality/LocalSquareClusteringCoefficient.cpp:20-50,
    Lind–González–Herrmann squares clustering): for every unordered pair
    (v, w) of neighbors of u,

        squares   += |N(v) ∩ N(w)| − 1          (u itself is always common)
        potential += deg(v) + deg(w) − |N(v)∩N(w)| − 1 − 2·[v ~ w]

    and score(u) = squares / potential (0 when potential = 0). Raises on
    directed graphs and self-loops like the reference (:10-17).

    Spark shape: common-neighbor counts cn(a, b) come from ONE wedge
    self-join aggregation (the triangle-counting plan without orientation);
    per-node neighbor pairs join against cn + the degree table + an edge
    semi-flag. Neighbor-pair fan-out is Θ(Σ deg²) — inherent to the
    definition (the reference's loop is the same work); power-law hubs
    dominate, so at 100 TB cap or sample hub neighborhoods upstream.
    """
    if graph.directed:
        raise ValueError(
            "Local square clustering coefficient is not implemented for directed graphs"
        )
    if graph.number_of_self_loops():
        raise ValueError("graph has self-loops; call remove_self_loops() first")
    sym = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    # cn(a, b): number of common neighbors of a < b (count of wedges a-x-b)
    cn = (
        sym.alias("e1")
        .join(sym.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
        .agg(F.count("*").alias("cn"))
    )
    # unordered neighbor pairs (v < w) of every center u
    pairs = (
        sym.alias("p1")
        .join(sym.alias("p2"), F.col("p1.src") == F.col("p2.src"))
        .filter(F.col("p1.dst") < F.col("p2.dst"))
        .select(
            F.col("p1.src").alias("u"),
            F.col("p1.dst").alias("a"),
            F.col("p2.dst").alias("b"),
        )
    )
    adj = sym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    per_pair = (
        pairs.join(cn, ["a", "b"], "left")
        .join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
        .join(adj.withColumn("ab", F.lit(1)), ["a", "b"], "left")
        .select(
            "u",
            (F.coalesce("cn", F.lit(0)) - 1).alias("sq"),
            (
                F.col("da")
                + F.col("db")
                - F.coalesce("cn", F.lit(0))
                - 1
                - 2 * F.coalesce("ab", F.lit(0))
            ).alias("pot"),
        )
    )
    scored = per_pair.groupBy(F.col("u").alias("id")).agg(
        F.when(F.sum("pot") > 0, F.sum("sq") / F.sum("pot"))
        .otherwise(F.lit(0.0))
        .alias("score")
    )
    return (
        graph.vertices()
        .join(scored, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def laplacian_centrality(graph: Graph, normalized: bool = False) -> DataFrame:
    """(id, score) — LaplacianCentrality
    (networkit/cpp/centrality/LaplacianCentrality.cpp:15-42): the drop in
    Laplacian energy when u is removed,

        score(u) = wdeg(u)^2 + sum_{v in N(u)} w_uv * (w_uv + 2 * wdeg(v))

    normalized divides by the total energy sum_u wdeg(u)^2 + sum_arcs w^2.
    Closed form — ONE degree aggregation + ONE arc join + ONE per-node
    aggregation; no iteration, no Python. The arc table is the graph's
    message table (undirected graphs already symmetrized), matching the
    reference's forNeighborsOf sweep.
    """
    wdeg = (
        graph.edges.groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("wd"))
    )
    verts = graph.vertices().join(wdeg, "id", "left").select(
        "id", F.coalesce("wd", F.lit(0.0)).alias("wd")
    )
    nbr_term = (
        graph.edges.join(
            verts.select(F.col("id").alias("dst"), F.col("wd").alias("wdv")), "dst"
        )
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(F.col("weight") * (F.col("weight") + 2.0 * F.col("wdv"))).alias("t")
        )
    )
    scores = verts.join(nbr_term, "id", "left").select(
        "id", (F.col("wd") * F.col("wd") + F.coalesce("t", F.lit(0.0))).alias("score")
    )
    if not normalized:
        return scores
    total = (
        verts.agg(F.sum(F.col("wd") * F.col("wd")).alias("a")).collect()[0]["a"]
        + graph.edges.agg(F.sum(F.col("weight") * F.col("weight")).alias("b"))
        .collect()[0]["b"]
    )
    return scores.select("id", (F.col("score") / F.lit(float(total))).alias("score"))


def permanence_centrality(graph: Graph, partition: DataFrame) -> DataFrame:
    """(id, permanence) — PermanenceCentrality
    (networkit/cpp/centrality/PermanenceCentrality.cpp:137-156 +
    getIntraClustering :108-135) of every vertex w.r.t. `partition`
    (id, label):

        perm(u) = I(u) / (E_max(u) * deg(u)) - (1 - c_in(u))

    I = same-community neighbor count; E_max = the largest neighbor count
    into any OTHER single community (1 when u has no external neighbors,
    the reference's F1 fallback); c_in = clustering among the
    same-community neighbors, 2*T / (I*(I-1)) with T the edge count among
    them (0 when I < 2).

    Spark shape: one labeled-arc join feeds (a) the per-(u, label)
    strength aggregation and (b) the same-community wedge self-join whose
    closing edge is checked with a broadcast-free left-semi join against
    the arc table — the exact triangle plan, restricted to
    intra-community wedges so the fan-out is bounded by the community-
    local degree. Isolated vertices get 0.0 (the reference computes
    0/0 = NaN and its tests avoid the case; documented deviation).
    """
    if graph.directed:
        raise ValueError("permanence_centrality expects an undirected graph")
    lab = partition.select("id", "label")
    arcs = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .join(lab.select(F.col("id").alias("src"), F.col("label").alias("lu")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lv")), "dst")
        .persist()
    )
    strength = (
        arcs.groupBy("src", "lu", "lv")
        .agg(F.count(F.lit(1)).alias("s"))
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(F.when(F.col("lv") == F.col("lu"), F.col("s")).otherwise(0)).alias("internal"),
            F.max(F.when(F.col("lv") != F.col("lu"), F.col("s")).otherwise(0)).alias("emax"),
            F.sum("s").alias("deg"),
        )
    )
    # T(u): edges among u's same-community neighbors, each pair once
    intra = arcs.filter(F.col("lu") == F.col("lv")).select("src", "dst")
    wedges = (
        intra.alias("a")
        .join(intra.alias("b"), F.col("a.src") == F.col("b.src"))
        .filter(F.col("a.dst") < F.col("b.dst"))
        .select(F.col("a.src").alias("u"), F.col("a.dst").alias("x"), F.col("b.dst").alias("y"))
    )
    closed = (
        wedges.join(
            graph.edges.select(F.col("src").alias("x"), F.col("dst").alias("y")),
            ["x", "y"],
            "left_semi",
        )
        .groupBy(F.col("u").alias("id"))
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    out = (
        graph.vertices()
        .join(strength, "id", "left")
        .join(closed, "id", "left")
        .select(
            "id",
            F.when(F.col("deg").isNull(), F.lit(0.0))
            .otherwise(
                F.col("internal")
                / F.greatest(F.col("emax"), F.lit(1)).cast("double")
                / F.col("deg")
                - (
                    1.0
                    - F.when(
                        F.col("internal") >= 2,
                        2.0
                        * F.coalesce(F.col("tri"), F.lit(0)).cast("double")
                        / (F.col("internal") * (F.col("internal") - 1)),
                    ).otherwise(F.lit(0.0))
                )
            )
            .alias("permanence"),
        )
    )
    return out


def local_partition_coverage(graph: Graph, partition: DataFrame) -> DataFrame:
    """(id, score) — LocalPartitionCoverage
    (networkit/cpp/centrality/LocalPartitionCoverage.cpp:11-30): the
    weighted fraction of each node's neighbors that share its partition
    label, score(u) = sum_{v in N(u), P[v]=P[u]} w_uv / wdeg(u); 0.0 for
    isolated vertices (the reference's division guard). One labeled-arc
    join + one per-node aggregation."""
    lab = partition.select("id", "label")
    scored = (
        graph.edges.join(
            lab.select(F.col("id").alias("src"), F.col("label").alias("lu")), "src"
        )
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lv")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            (
                F.sum(F.when(F.col("lu") == F.col("lv"), F.col("weight")).otherwise(0.0))
                / F.sum("weight")
            ).alias("score")
        )
    )
    return (
        graph.vertices()
        .join(scored, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )
