"""Selective community detection: PageRankNibble + SetConductance.

Reference: networkit/cpp/scd/PageRankNibble.cpp:18-92,
ApproximatePageRank.cpp:20-80 (Andersen–Chung–Lang push),
SetConductance.cpp. Semantics reproduced:

- ApproximatePageRank(alpha, eps) from a seed set with initial residual
  1/|seeds| per seed; a push on u moves α·res(u) into p(u), keeps
  (1−α)·res(u)/2, and spreads (1−α)·res(u)·w(u,v)/(2·vol(u)) to each
  neighbor; nodes stay active while res(v) ≥ eps·vol(v)
  (ApproximatePageRank.cpp:26-50).
- The reference drains a FIFO queue one node at a time (result depends
  on queue order; its own tests assert community recovery, not exact
  mass). This engine pushes the WHOLE active set per superstep — the
  standard synchronous batching of the same operator; the termination
  invariant is identical (res(v) < eps·vol(v) everywhere) and every
  superstep is one gather join + one aggregation, PageRank-shaped.
- bestSweepSet (PageRankNibble.cpp:21-82): order support nodes by
  p/vol descending, take the prefix minimizing conductance
  cut(S)/min(vol(S), vol(G)−vol(S)); strict `<` keeps the FIRST
  minimum; the full-vertex-set prefix is excluded.
- SetConductance.cpp: conductance of a given node set — one join +
  two aggregations.

Spark shape: the push loop carries (id, p, res) state hash-partitioned
by id against the src-partitioned arc table (the PLM/PageRank layout);
the sweep cut ranks the APR support — a parameter-bounded set,
O(1/(eps·alpha)) nodes regardless of graph size — then computes each
prefix's cut from the support-internal edges' max endpoint rank and two
running sums. Everything is support-sized, never corpus-sized.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame


def _volumes(graph: Graph) -> DataFrame:
    """(id, vol): weightedDegree with self-loops twice (the reference's
    weightedDegree(u, true) used by both the push and the sweep)."""
    sym = graph.symmetrized_edges()
    return (
        sym.groupBy(F.col("src").alias("id"))
        .agg(
            (
                F.sum("weight")
                + F.coalesce(
                    F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))),
                    F.lit(0.0),
                )
            ).alias("vol")
        )
    )


def approximate_pagerank(
    graph: Graph,
    seeds: list[int],
    alpha: float = 0.15,
    eps: float = 1e-4,
    max_supersteps: int = 200,
) -> DataFrame:
    """(id, p, res) — ACL push from `seeds`, synchronous batched
    supersteps until no residual is above eps·vol (the reference's
    queue-empty condition). Support-sized state throughout."""
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    vols = truncate(_volumes(graph))

    init = 1.0 / len(seeds)
    state = truncate(
        local_frame(
            spark, [(int(s), 0.0, init) for s in sorted(set(seeds))],
            "id long, p double, res double",
        )
        .join(vols, "id")
        .repartition(n_part, "id")
    )

    for _ in range(max_supersteps):
        active = state.filter(F.col("res") >= F.lit(eps) * F.col("vol"))
        if active.limit(1).count() == 0:
            break
        # mass sent along each arc of an active node (pre-superstep state)
        sends = (
            active.select(F.col("id").alias("src"), "res", "vol")
            .join(sym, "src")
            .select(
                F.col("dst").alias("id"),
                (
                    F.lit(1.0 - alpha) * F.col("res") * F.col("weight")
                    / (2.0 * F.col("vol"))
                ).alias("mass"),
            )
            .groupBy("id")
            .agg(F.sum("mass").alias("incoming"))
        )
        updated = (
            state.join(sends, "id", "full")
            .join(vols.withColumnRenamed("vol", "v2"), "id", "left")
            .select(
                "id",
                (
                    F.coalesce("p", F.lit(0.0))
                    + F.when(
                        F.col("res").isNotNull()
                        & (F.col("res") >= F.lit(eps) * F.col("vol")),
                        F.lit(alpha) * F.col("res"),
                    ).otherwise(F.lit(0.0))
                ).alias("p"),
                (
                    F.when(
                        F.col("res").isNotNull()
                        & (F.col("res") >= F.lit(eps) * F.col("vol")),
                        F.lit((1.0 - alpha) / 2.0) * F.col("res"),
                    ).otherwise(F.coalesce("res", F.lit(0.0)))
                    + F.coalesce("incoming", F.lit(0.0))
                ).alias("res"),
                F.coalesce("vol", "v2").alias("vol"),
            )
        )
        state = truncate(updated.repartition(n_part, "id"), release=state)

    sym.unpersist()
    return state.select("id", "p", "res")


@dataclass
class NibbleResult:
    community: DataFrame  # (id) — the best sweep set
    conductance: float
    support: DataFrame  # (id, p) — the APR support


def set_conductance(graph: Graph, nodes: DataFrame) -> float:
    """Conductance of `nodes(id)` (SetConductance.cpp): cut(S) /
    min(vol(S), vol(G) − vol(S))."""
    sym = graph.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    s = nodes.select("id").distinct()
    vols = _volumes(graph)
    vol_s = float(
        vols.join(s, "id").agg(F.coalesce(F.sum("vol"), F.lit(0.0))).first()[0]
    )
    total = float(vols.agg(F.sum("vol")).first()[0])
    cut = float(
        sym.join(s.withColumnRenamed("id", "src"), "src")
        .join(s.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .agg(F.coalesce(F.sum("weight"), F.lit(0.0)))
        .first()[0]
    )
    denom = min(vol_s, total - vol_s)
    return cut / denom if denom > 0 else float("inf")


def page_rank_nibble(
    graph: Graph,
    seeds: list[int] | int,
    alpha: float = 0.15,
    eps: float = 1e-4,
) -> NibbleResult:
    """expandOneCommunity (PageRankNibble.cpp:84-89): APR from the seed
    set, then the best conductance sweep prefix."""
    if isinstance(seeds, int):
        seeds = [seeds]
    pr = approximate_pagerank(graph, seeds, alpha=alpha, eps=eps)
    support = truncate(pr.filter(F.col("p") > 0).select("id", "p"))

    vols = _volumes(graph)
    n = graph.num_vertices()
    total = float(vols.agg(F.sum("vol")).first()[0])

    # sweep order: p / vol descending, ties toward the smaller id — a
    # DETERMINISTIC total order (the reference's sort leaves ties
    # unspecified).
    # bounded-window: the APR support is O(1/(eps·alpha)) nodes by the
    # push invariant — bounded by the parameters, NOT by the graph, so
    # a single-partition rank over it is scale-safe at any n.
    wr = Window.partitionBy(F.pmod(F.col("id"), F.lit(1))).orderBy(
        F.col("score").desc(), F.col("id").asc())
    ordered = support.join(vols, "id").select(
        "id", "vol", (F.col("p") / F.col("vol")).alias("score")
    )
    ranked = truncate(
        ordered.withColumn("rk", F.row_number().over(wr).cast("long"))
        .select("id", "vol", "rk")
    )

    # intra edges become internal at prefix max(rank_u, rank_v)
    sym = graph.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    ru = ranked.select(F.col("id").alias("src"), F.col("rk").alias("rku"))
    rv = ranked.select(F.col("id").alias("dst"), F.col("rk").alias("rkv"))
    intra_at = (
        sym.join(ru, "src").join(rv, "dst")
        .select(F.greatest("rku", "rkv").alias("rk"), "weight")
        .groupBy("rk")
        .agg((F.sum("weight")).alias("w_in"))  # both arc directions: 2·w(edge)
    )
    sweep = (
        ranked.join(intra_at, "rk", "left")
        .select("rk", "vol", F.coalesce("w_in", F.lit(0.0)).alias("w_in"))
    )
    # bounded-window: the sweep table is APR-support-sized —
    # O(1/(eps·alpha)) rows by the push invariant, not corpus-sized
    w = (Window.partitionBy(F.pmod(F.col("rk"), F.lit(1)))
         .orderBy("rk").rowsBetween(Window.unboundedPreceding, 0))
    sweep = sweep.select(
        "rk",
        F.sum("vol").over(w).alias("cum_vol"),
        F.sum("w_in").over(w).alias("cum_in"),
    ).withColumn(
        "cond",
        (F.col("cum_vol") - F.col("cum_in"))
        / F.least(F.col("cum_vol"), F.lit(total) - F.col("cum_vol")),
    )
    best = (
        sweep.filter(F.col("rk") < n)  # full-set prefix excluded
        .agg(
            F.min(F.struct(F.col("cond"), F.col("rk"))).alias("b")
        )
        .select(F.col("b.cond").alias("cond"), F.col("b.rk").alias("rk"))
        .first()
    )
    best_rk, best_cond = int(best["rk"]), float(best["cond"])
    community = ranked.filter(F.col("rk") <= best_rk).select("id")
    return NibbleResult(
        community=truncate(community), conductance=best_cond, support=support
    )


def scd_ground_truth_comparison(
    graph: Graph,
    ground_truth: DataFrame,
    found: DataFrame,
    ignore_seeds: bool = False,
) -> DataFrame:
    """(seed, jaccard, f1, precision, recall) —
    SCDGroundTruthComparison.cpp:11-124: for every found community the
    BEST score over its candidate ground-truth subsets, each metric
    maximized INDEPENDENTLY; candidates are the subsets containing the
    seed unless ignore_seeds (then all overlapping subsets). `found` =
    (seed, id) membership rows, `ground_truth` = (id, c) cover rows.
    Nodes absent from the graph are dropped from found communities
    (hasNode guard); a seed absent from the graph raises unless
    ignore_seeds (reference :48-52). Seeds whose candidate set is empty
    score 0 everywhere. All joins/aggregations — one overlap shuffle."""
    v = graph.vertices()
    if not ignore_seeds:
        missing = (
            found.select("seed").distinct()
            .join(v.select(F.col("id").alias("seed")), "seed", "left_anti")
        )
        if missing.limit(1).count() > 0:
            raise ValueError("the graph does not contain a seed node")
    fnd = found.join(v, "id")
    fs = fnd.groupBy("seed").agg(F.count("*").alias("fs"))
    gt = ground_truth.join(v, "id")
    ts = gt.groupBy("c").agg(F.count("*").alias("ts"))
    ov = fnd.join(gt, "id").groupBy("seed", "c").agg(F.count("*").alias("ov"))
    if not ignore_seeds:
        allowed = ground_truth.select(F.col("id").alias("seed"), "c").distinct()
        ov = ov.join(allowed, ["seed", "c"], "left_semi")
    prec = F.col("ov") / F.col("fs")
    rec = F.col("ov") / F.col("ts")
    m = (
        ov.join(fs, "seed")
        .join(ts, "c")
        .select(
            "seed",
            (F.col("ov") / (F.col("fs") + F.col("ts") - F.col("ov"))).alias("jac"),
            prec.alias("prec"),
            rec.alias("rec"),
            F.when((prec > 0) & (rec > 0), 2 * prec * rec / (prec + rec))
            .otherwise(0.0).alias("f1"),
        )
    )
    best = m.groupBy("seed").agg(
        F.max("jac").alias("jaccard"), F.max("f1").alias("f1"),
        F.max("prec").alias("precision"), F.max("rec").alias("recall"),
    )
    return (
        found.select("seed").distinct()
        .join(best, "seed", "left")
        .select(
            "seed",
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            F.coalesce("f1", F.lit(0.0)).alias("f1"),
            F.coalesce("precision", F.lit(0.0)).alias("precision"),
            F.coalesce("recall", F.lit(0.0)).alias("recall"),
        )
    )
