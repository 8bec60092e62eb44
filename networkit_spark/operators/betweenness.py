"""Betweenness centrality: exact Brandes and the sampling estimator.

Reference:
- Betweenness.cpp:23-101 (Brandes): per source s, forward SSSP counting
  shortest paths σ, then reverse-BFS-order dependency accumulation
  δ[p] += (σp/σt)·(1+δt) over predecessor arcs; score[t] += δ[t] for
  t ≠ s; normalized divides by (n−1)(n−2) (:86-91).
- EstimateBetweenness.cpp:26-115: same per-source dependency pass for a
  RANDOM SAMPLE of nSamples+1 sources (the `i <= nSamples` loop,
  :33-35), with the Geisberger linear-scaling weighting factor
  (dist(p)/dist(t)) on each contribution (:70-80); scores extrapolate
  by 2n/nSamples (:102-104) and normalized divides by (n−2)(n−1)
  (:100,106-108).

Spark shape: ONE state DataFrame keyed by (s, id) runs every source's
pass simultaneously.
- Forward: level-synchronous BFS where the new level's σ is the sum of
  frontier σ over arcs (groupBy(s, dst).sum — the path-count recurrence
  σt = Σ_{p∈pred(t)} σp falls out of the join+agg).
- Backward: levels descend from the BFS depth; the shortest-path DAG
  only has arcs between consecutive hop levels, so each level is one
  join (t-rows ⋈ arcs ⋈ (L−1)-rows) + one aggregation, and a node's δ
  is final the moment its level is processed — its score contribution
  is banked right there.
Work is O(Σ_s m) like the reference's loop; at web scale callers sample
sources (estimate_betweenness) — the batched pass makes sample size a
rows-per-shuffle knob, not a job-count knob.

Hop-count distances only (unweighted BFS — the reference switches to
Dijkstra on weighted graphs; weighted betweenness is out of scope here
and raises)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import _bfs_levels
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame


def _forward_sssp(graph: Graph, sources: DataFrame):
    """Batched BFS with path counts: (s, id, sigma, dist) for every
    reachable pair, sigma = number of shortest s→id paths (the BFS level
    kernel summing the frontier's sigma into each new vertex), plus the
    cached arcs and the BFS depth."""
    sym = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    seeds = (
        sources.select(F.col("s").cast("long").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("id"), F.lit(1.0).alias("sigma"))
    )
    visited, depth = _bfs_levels(
        sym, seeds, keys=("s",), aggs=(F.sum("sigma").alias("sigma"),)
    )
    return visited, sym, depth


def _dependency_scores(
    graph: Graph,
    sources: DataFrame,
    distance_weighted: bool,
) -> DataFrame:
    """Σ_s δ_s(t) per node t — the common core of exact and estimated
    betweenness. distance_weighted adds the (dist(p)/dist(t)) factor
    (EstimateBetweenness.cpp:78-80)."""
    visited, sym, max_l = _forward_sssp(graph, sources)

    delta_next: DataFrame | None = None  # (s, id, delta) for current level
    score_pieces: list[DataFrame] = []
    for level in range(max_l, 0, -1):
        t_rows = visited.filter(F.col("dist") == level).select(
            "s", "id", "sigma"
        )
        if delta_next is not None:
            t_rows = t_rows.join(delta_next, ["s", "id"], "left").select(
                "s", "id", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
        else:
            t_rows = t_rows.withColumn("delta", F.lit(0.0))
        t_rows = truncate(t_rows)

        # deltas at this level are final → bank the score contribution
        score_pieces.append(
            t_rows.groupBy("id").agg(F.sum("delta").alias("score"))
        )

        # contributions to predecessors p (dist = level−1, arc p→t)
        factor = (level - 1) / float(level) if distance_weighted else 1.0
        preds = visited.filter(F.col("dist") == level - 1).select(
            "s", F.col("id").alias("p"), F.col("sigma").alias("sigma_p")
        )
        contrib = (
            t_rows.join(sym, t_rows.id == sym.dst)
            .select("s", F.col("src").alias("p"), "sigma", "delta")
            .join(preds, ["s", "p"])
            .groupBy("s", F.col("p").alias("id"))
            .agg(
                F.sum(
                    F.lit(factor)
                    * (F.col("sigma_p") / F.col("sigma"))
                    * (1.0 + F.col("delta"))
                ).alias("delta")
            )
        )
        delta_next = truncate(contrib)

    visited.unpersist()
    sym.unpersist()
    if not score_pieces:
        return graph.vertices().select("id", F.lit(0.0).alias("score"))
    all_pieces = score_pieces[0]
    for p in score_pieces[1:]:
        all_pieces = all_pieces.unionByName(p)
    summed = all_pieces.groupBy("id").agg(F.sum("score").alias("score"))
    return (
        graph.vertices()
        .join(summed, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def betweenness_centrality(graph: Graph, normalized: bool = False) -> DataFrame:
    """Exact Brandes over all sources (Betweenness.cpp:23-101).
    O(n·m) like the reference — the test/oracle path; sample at scale
    with estimate_betweenness."""
    if graph.weighted:
        raise ValueError("weighted betweenness (Dijkstra) not supported; "
                         "use an unweighted graph")
    scores = _dependency_scores(graph, _all_sources(graph), distance_weighted=False)
    if normalized:
        n = graph.num_vertices()
        pairs = float((n - 1) * (n - 2))
        scores = scores.select("id", (F.col("score") / pairs).alias("score"))
    return scores


def estimate_betweenness(
    graph: Graph,
    n_samples: int,
    normalized: bool = False,
    seed: int = 42,
    sources: DataFrame | None = None,
) -> DataFrame:
    """EstimateBetweenness.cpp:26-115: sampled sources with the
    linear-scaling (dist(p)/dist(t)) dependency weighting, extrapolated
    by 2n/nSamples. The reference draws nSamples+1 random sources with
    replacement (:33-35); we take the nSamples+1 smallest by
    xxhash64(id, seed) — deterministic, same count, same estimator
    shape. `sources` overrides sampling (tests feed the oracle the
    identical set)."""
    if graph.weighted:
        raise ValueError("weighted betweenness (Dijkstra) not supported; "
                         "use an unweighted graph")
    n = graph.num_vertices()
    if sources is None:
        sources = (
            graph.vertices()
            .orderBy(F.xxhash64("id", F.lit(seed)), F.asc("id"))
            .limit(n_samples + 1)
            .select(F.col("id").alias("s"))
        )
    scores = _dependency_scores(graph, sources, distance_weighted=True)
    scale = 2.0 * n / float(n_samples)
    scores = scores.select("id", (F.col("score") * scale).alias("score"))
    if normalized:
        pairs = float((n - 2) * (n - 1))
        scores = scores.select("id", (F.col("score") / pairs).alias("score"))
    return scores


def _all_sources(graph: Graph) -> DataFrame:
    return graph.vertices().select(F.col("id").alias("s"))


@dataclass
class AdaptiveBetweennessResult:
    scores: DataFrame          # (id, score)
    n_samples: int             # pivots actually consumed
    rounds: int                # batches run
    history: list              # per-round {'round', 'samples', 'delta'}


def adaptive_betweenness(
    graph: Graph,
    err: float = 0.005,
    batch_size: int = 16,
    max_samples: int = 256,
    normalized: bool = False,
    seed: int = 42,
) -> AdaptiveBetweennessResult:
    """KADABRA-analog adaptive sampled betweenness (reference:
    cpp/centrality/KadabraBetweenness.cpp — progressive sampling that
    stops once the estimates are provably within epsilon).

    The reference samples single shortest paths and maintains per-node
    Rademacher confidence bounds — inherently sequential bookkeeping.
    The Spark-first substitute keeps the reference's CONTRACT (sample
    adaptively, stop when scores have stabilized to `err`) on top of the
    engine's scalable kernel: pivots are consumed in deterministic
    batches (next `batch_size` vertices by xxhash64(id, seed) order,
    sampling without replacement); each batch is ONE multi-source
    Brandes pass (operators/betweenness._dependency_scores, the same
    linear-scaling estimator as EstimateBetweenness.cpp:26-115); after
    each batch the cumulative estimate is re-scaled by 2n/samples and
    the run stops when the batch-over-batch L∞ change of the NORMALIZED
    estimate (score / ((n-1)(n-2)), the [0,1] scale) drops below `err`,
    or at `max_samples`. Empirical-stability stopping instead of
    Rademacher bounds is the documented deviation; the estimator itself
    is unchanged.

    Each round costs one BFS-depth set of supersteps over the active
    frontier — at 100 TB the batch is the unit of incremental spend, and
    the stop rule converts "how many pivots does THIS graph need" from a
    guess into a measurement."""
    if graph.weighted:
        raise ValueError("weighted betweenness (Dijkstra) not supported; "
                         "use an unweighted graph")
    n = graph.num_vertices()
    pairs = float(max((n - 1) * (n - 2), 1))
    ordered = (
        graph.vertices()
        .orderBy(F.xxhash64("id", F.lit(seed)), F.asc("id"))
        .limit(max_samples)
        .select(F.col("id").alias("s"))
        .collect()
    )
    raw_cum: DataFrame | None = None
    prev_est: DataFrame | None = None
    history: list[dict] = []
    used = 0
    rounds = 0
    while used < len(ordered):
        batch = [r["s"] for r in ordered[used: used + batch_size]]
        used += len(batch)
        rounds += 1
        srcs = local_frame(
            graph.edges.sparkSession, [(s,) for s in batch], "s long"
        )
        raw = _dependency_scores(graph, srcs, distance_weighted=True)
        if raw_cum is None:
            raw_cum = truncate(raw)
        else:
            merged = (
                raw_cum.withColumnRenamed("score", "a")
                .join(raw.withColumnRenamed("score", "b"), "id", "outer")
                .select(
                    "id",
                    (F.coalesce("a", F.lit(0.0)) + F.coalesce("b", F.lit(0.0))).alias("score"),
                )
            )
            raw_cum = truncate(merged, release=raw_cum)
        est = raw_cum.select(
            "id", (F.col("score") * (2.0 * n / used) / pairs).alias("est")
        )
        if prev_est is not None:
            delta = (
                est.join(prev_est.withColumnRenamed("est", "old"), "id", "outer")
                .agg(
                    F.max(
                        F.abs(
                            F.coalesce("est", F.lit(0.0)) - F.coalesce("old", F.lit(0.0))
                        )
                    )
                )
                .first()[0]
                or 0.0
            )
            history.append({"round": rounds, "samples": used, "delta": float(delta)})
            if delta <= err:
                prev_est = est
                break
        prev_est = est
    scale = 1.0 if normalized else pairs
    scores = (
        graph.vertices()
        .join(prev_est, "id", "left")
        .select("id", (F.coalesce("est", F.lit(0.0)) * scale).alias("score"))
    )
    return AdaptiveBetweennessResult(
        scores=scores, n_samples=used, rounds=rounds, history=history
    )


def approx_betweenness_rk(
    graph: Graph,
    epsilon: float = 0.1,
    delta: float = 0.1,
    universal_constant: float = 1.0,
    vd: int | None = None,
    r: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """(id, score) — ApproxBetweenness, the Riondato–Kornaropoulos
    VC-dimension path sampler (cpp/centrality/ApproxBetweenness.cpp:
    29-100): r = ceil((c/ε²)(⌊log2(vd−2)⌋ + 1 − ln δ)) samples; each
    sample draws a random ordered pair (s, t), computes shortest-path
    counts from s, walks back from t choosing each predecessor z with
    probability σ_sz/σ_st, and adds 1/r to every INTERIOR node of the
    sampled path. vd ≤ 2 returns all-zero scores (reference parity).

    Distributed shape: samples are ROWS — sources dedupe into ONE
    batched σ-BFS (the engine's Brandes forward pass), and the backward
    walk advances ALL samples one hop per superstep (preds = one join
    against the σ table, the weighted choice = a per-sample running-sum
    window over an exact hash draw, SQL-replayable). The reference's
    ESTIMATED_PEDANTIC diameter feeds vd; callers that need a
    closed-form oracle pin vd (and therefore r) explicitly."""
    import math

    from networkit_spark.operators.embedding import _u
    from networkit_spark.plans.ranking import global_row_numbers

    spark = graph.edges.sparkSession
    n = graph.num_vertices()
    if vd is None:
        from networkit_spark.operators.distances import diameter_double_sweep

        vd = diameter_double_sweep(graph)
    if vd <= 2:
        return graph.vertices().select("id", F.lit(0.0).alias("score"))
    if r is None:
        r = int(
            math.ceil(
                (universal_constant / (epsilon * epsilon))
                * (math.floor(math.log2(vd - 2)) + 1 - math.log(delta))
            )
        )
    ranked = global_row_numbers(graph.vertices(), "id", "rk")
    # ordered pair (s, t), t ≠ s via the skip trick: q < n−1 ranks, shift
    # past s's rank — exact distinct-pair draw, replayable in SQL
    su = F.floor(_u(F.col("i"), 0, F.lit(0), seed) * n).cast("long")
    qu = F.floor(_u(F.col("i"), 1, F.lit(0), seed) * (n - 1)).cast("long")
    samples = (
        spark.range(r).select(F.col("id").alias("i"))
        .withColumn("srk", su)
        .withColumn("trk", F.when(qu >= F.col("srk"), qu + 1).otherwise(qu))
        .join(ranked.select(F.col("id").alias("s"), F.col("rk").alias("srk")), "srk")
        .join(ranked.select(F.col("id").alias("t"), F.col("rk").alias("trk")), "trk")
        .select("i", "s", "t")
    )
    samples = truncate(samples)
    sp, sym, _ = _forward_sssp(graph, samples.select("s"))

    # reachable targets start the backward walk at their (s,t) distance
    walking = {"active": F.count_if(F.col("dist") > 0)}
    cur, seen = materialize(
        samples.join(
            sp.select("s", F.col("id").alias("t"), "dist"), ["s", "t"]
        ).select("i", "s", F.col("t").alias("node"), "dist"),
        walking,
    )
    picks = []
    step = 0
    while seen["active"]:
        active = cur.filter(F.col("dist") > 0)
        step += 1
        preds = (
            active.join(sym, active.node == sym.dst)
            .select("i", "s", F.col("src").alias("p"), (F.col("dist") - 1).alias("pd"))
            .join(
                sp.select("s", F.col("id").alias("p"), F.col("dist").alias("pd"),
                          "sigma"),
                ["s", "p", "pd"],
            )
        )
        wtot = Window.partitionBy("i")
        wcum = wtot.orderBy("p").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
        udraw = _u(F.col("i"), 100 + step, F.lit(0), seed)
        chosen = (
            preds.withColumn("cum", F.sum("sigma").over(wcum))
            .withColumn("tot", F.sum("sigma").over(wtot))
            .filter(F.col("cum") >= udraw * F.col("tot"))
            .withColumn("rn", F.row_number().over(wtot.orderBy("p")))
            .filter(F.col("rn") == 1)
            .select("i", "s", F.col("p").alias("node"), F.col("pd").alias("dist"))
        )
        cur, seen = materialize(chosen, walking, release=cur)
        picks.append(cur.filter(F.col("node") != F.col("s")).select("node"))
    if picks:
        allp = picks[0]
        for p in picks[1:]:
            allp = allp.unionByName(p)
        scored = allp.groupBy(F.col("node").alias("id")).agg(
            (F.count("*") / F.lit(float(r))).alias("score")
        )
    else:
        scored = local_frame(spark, [], "id long, score double")
    return (
        graph.vertices()
        .join(scored, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )


def approx_group_betweenness(
    graph: Graph,
    group_size: int,
    samples: int | None = None,
    epsilon: float = 0.1,
    seed: int = 1,
) -> DataFrame:
    """(ord, id) — ApproxGroupBetweenness (cpp/centrality/
    ApproxGroupBetweenness.cpp:36-139, Mahmoody et al. KDD'16): draw
    ceil(k·ln(n)/ε²) random (s, t) pairs (`samples` overrides the
    formula so the oracle replays a pinned count), sample ONE shortest
    s-t path per pair by walking back from t choosing uniformly among
    BFS predecessors (:69-77 — per-step uniform, the reference's actual
    rule), form a hyperedge from the path's INTERIOR nodes, then greedy
    max-coverage: k rounds each picking the node incident to the most
    uncovered hyperedges and covering them (:100-134).

    Distributed shape: identical to approx_betweenness_rk — samples are
    rows, sources dedupe into one batched σ-BFS, the backward walk
    advances all samples one hop per superstep with an exact hash draw
    (uniform over predecessors: weight 1 replaces the RK walk's σ).
    The greedy is k rounds of one anti-join + count-distinct each.

    Documented substitutions: the hash draw replaces Aux::Random (same
    distribution, replayable in SQL); coverage ties break (count desc,
    id asc) where the reference's bucket-PQ order is schedule-dependent;
    exhausted coverage fills with the smallest unchosen vertex ids (the
    reference extracts zero-degree nodes in PQ insertion order = id
    order). Undirected only; 1 ≤ k ≤ n−1; ε > 0 (reference raises)."""
    import math

    from networkit_spark.operators.embedding import _u
    from networkit_spark.plans.ranking import global_row_numbers

    if graph.directed:
        raise ValueError("Error: the graph must be undirected.")
    if epsilon <= 0:
        raise ValueError("Error: epsilon must be greater than 0.")
    spark = graph.edges.sparkSession
    n = graph.num_vertices()
    if not group_size or group_size >= n:
        raise ValueError("Error: the group size must be between 1 and n-1.")
    if samples is None:
        samples = int(
            math.ceil(group_size * math.log(n) / (epsilon * epsilon))
        )
    r = samples

    ranked = global_row_numbers(graph.vertices(), "id", "rk")
    su = F.floor(_u(F.col("i"), 0, F.lit(0), seed) * n).cast("long")
    qu = F.floor(_u(F.col("i"), 1, F.lit(0), seed) * (n - 1)).cast("long")
    smp = (
        spark.range(r).select(F.col("id").alias("i"))
        .withColumn("srk", su)
        .withColumn("trk", F.when(qu >= F.col("srk"), qu + 1).otherwise(qu))
        .join(ranked.select(F.col("id").alias("s"), F.col("rk").alias("srk")), "srk")
        .join(ranked.select(F.col("id").alias("t"), F.col("rk").alias("trk")), "trk")
        .select("i", "s", "t")
    )
    smp = truncate(smp)
    sp, sym, _ = _forward_sssp(graph, smp.select("s"))

    walking = {"active": F.count_if(F.col("dist") > 0)}
    cur, seen = materialize(
        smp.join(
            sp.select("s", F.col("id").alias("t"), "dist"), ["s", "t"]
        ).select("i", "s", F.col("t").alias("node"), "dist"),
        walking,
    )
    picks = []
    step = 0
    while seen["active"]:
        active = cur.filter(F.col("dist") > 0)
        step += 1
        preds = (
            active.join(sym, active.node == sym.dst)
            .select("i", "s", F.col("src").alias("p"),
                    (F.col("dist") - 1).alias("pd"))
            .join(
                sp.select("s", F.col("id").alias("p"),
                          F.col("dist").alias("pd")),
                ["s", "p", "pd"],
            )
        )
        wtot = Window.partitionBy("i")
        wcum = wtot.orderBy("p").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        udraw = _u(F.col("i"), 100 + step, F.lit(0), seed)
        chosen = (
            preds.withColumn("cum", F.count("*").over(wcum).cast("double"))
            .withColumn("tot", F.count("*").over(wtot).cast("double"))
            .filter(F.col("cum") >= udraw * F.col("tot"))
            .withColumn("rn", F.row_number().over(wtot.orderBy("p")))
            .filter(F.col("rn") == 1)
            .select("i", "s", F.col("p").alias("node"),
                    F.col("pd").alias("dist"))
        )
        cur, seen = materialize(chosen, walking, release=cur)
        picks.append(
            cur.filter(F.col("node") != F.col("s")).select("i", "node")
        )

    if picks:
        hyper = picks[0]
        for p in picks[1:]:
            hyper = hyper.unionByName(p)
        hyper = hyper.distinct().persist(StorageLevel.MEMORY_AND_DISK)
        hyper.count()
    else:
        hyper = local_frame(spark, [], "i long, node long")

    group: list[int] = []
    uncovered = hyper
    for _ in range(group_size):
        top = (
            uncovered.groupBy("node")
            .agg(F.count_distinct("i").alias("c"))
            .orderBy(F.col("c").desc(), F.col("node").asc())
            .first()
        )
        if top is not None and int(top["c"]) > 0:
            pick = int(top["node"])
        else:
            filler = (
                graph.vertices()
                .filter(~F.col("id").isin(*group) if group else F.lit(True))
                .agg(F.min("id"))
                .first()[0]
            )
            pick = int(filler)
        group.append(pick)
        covered_ids = uncovered.filter(F.col("node") == pick).select("i")
        uncovered = uncovered.join(covered_ids, "i", "left_anti")
        uncovered = truncate(uncovered)
    hyper.unpersist()
    return local_frame(
        spark, [(j + 1, g) for j, g in enumerate(group)], "ord int, id long"
    )
