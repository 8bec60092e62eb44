"""Group closeness / group harmonic closeness — greedy submodular
maximization over a distance table.

Reference:
- GroupCloseness.cpp:69-153 run(): S = {top closeness node}; each round
  adds the node with the largest farness improvement, where
  improvement(u) = Σ_v (d[v] − min(d[v], dist(u, v))) + d[u]
  (computeImprovement :24-48 — a pruned BFS that relaxes exactly to
  min(d[v], dist(u, v))); updateDistances :50-67 folds the winner in
  (d[v] ← min(d[v], dist(u*, v))). Nodes unreachable from the seed
  keep d = 0 and never contribute (:85-91 zero-init quirk) — the
  greedy stays inside the seed's component.
- GroupCloseness.hpp:103-113 scoreOfGroup: (n − |S|) / Σ_v dist(v, S)
  with the sum over nodes reachable from S.
- GroupHarmonicCloseness.cpp:622-629 scoreOfGroup:
  Σ_{v: dist(v,S) > 0} 1 / dist(v, S); run() greedily maximizes the
  same objective (marginal gain can be negative for the member's own
  lost term — kept, as in the reference's score difference).

Spark-native design: the reference evaluates candidates with pruned
BFS per candidate under OpenMP; here ALL candidates are evaluated at
once from the batched multi-source-BFS distance table (operators/apsp)
— each greedy round is ONE join + groupBy-agg over (candidate,
vertex) pairs, k rounds total. Tie-breaks are deterministic
(gain DESC, id ASC) — the reference's parallel bucket-PQ order is
schedule-dependent; the documented substitution, replayed exactly by
the SQL oracle.

Scale: the distance table is O(n·n_reachable) rows — the same
asymptotics the reference's exact greedy pays in time; for web-scale
graphs bound the horizon with max_depth (the reference's H parameter:
improvements past depth H are ignored, GroupCloseness.cpp:35 `h`)
and/or restrict `candidates`, which shrinks the table to
O(n · ball_H).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.apsp import apsp
from networkit_spark.session import local_frame


def _dist_table(graph: Graph, max_depth: int | None) -> DataFrame:
    d = apsp(graph)
    if max_depth:
        d = d.filter(F.col("dist") <= max_depth)
    return d.persist(StorageLevel.MEMORY_AND_DISK)


def group_closeness(
    graph: Graph, k: int, max_depth: int | None = None
) -> tuple[list[int], float]:
    """(members in pick order, score) — greedy group closeness
    (GroupCloseness.cpp run + hpp scoreOfGroup)."""
    dist = _dist_table(graph, max_depth)
    n = graph.num_vertices()
    # first pick = the exact top-closeness node: min total farness over
    # its reachable set is NOT the rule — the reference takes TopCloseness
    # #1, which on each component is min farness; across components the
    # standard closeness (n−1)/far · (r−1)/(n−1) scaling reduces to
    # maximizing (r−1)²/far (Closeness.cpp variant). For the greedy seed
    # we use min(Σ dist / (r−1)²) — identical on connected graphs,
    # component-aware otherwise; ties broken by id.
    far = dist.groupBy("s").agg(
        F.sum("dist").alias("far"), F.count("*").alias("r")
    )
    first = (
        far.filter(F.col("r") > 1)
        .orderBy(
            (F.col("far") / ((F.col("r") - 1) * (F.col("r") - 1))).asc(),
            F.col("s").asc(),
        )
        .first()
    )
    if first is None:  # edgeless graph
        dist.unpersist()
        return [], 0.0
    members = [int(first["s"])]
    d = dist.filter(F.col("s") == members[0]).select("id", F.col("dist").alias("d"))
    for _ in range(1, k):
        gains = (
            dist.join(d, "id")
            .filter(~F.col("s").isin(*members))
            .groupBy("s")
            .agg(F.sum(
                F.greatest(F.lit(0), F.col("d") - F.col("dist"))
            ).alias("gain"))
        )
        top = gains.orderBy(F.col("gain").desc(), F.col("s").asc()).first()
        if top is None:
            break
        u = int(top["s"])
        members.append(u)
        du = dist.filter(F.col("s") == u).select(
            "id", F.col("dist").alias("du")
        )
        d = (
            d.join(du, "id", "left")
            .select("id", F.least("d", F.coalesce("du", "d")).alias("d"))
        )
        d = d.persist()
        d.count()
    sum_d = d.agg(F.sum("d")).first()[0] or 0
    dist.unpersist()
    score = (float(n - len(members)) / sum_d) if sum_d > 0 else 0.0
    return members, score


def group_harmonic_closeness(
    graph: Graph, k: int, max_depth: int | None = None
) -> tuple[list[int], float]:
    """(members in pick order, score) — greedy group harmonic closeness
    (GroupHarmonicCloseness.cpp; score = Σ_{dist>0} 1/dist(v, S))."""
    dist = _dist_table(graph, max_depth)
    inv = F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist")).otherwise(
        F.lit(0.0)
    )
    first = (
        dist.groupBy("s").agg(F.sum(inv).alias("h"))
        .orderBy(F.col("h").desc(), F.col("s").asc())
        .first()
    )
    if first is None:
        dist.unpersist()
        return [], 0.0
    members = [int(first["s"])]
    d = dist.filter(F.col("s") == members[0]).select("id", F.col("dist").alias("d"))
    for _ in range(1, k):
        # marginal gain of u: Σ_v [inv(min(d, dist(u,v))) − inv(d)],
        # over v reachable from u; v unreached by S has d = ∞ (absent).
        joined = dist.filter(~F.col("s").isin(*members)).join(d, "id", "left")
        newd = F.least(F.coalesce("d", F.col("dist")), F.col("dist"))
        oldterm = F.when(
            F.col("d").isNotNull() & (F.col("d") > 0),
            F.lit(1.0) / F.col("d"),
        ).otherwise(F.lit(0.0))
        newterm = F.when(newd > 0, F.lit(1.0) / newd).otherwise(F.lit(0.0))
        gains = joined.groupBy("s").agg(F.sum(newterm - oldterm).alias("gain"))
        top = gains.orderBy(F.col("gain").desc(), F.col("s").asc()).first()
        if top is None:
            break
        u = int(top["s"])
        members.append(u)
        du = dist.filter(F.col("s") == u).select("id", F.col("dist").alias("du"))
        d = (
            d.join(du, "id", "full")
            .select(
                "id",
                F.least(
                    F.coalesce("d", "du"), F.coalesce("du", "d")
                ).alias("d"),
            )
        )
        d = d.persist()
        d.count()
    score = d.agg(
        F.sum(
            F.when(F.col("d") > 0, F.lit(1.0) / F.col("d")).otherwise(F.lit(0.0))
        )
    ).first()[0] or 0.0
    dist.unpersist()
    return members, float(score)


def score_of_group_closeness(graph: Graph, members: list[int]) -> float:
    """GroupCloseness.hpp:103-113 scoreOfGroup."""
    dist = apsp(graph)
    src = local_frame(
        graph.edges.sparkSession, [(int(m),) for m in members], "s long"
    )
    dmin = (
        dist.join(F.broadcast(src), "s", "left_semi")
        .groupBy("id").agg(F.min("dist").alias("d"))
    )
    sum_d = dmin.agg(F.sum("d")).first()[0] or 0
    n = graph.num_vertices()
    return (float(n - len(members)) / sum_d) if sum_d > 0 else 0.0


def score_of_group_harmonic(graph: Graph, members: list[int]) -> float:
    """GroupHarmonicCloseness.cpp:622-629 scoreOfGroup."""
    dist = apsp(graph)
    src = local_frame(
        graph.edges.sparkSession, [(int(m),) for m in members], "s long"
    )
    dmin = (
        dist.join(F.broadcast(src), "s", "left_semi")
        .groupBy("id").agg(F.min("dist").alias("d"))
    )
    return float(
        dmin.agg(
            F.sum(
                F.when(F.col("d") > 0, F.lit(1.0) / F.col("d"))
                .otherwise(F.lit(0.0))
            )
        ).first()[0]
        or 0.0
    )


def group_closeness_local_swaps(
    graph: Graph,
    group,
    max_swaps: int = 100,
    max_depth: int | None = None,
) -> tuple[list[int], int, int]:
    """Group-closeness local search by single-node swaps — the engine's
    exact substitute for GroupClosenessLocalSwaps / GrowShrink
    (cpp/centrality/GroupClosenessLocalSwaps.cpp:48-88,
    GroupClosenessGrowShrinkImpl.cpp).

    Contract (CentralityGTest.cpp:2124-2186): undirected only, non-empty
    group, |group| preserved, at most max_swaps swaps, BFS farness
    Σ_v dist(v, S) strictly decreases on every swap (so farness(final)
    ≤ farness(initial), equality iff 0 swaps). The reference picks the
    swap by a min-hash ESTIMATE of the farness decrease refined with one
    exact BFS (LocalSwaps :56-88) — a sequential randomized heuristic.
    Documented substitution: each round evaluates ALL (x ∈ S,
    u ∈ frontier) swaps EXACTLY from the hop-distance table and takes
    the best (farness asc, x asc, u asc) — deterministic, at least as
    strong per swap, same test contract. The insertion pool is the
    reference's: vertices at distance exactly 1 from the group
    (LocalSwaps :172-199 restricts candidates to dist==1).

    Scale shape: distances come from the batched multi-source BFS table
    (O(n·n_reach) rows — the same state the exact evaluation needs no
    matter the engine; bound with max_depth at web scale, the
    reference's own horizon trick). Per round the evaluation is a
    constant number of joins/aggregations; the swap matrix is never
    materialized as k·n_c·n rows — per-(u) and per-(u, arg1)
    decomposition keeps it at O(n_c·n) + O(k·n_c) rows. All values are
    integer hop counts, so the DuckDB oracle (direct min-over-sources
    recomputation — an independent derivation) matches exactly.
    """
    if graph.directed:
        raise ValueError("local swaps requires an undirected graph")
    members = sorted({int(x) for x in group})
    if not members:
        raise ValueError("the group must be non-empty")
    k = len(members)
    spark = graph.edges.sparkSession
    dist = _dist_table(graph, max_depth)
    zero = F.lit(0).cast("long")
    n_swaps = 0
    try:
        while n_swaps < max_swaps:
            # NOTE: the broadcast hint is applied per-join below, never
            # baked into the frame — memdf also sits on the PRESERVED
            # side of a left join (basedf), where a baked-in hint is
            # unusable (Spark drops it with a HintErrorLogger warning
            # and silently shuffles).
            memdf = local_frame(spark, [(m,) for m in members], "x long")
            memd = dist.join(
                F.broadcast(memdf.withColumnRenamed("x", "s")), "s", "left_semi"
            )
            # per-vertex: nearest member (dist, id tie-break) + runner-up
            pv = memd.groupBy("id").agg(
                F.sort_array(
                    F.collect_list(F.struct("dist", "s"))
                ).alias("a")
            ).select(
                "id",
                F.col("a")[0]["dist"].alias("m1"),
                F.col("a")[0]["s"].alias("arg1"),
                F.try_element_at("a", F.lit(2))["dist"].alias("m2"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            f0 = pv.agg(F.sum("m1")).first()[0]
            f0 = int(f0 or 0)

            cand = pv.filter(F.col("m1") == 1).select(
                F.col("id").alias("u")
            )
            candd = dist.join(
                cand, dist.s == cand.u, "inner"
            ).select(F.col("s").alias("u"), "id", F.col("dist").alias("du"))

            j = candd.join(pv, "id", "left")
            reachable = F.col("m1").isNotNull()
            gain1 = F.greatest(zero, F.col("m1") - F.col("du"))
            gain2 = F.when(
                F.col("m2").isNotNull(),
                F.greatest(zero, F.col("m2") - F.col("du")),
            ).otherwise(zero)
            per_u = j.groupBy("u").agg(
                F.sum(F.when(~reachable, F.col("du")).otherwise(zero))
                .alias("add_all"),
                F.sum(F.when(reachable, gain1).otherwise(zero))
                .alias("red_common"),
            )
            per_ux = (
                j.filter(reachable)
                .groupBy("u", "arg1")
                .agg(
                    F.sum(gain1).alias("corr1"),
                    F.sum(gain2).alias("corr2"),
                    F.sum(
                        F.when(F.col("m2").isNull(), F.col("du"))
                        .otherwise(zero)
                    ).alias("add2"),
                )
            )
            # base(x) = Σ_v mindist(S\{x}, v) over its own reachable set
            t_sum = f0
            per_x = pv.groupBy("arg1").agg(
                F.sum("m1").alias("s1"),
                F.sum(F.coalesce("m2", zero)).alias("s2"),
            )
            # per_x is ≤ k rows (grouped by member) — broadcast the BUILD
            # (right) side of this left join; memdf must stay preserved.
            basedf = memdf.join(
                F.broadcast(per_x), memdf.x == per_x.arg1, "left"
            ).select(
                "x",
                (
                    F.lit(t_sum)
                    - F.coalesce("s1", zero)
                    + F.coalesce("s2", zero)
                ).alias("base"),
            )
            # Explicit aliases: per_u and per_ux share lineage (both are
            # aggregations of j), so an unaliased per_ux.u == per_u.u
            # resolves through Spark's self-join disambiguation as a
            # "trivially true" predicate warning — and is one plan change
            # away from becoming a filter-less join. Qualify both sides.
            pu = per_u.alias("pu")
            pux = per_ux.alias("pux")
            pairs = (
                basedf.crossJoin(pu)
                .join(
                    pux,
                    (F.col("pux.u") == F.col("pu.u"))
                    & (F.col("pux.arg1") == F.col("x")),
                    "left",
                )
                .select(
                    "x",
                    F.col("pu.u").alias("u"),
                    (
                        F.col("base")
                        - (
                            F.col("pu.red_common")
                            - F.coalesce(F.col("pux.corr1"), zero)
                            + F.coalesce(F.col("pux.corr2"), zero)
                        )
                        + F.coalesce(F.col("pux.add2"), zero)
                        + F.col("pu.add_all")
                    ).alias("far"),
                )
            )
            best = pairs.orderBy(
                F.col("far").asc(), F.col("x").asc(), F.col("u").asc()
            ).first()
            pv.unpersist()
            if best is None or int(best["far"]) >= f0:
                return members, n_swaps, f0
            members = sorted(
                [m for m in members if m != int(best["x"])] + [int(best["u"])]
            )
            assert len(members) == k
            n_swaps += 1
        # max_swaps exhausted: report the current farness
        memdf = F.broadcast(
            local_frame(spark, [(m,) for m in members], "s long")
        )
        f0 = (
            dist.join(memdf, "s", "left_semi")
            .groupBy("id")
            .agg(F.min("dist").alias("m1"))
            .agg(F.sum("m1"))
            .first()[0]
        )
        return members, n_swaps, int(f0 or 0)
    finally:
        dist.unpersist()
