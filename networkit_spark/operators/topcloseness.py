"""Top-k closeness / harmonic closeness with exact pruned search.

Reference semantics: TopCloseness (networkit/cpp/centrality/
TopCloseness.cpp, Bergamini–Borassi–Crescenzi "Computing top-k closeness
centrality faster in unweighted graphs") and TopHarmonicCloseness.cpp —
EXACT top-k nodes, found without running a complete SSSP from every
vertex: per-source farness lower bounds cut sources that provably cannot
enter the top k (NBcut/NBbound, TopCloseness.cpp:182-260).

Distributed reformulation (synchronous supersteps instead of the
reference's per-thread priority queue):

  1. Degree bound seeds the candidate set: a BFS from u meets deg(u)
     vertices at distance 1 and everything else at >= 2, so
     farness(u) >= 2(n-1) - deg(u) (the reference's level-1 cut bound);
     harmonic(u) <= deg(u) + (n-1-deg(u))/2. Only the k + slack most
     promising vertices start a BFS.
  2. ALL active sources run ONE shared frontier DataFrame (s, id) —
     each superstep is a single join + anti-join + count aggregation,
     exactly the multi_source_bfs plan. Per-source running sums
     (farness so far, vertices seen) are O(k + slack) driver state.
  3. After level L a still-running source s has
     farness(s) >= far_L(s) + (L+1) * (n - seen_L(s))     [sound: every
     unseen vertex is at distance > L]. Once k sources have COMPLETED
     their BFS (exact farness), the k-th best completed value is the
     cut threshold — sources whose bound exceeds it leave the frontier
     (the reference's BFScut, TopCloseness.cpp:200-235).
  4. If after the sweep some INACTIVE vertex's degree bound still beats
     the threshold, those vertices are activated and the sweep repeats
     (never happens with adequate slack; guarantees exactness).

Scale: frontier state is bounded by (k + slack) * n in the worst case
but the cut collapses it fast — central vertices finish their BFS in
~diameter supersteps and everything else is cut within a few levels.
The per-level driver collect is k + slack rows (candidate stats), never
data-sized.

Connectivity: standard closeness requires a connected graph
(Closeness.cpp:41-47) — detected from the search itself (a completed
source that saw < n vertices) like closeness_centrality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, truncate
from networkit_spark.session import local_frame


def _degree_bounds(graph: Graph, n: int, harmonic: bool) -> DataFrame:
    deg = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.countDistinct("dst").alias("deg"))
    )
    deg = graph.vertices().join(deg, "id", "left").fillna(0, ["deg"])
    if harmonic:
        # upper bound on the harmonic sum — larger is more promising
        return deg.select(
            "id", (F.col("deg") + (F.lit(n - 1) - F.col("deg")) / 2.0).alias("bound")
        )
    # lower bound on farness — smaller is more promising
    return deg.select(
        "id", (F.lit(2.0 * (n - 1)) - F.col("deg")).alias("bound")
    )


def top_closeness(
    graph: Graph, k: int = 10, harmonic: bool = False, slack: int | None = None
) -> DataFrame:
    """(id, score) of the exact top-k vertices; score = 1/farness
    (standard) or sum of 1/d (harmonic), ties broken by ascending id on
    the score ROUNDED to 9 decimals (both engines order identically)."""
    spark = graph.edges.sparkSession
    n = graph.num_vertices()
    k = min(k, n)
    if slack is None:
        slack = max(k, 16)
    sym = graph.symmetrized_edges().select("src", "dst")
    if graph.directed:
        sym = graph.edges.select("src", "dst")
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)

    bounds = _degree_bounds(graph, n, harmonic).persist(StorageLevel.MEMORY_AND_DISK)
    order = [F.col("bound").desc() if harmonic else F.col("bound").asc(),
             F.col("id").asc()]
    tried: set[int] = set()
    exact: dict[int, float] = {}   # source -> exact farness / harmonic sum
    better = (lambda a, b: a > b) if harmonic else (lambda a, b: a < b)

    def threshold() -> float | None:
        if len(exact) < k:
            return None
        vals = sorted(exact.values(), reverse=harmonic)
        return vals[k - 1]

    while True:
        thr = threshold()
        cand_q = bounds.filter(~F.col("id").isin(list(tried)) if tried else F.lit(True))
        if thr is not None:
            # non-strict: a bound equal to the threshold can still tie the
            # kth place and win on the id tie-break
            keep = F.col("bound") >= thr if harmonic else F.col("bound") <= thr
            cand_q = cand_q.filter(keep)
        cand = [r["id"] for r in cand_q.orderBy(*order).limit(k + slack).collect()]
        if not cand:
            break
        tried.update(cand)
        _sweep(spark, sym, cand, n, harmonic, exact, threshold, better)

    sym.unpersist()
    bounds.unpersist()

    if harmonic:
        rows = [(s, float(v)) for s, v in exact.items()]
        df = local_frame(spark, rows, "id long, score double")
        return (
            df.withColumn("score", F.round("score", 9))
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k)
        )
    rows = [(s, float(v)) for s, v in exact.items()]
    df = local_frame(spark, rows, "id long, far double")
    return (
        df.orderBy(F.col("far").asc(), F.col("id").asc())
        .limit(k)
        .select("id", F.round(1.0 / F.col("far"), 9).alias("score"))
    )


def _sweep(spark, sym, cand, n, harmonic, exact, threshold, better):
    """One synchronous multi-source BFS over `cand`, cutting by bound."""
    ckpt = Checkpointer(spark, None, algorithm="topcloseness")
    seed = local_frame(spark, [(int(s),) for s in cand], "s long")
    visited = truncate(seed.select("s", F.col("s").alias("id")))
    frontier = visited
    stats = {int(s): [0.0, 1] for s in cand}  # s -> [sum, seen] (self seen)
    level = 0
    while True:
        level += 1
        nxt = (
            frontier.join(sym, frontier.id == sym.src)
            .select("s", F.col("dst").alias("id"))
            .distinct()
            .join(visited, ["s", "id"], "left_anti")
        )
        nxt = ckpt.save(nxt, level, None)
        counts = {r["s"]: r["c"] for r in
                  nxt.groupBy("s").agg(F.count("*").alias("c")).collect()}
        done = []
        for s in list(stats):
            c = counts.get(s, 0)
            if c == 0:
                far, seen = stats.pop(s)
                if not harmonic and seen < n:
                    raise ValueError(
                        "standard top-closeness is undefined on "
                        "disconnected graphs (Closeness.cpp:41-47)"
                    )
                exact[s] = far
                done.append(s)
                continue
            stats[s][0] += (1.0 / level if harmonic else float(level)) * c
            stats[s][1] += c
        thr = threshold()
        cut = []
        if thr is not None:
            for s, (val, seen) in list(stats.items()):
                bound = (val + (n - seen) / (level + 1.0)) if harmonic \
                    else (val + (level + 1.0) * (n - seen))
                if not better(bound, thr) and bound != thr:
                    # bound can't beat the kth best -> cut
                    stats.pop(s)
                    cut.append(s)
        if not stats:
            break
        drop = set(done) | set(cut)
        if drop:
            nxt = nxt.filter(~F.col("s").isin([int(x) for x in drop]))
        visited = truncate(
            visited.unionByName(nxt).filter(
                ~F.col("s").isin([int(x) for x in drop]) if drop else F.lit(True)
            ),
            release=visited,
        )
        frontier = nxt
    ckpt.close()
