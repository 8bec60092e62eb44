"""All-pairs / subset-pairs / point-to-point shortest paths.

Reference surface (networkit/cpp/distance/):
- APSP.cpp:19-40: one SSSP per node (BFS when unweighted, Dijkstra when
  weighted), distances[source][target]; unreached = infinity.
- SPSP.cpp:22-31 + SPSP.hpp: SSSP from every node of `sources`,
  restricted to `targets` when given (runWithTargets uses per-pair STSP;
  the distance contract is identical).
- MultiTargetBFS.cpp / MultiTargetDijkstra.cpp: one source, distances to
  an explicit target set only.
- GraphDistance.cpp: single (u, v) hop/weight distance.
- BidirectionalBFS.cpp:14-120: two level-synchronous balls, expanding
  the side with the smaller frontier; on a directed graph the target
  ball grows over IN-edges; distance = level sum when the balls meet.

Spark shapes:
- Unweighted: ONE frontier DataFrame keyed by (s, id) runs every
  source's BFS simultaneously (the BFS level kernel,
  operators/distances._bfs_levels) — supersteps = eccentricity bound,
  rows per shuffle scale with |S|.
- Weighted: multi-source Bellman-Ford on the same (s, id) state — per
  superstep one arcs join + (s, id) min-aggregation (map-side partial),
  frontier = strictly-improved rows only, so settled subtrees drop out
  of the shuffle exactly like the reference's Dijkstra settles them.
  That round is `_relax`, the one weighted kernel: every Dijkstra-parity
  search here (multi-target, ball, bidirectional) is a loop over it.
  Converges in ≤ (max hop count of a min-weight path) supersteps; a
  negative cycle reachable from a source never quiesces, so a round that
  still improves once there are no more reached vertices than rounds
  raises (the reference's Dijkstra forbids negative weights outright).
- BidirectionalBFS keeps both balls as DataFrames and expands the
  smaller frontier per superstep; the meeting test is one inner join.
  Exactness: with completed levels (i, j) and best meeting value mu =
  min ds+dt over the discovered intersection, every s-t path of length
  d <= i + j has its position-i node in BOTH balls, so d >= mu; the
  loop stops only once i + j + 1 >= mu (or a frontier empties).
- APSP output is inherently O(n^2): callers at web scale pass a sampled
  source set (SPSP) — the same cutover as distances._all_sources.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import _all_sources, _bfs_step, multi_source_bfs
from networkit_spark.plans.iterative import materialize, truncate, unpersist
from networkit_spark.session import local_frame


def _source_df(graph: Graph, sources) -> DataFrame:
    if sources is None:
        return _all_sources(graph)
    if isinstance(sources, DataFrame):
        return sources.select(F.col("s").cast("long").alias("s")).distinct()
    spark = graph.edges.sparkSession
    return local_frame(spark, [(int(s),) for s in sources], "s long")


def _weighted_arcs(graph: Graph) -> DataFrame:
    """(src, dst, weight) arcs in traversal direction — undirected
    Graph.edges already stores BOTH orientations (graph._symmetrize at
    construction), so this is a plain projection either way."""
    return graph.edges.select("src", "dst", "weight")


def _relax(arcs: DataFrame, frontier: DataFrame, state: DataFrame,
           keys=(), keep: Column | None = None) -> tuple[DataFrame, DataFrame, dict]:
    """One weighted relaxation round: the frontier's (*keys, id, dist) rows
    relaxed over `arcs(src, dst, weight)`, min-aggregated on (*keys, id)
    and filtered by `keep` (a bound on the candidate dist), keep the rows
    that improve `state`. Those rows are materialized by one action,
    whose record carries their `rows` and `fmin` = min(dist), then merged
    into `state` (a second action, only when there are any; the record
    then also carries the merged state's `reached` rows). Returns
    (improved, state, record); improved is the next frontier."""
    keys = list(keys)
    cand = (
        frontier.join(arcs, frontier.id == arcs.src)
        .select(*keys, F.col("dst").alias("id"),
                (frontier.dist + arcs.weight).alias("dist"))
        .groupBy(*keys, "id")
        .agg(F.min("dist").alias("dist"))
    )
    if keep is not None:
        cand = cand.filter(keep)
    improved = (
        cand.join(state.select(*keys, "id", F.col("dist").alias("old")),
                  [*keys, "id"], "left")
        .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
        .select(*keys, "id", "dist")
    )
    improved, seen = materialize(improved, {"fmin": F.min("dist")}, release=frontier)
    if seen["rows"]:
        merged = (
            state.unionByName(improved)
            .groupBy(*keys, "id")
            .agg(F.min("dist").alias("dist"))
        )
        state, kept = materialize(merged, release=state)
        seen["reached"] = kept["rows"]
    return improved, state, seen


def multi_source_bellman_ford(
    graph: Graph, sources: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """(s, id, dist) weighted shortest-path distances from every source
    — the Dijkstra-parity path of APSP/SPSP (identical fixed point; the
    reference's own BFS/Dijkstra swap is the same substitution).
    `max_rounds` stops early, with every distance the shortest over paths
    of at most that many arcs.

    Without it, raises on a reachable negative cycle: with none, a row
    that improves in round k ends a k-arc simple path, so k + 1 of its
    source's vertices are reached; round k improving while at most k
    (s, id) rows are reached can only come from a negative cycle (the
    reference's Dijkstra forbids negative weights outright)."""
    arcs = _weighted_arcs(graph).persist(StorageLevel.MEMORY_AND_DISK)
    state = truncate(
        sources.select("s", F.col("s").alias("id"), F.lit(0.0).alias("dist"))
    )
    frontier = state
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        rounds += 1
        frontier, state, seen = _relax(arcs, frontier, state, keys=("s",))
        if seen["rows"] == 0:
            break
        if max_rounds is None and rounds >= seen["reached"]:
            unpersist(frontier, arcs)
            raise ValueError(
                "no quiescence — negative cycle reachable from a source "
                "(FloydWarshall handles those; Dijkstra semantics forbid them)"
            )
    unpersist(frontier, arcs)
    return state


def apsp(graph: Graph, sources: DataFrame | None = None) -> DataFrame:
    """(s, id, dist) — APSP.cpp's distance matrix as a long table
    (unreached pairs absent = the reference's infinity). `sources`
    restricts the rows computed (the SPSP.cpp contract); dist is BIGINT
    hops on unweighted graphs, DOUBLE path weight on weighted ones."""
    srcs = _source_df(graph, sources)
    if graph.weighted:
        return multi_source_bellman_ford(graph, srcs)
    return multi_source_bfs(graph, srcs)


def spsp(
    graph: Graph, sources, targets=None
) -> DataFrame:
    """SPSP.cpp: distances from `sources`, restricted to `targets` when
    given. Sources/targets accept iterables of ids or DataFrames
    (columns s / t)."""
    dists = apsp(graph, _source_df(graph, sources))
    if targets is None:
        return dists
    if isinstance(targets, DataFrame):
        t = targets.select(F.col("t").cast("long").alias("id")).distinct()
    else:
        spark = graph.edges.sparkSession
        t = local_frame(spark, [(int(x),) for x in targets], "id long")
    return dists.join(F.broadcast(t), "id", "left_semi")


def multi_target_bfs(graph: Graph, source: int, targets) -> DataFrame:
    """MultiTargetBFS.cpp (and MultiTargetDijkstra when weighted):
    (id, dist) for the target set only, with the reference's early
    termination (`targetsVisited == targets.size()` stops the search,
    MultiTargetBFS.cpp:24-43) lifted to the batched form: once every
    target is reached AND the cheapest frontier row is no cheaper than
    the most expensive target distance, no target can still improve
    (any improving path passes through a strictly cheaper, still-open
    frontier node — positive weights), so the superstep loop stops
    without draining the rest of the graph. At web scale that bounds
    the ball to the targets' radius instead of the component."""
    spark = graph.edges.sparkSession
    if isinstance(targets, DataFrame):
        tgt = targets.select(F.col("t").cast("long").alias("id")).distinct()
    else:
        tgt = local_frame(spark, [(int(x),) for x in targets], "id long")
    tgt = tgt.persist(StorageLevel.MEMORY_AND_DISK)
    n_targets = tgt.count()

    arcs = _weighted_arcs(graph) if graph.weighted else (
        graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    )
    arcs = arcs.persist(StorageLevel.MEMORY_AND_DISK)

    state = truncate(
        local_frame(spark, [(int(source), 0.0)], "id long, dist double")
    )
    frontier = state
    while True:
        frontier, state, seen = _relax(arcs, frontier, state)
        if seen["rows"] == 0:
            break
        # early termination on the target set
        hit = state.join(F.broadcast(tgt), "id", "left_semi")
        agg = hit.agg(
            F.count(F.lit(1)).alias("k"), F.max("dist").alias("tmax")
        ).first()
        if agg["k"] == n_targets and seen["fmin"] >= agg["tmax"]:
            break
    out = (
        state.join(F.broadcast(tgt), "id", "left_semi")
        .select(
            "id",
            F.col("dist").cast("long" if not graph.weighted else "double")
            .alias("dist"),
        )
    )
    out = truncate(out)
    unpersist(state, frontier, arcs, tgt)
    return out


def graph_distance(graph: Graph, u: int, v: int) -> float | None:
    """GraphDistance.cpp weight(u, v): hop distance (BFS) or path weight
    (Dijkstra-parity); None when unreachable (reference: infinity)."""
    row = (
        apsp(graph, [u])
        .filter(F.col("id") == v)
        .select("dist")
        .first()
    )
    return None if row is None else float(row[0])


def bidirectional_bfs(graph: Graph, source: int, target: int) -> int | None:
    """BidirectionalBFS.cpp hop distance: grow a ball from the source
    over out-edges and one from the target over in-edges, always
    expanding the smaller frontier; stop once completed levels prove the
    best discovered meeting exact (module docstring). None when
    disconnected (the reference leaves distance at its infinity
    sentinel)."""
    if source == target:
        return 0
    spark = graph.edges.sparkSession
    out_arcs = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    in_arcs = (
        out_arcs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if graph.directed else out_arcs
    )

    def _ball(node):
        return local_frame(spark, [(int(node), 0)], "id long, dist long")

    vis = {"s": _ball(source), "t": _ball(target)}
    fsize = {"s": 1, "t": 1}
    done = {"s": 0, "t": 0}  # completed levels per side
    arcs_of = {"s": out_arcs, "t": in_arcs}
    best = None
    while True:
        # exact once no path shorter than the discovered meeting exists
        if best is not None and done["s"] + done["t"] + 1 >= best:
            break
        side = "s" if fsize["s"] <= fsize["t"] else "t"
        if fsize[side] == 0:
            side = "t" if side == "s" else "s"
            if fsize[side] == 0:
                break
        other = "t" if side == "s" else "s"
        done[side] += 1
        vis[side], fsize[side] = _bfs_step(arcs_of[side], vis[side], done[side])
        meet = (
            vis[side].filter(F.col("dist") == done[side])
            .select("id", F.col("dist").alias("d1"))
            .join(vis[other].select("id", F.col("dist").alias("d2")), "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("mu"))
            .first()[0]
        )
        if meet is not None:
            best = meet if best is None else min(best, meet)
    unpersist(vis["s"], vis["t"], out_arcs)
    return None if best is None else int(best)


def dijkstra_within(
    graph: Graph,
    sources,
    radius: float | None = None,
    excluded: DataFrame | None = None,
) -> DataFrame:
    """IncompleteDijkstra.cpp:15-70 as a batched ball query: (id, dist)
    weighted distances from the source SET, never entering `excluded`
    nodes (the constructor's explored filter — excluded sources are
    dropped, excluded neighbors never relaxed) and, when `radius` is
    given, truncated to dist ≤ radius (the reference is consumed
    lazily via next() until the caller's distance bound; the batch form
    prunes frontier rows past the bound instead — every settled value ≤
    radius is identical). Per superstep one `_relax` round, bounded by
    the radius, over arcs that skip `excluded`."""
    spark = graph.edges.sparkSession
    if isinstance(sources, DataFrame):
        src = sources.select(F.col("s").cast("long").alias("id")).distinct()
    else:
        src = local_frame(spark, [(int(s),) for s in sources], "id long")
    if excluded is not None:
        excl = excluded.select(F.col("id").cast("long")).distinct()
        excl = excl.persist(StorageLevel.MEMORY_AND_DISK)
        src = src.join(excl, "id", "left_anti")
    arcs = _weighted_arcs(graph)
    if excluded is not None:
        arcs = arcs.join(
            excl.withColumnRenamed("id", "dst"), "dst", "left_anti"
        ).join(excl.withColumnRenamed("id", "src"), "src", "left_anti")
    arcs = arcs.persist(StorageLevel.MEMORY_AND_DISK)

    state = truncate(src.select("id", F.lit(0.0).alias("dist")))
    frontier = state
    keep = None if radius is None else F.col("dist") <= F.lit(float(radius))
    while True:
        frontier, state, seen = _relax(arcs, frontier, state, keep=keep)
        if seen["rows"] == 0:
            break
    unpersist(frontier, arcs)
    if excluded is not None:
        excl.unpersist()
    return state


def bidirectional_dijkstra(
    graph: Graph, source: int, target: int
) -> float | None:
    """BidirectionalDijkstra.cpp point-to-point weighted distance: grow
    a forward ball from the source and a backward ball from the target
    (over IN-edges when directed), always relaxing the smaller frontier.

    The reference (BidirectionalDijkstra.cpp:14-123) settles one heap
    node per step and stops when a settled node lands in the other
    ball, taking min(d1+d2) over the stab set. The batched form relaxes
    a WHOLE frontier per superstep (one `_relax` round per side, bounded
    by dist < best) and keeps the running meeting
    value best = min over discovered id of d1(id) + d2(id). Exactness:
    weights must be positive (Dijkstra's own precondition), so a node
    whose tentative one-sided distance is already >= best can never lie
    on a path shorter than best — those rows are pruned from the
    frontier, and when both frontiers quiesce the remaining best IS the
    s-t distance (any strictly-shorter path would still contain an
    improvable, unpruned node). None when the balls never meet
    (reference: infinity sentinel).
    """
    if source == target:
        return 0.0
    spark = graph.edges.sparkSession
    out_arcs = _weighted_arcs(graph).persist(StorageLevel.MEMORY_AND_DISK)
    in_arcs = (
        out_arcs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        if graph.directed else out_arcs
    )

    def _ball(node):
        return truncate(
            local_frame(spark, [(int(node), 0.0)], "id long, dist double")
        )

    state = {"s": _ball(source), "t": _ball(target)}
    frontier = dict(state)
    fsize = {"s": 1, "t": 1}
    arcs_of = {"s": out_arcs, "t": in_arcs}
    best: float | None = None
    while fsize["s"] > 0 or fsize["t"] > 0:
        side = "s" if fsize["s"] <= fsize["t"] else "t"
        if fsize[side] == 0:
            side = "t" if side == "s" else "s"
        keep = None if best is None else F.col("dist") < F.lit(best)
        frontier[side], state[side], seen = _relax(
            arcs_of[side], frontier[side], state[side], keep=keep
        )
        fsize[side] = seen["rows"]
        if fsize[side] == 0:
            continue
        meet = (
            state["s"].select("id", F.col("dist").alias("d1"))
            .join(state["t"].select("id", F.col("dist").alias("d2")), "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("mu"))
            .first()[0]
        )
        if meet is not None:
            best = float(meet) if best is None else min(best, float(meet))
    unpersist(state["s"], state["t"], frontier["s"], frontier["t"], out_arcs)
    return best


def reverse_bfs(graph: Graph, source: int) -> DataFrame:
    """(id, dist) — ReverseBFS.cpp: BFS over IN-edges (hop distance TO
    the source). On undirected graphs identical to BFS; on directed
    graphs one transpose projection feeds the same batched frontier
    kernel."""
    if not graph.directed:
        return apsp(graph, [source]).select("id", "dist")
    from networkit_spark.graph import Graph as _G

    t = _G.from_edges(
        graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        ),
        directed=True,
        vertices=graph.vertices(),
    )
    return apsp(t, [source]).select("id", "dist")
