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
  source's BFS simultaneously (operators/distances.multi_source_bfs) —
  supersteps = eccentricity bound, rows per shuffle scale with |S|.
- Weighted: multi-source Bellman-Ford on the same (s, id) state — per
  superstep one arcs join + (s, id) min-aggregation (map-side partial),
  frontier = strictly-improved rows only, so settled subtrees drop out
  of the shuffle exactly like the reference's Dijkstra settles them.
  Converges in ≤ (max hop count of a min-weight path) supersteps; a
  negative cycle reachable from a source never quiesces, so the n-round
  cap raises (the reference's Dijkstra forbids negative weights
  outright).
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

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import multi_source_bfs, _all_sources
from networkit_spark.plans.iterative import materialize, truncate
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


def multi_source_bellman_ford(
    graph: Graph, sources: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """(s, id, dist) weighted shortest-path distances from every source
    — the Dijkstra-parity path of APSP/SPSP (identical fixed point; the
    reference's own BFS/Dijkstra swap is the same substitution). Raises
    on a reachable negative cycle (no quiescence within n rounds)."""
    arcs = _weighted_arcs(graph).persist(StorageLevel.MEMORY_AND_DISK)
    arcs.count()
    n = graph.num_vertices()
    cap = max_rounds if max_rounds is not None else n + 1

    state = truncate(
        sources.select("s", F.col("s").alias("id"), F.lit(0.0).alias("dist"))
    )
    frontier = state
    rounds = 0
    while True:
        rounds += 1
        if rounds > cap:
            arcs.unpersist()
            if max_rounds is None:
                raise ValueError(
                    "no quiescence after n rounds — negative cycle reachable "
                    "from a source (FloydWarshall handles those; Dijkstra "
                    "semantics forbid them)"
                )
            break
        cand = (
            frontier.join(arcs, frontier.id == arcs.src)
            .select("s", F.col("dst").alias("id"),
                    (frontier.dist + arcs.weight).alias("dist"))
            .groupBy("s", "id")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(
                state.select("s", "id", F.col("dist").alias("old")),
                ["s", "id"], "left",
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("s", "id", "dist")
        )
        improved, seen = materialize(improved, release=frontier)
        if seen["rows"] == 0:
            improved.unpersist()
            break
        merged = (
            state.unionByName(improved)
            .groupBy("s", "id")
            .agg(F.min("dist").alias("dist"))
        )
        state = truncate(merged, release=state)
        frontier = improved
    arcs.unpersist()
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
    arcs.count()

    state = truncate(
        local_frame(spark, [(int(source), 0.0)], "id long, dist double")
    )
    frontier = state
    while True:
        cand = (
            frontier.join(arcs, frontier.id == arcs.src)
            .select(F.col("dst").alias("id"),
                    (frontier.dist + arcs.weight).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(
                state.select("id", F.col("dist").alias("old")), "id", "left"
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("id", "dist")
        )
        improved, seen = materialize(improved, release=frontier)
        if seen["rows"] == 0:
            improved.unpersist()
            break
        state = truncate(
            state.unionByName(improved).groupBy("id")
            .agg(F.min("dist").alias("dist")),
            release=state,
        )
        frontier = improved
        # early termination on the target set
        hit = state.join(F.broadcast(tgt), "id", "left_semi")
        agg = hit.agg(
            F.count(F.lit(1)).alias("k"), F.max("dist").alias("tmax")
        ).first()
        if agg["k"] == n_targets:
            fmin = frontier.agg(F.min("dist")).first()[0]
            if fmin is None or fmin >= agg["tmax"]:
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
    for df in (state, frontier):
        try:
            df.unpersist()
        except Exception:
            pass
    arcs.unpersist()
    tgt.unpersist()
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
    out_arcs = (
        graph.edges.select("src", "dst") if graph.directed
        else graph.symmetrized_edges().select("src", "dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out_arcs.count()
    in_arcs = (
        out_arcs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if graph.directed else out_arcs
    )

    def _ball(node):
        return truncate(
            local_frame(spark, [(int(node), 0)], "id long, d int")
        )

    vis = {"s": _ball(source), "t": _ball(target)}
    frontier = {"s": vis["s"], "t": vis["t"]}
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
        d = done[side] + 1
        nxt = (
            frontier[side].join(arcs_of[side], frontier[side].id == arcs_of[side].src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(vis[side].select("id"), "id", "left_anti")
            .withColumn("d", F.lit(d).cast("int"))
        )
        nxt = truncate(nxt, release=frontier[side])
        done[side] = d
        fsize[side] = nxt.count()
        vis[side] = truncate(vis[side].unionByName(nxt), release=vis[side])
        frontier[side] = nxt
        meet = (
            vis[side].select("id", F.col("d").alias("d1"))
            .join(vis[other].select("id", F.col("d").alias("d2")), "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("mu"))
            .first()[0]
        )
        if meet is not None:
            best = meet if best is None else min(best, meet)
    for df in (vis["s"], vis["t"], frontier["s"], frontier["t"]):
        try:
            df.unpersist()
        except Exception:
            pass
    out_arcs.unpersist()
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
    radius is identical). Per superstep one arcs join + min-agg, the
    multi_source_bellman_ford step with two extra pushed-down filters."""
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
    arcs.count()

    state = truncate(src.select("id", F.lit(0.0).alias("dist")))
    frontier = state
    while True:
        cand = (
            frontier.join(arcs, frontier.id == arcs.src)
            .select(F.col("dst").alias("id"),
                    (frontier.dist + arcs.weight).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        if radius is not None:
            cand = cand.filter(F.col("dist") <= F.lit(float(radius)))
        improved = (
            cand.join(
                state.select("id", F.col("dist").alias("old")), "id", "left"
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("id", "dist")
        )
        improved, seen = materialize(improved, release=frontier)
        if seen["rows"] == 0:
            improved.unpersist()
            break
        state = truncate(
            state.unionByName(improved).groupBy("id")
            .agg(F.min("dist").alias("dist")),
            release=state,
        )
        frontier = improved
    arcs.unpersist()
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
    a WHOLE frontier per superstep (one arcs join + min-agg per side,
    the multi_source_bellman_ford step) and keeps the running meeting
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
    out_arcs.count()
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
        other = "t" if side == "s" else "s"
        cand = (
            frontier[side]
            .join(arcs_of[side], frontier[side].id == arcs_of[side].src)
            .select(
                F.col("dst").alias("id"),
                (frontier[side].dist + arcs_of[side].weight).alias("dist"),
            )
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(
                state[side].select("id", F.col("dist").alias("old")),
                "id", "left",
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("id", "dist")
        )
        if best is not None:
            improved = improved.filter(F.col("dist") < F.lit(best))
        improved = truncate(improved, release=frontier[side])
        fsize[side] = improved.count()
        frontier[side] = improved
        if fsize[side] == 0:
            continue
        merged = (
            state[side].unionByName(improved)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        state[side] = truncate(merged, release=state[side])
        meet = (
            state["s"].select("id", F.col("dist").alias("d1"))
            .join(state["t"].select("id", F.col("dist").alias("d2")), "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("mu"))
            .first()[0]
        )
        if meet is not None:
            best = float(meet) if best is None else min(best, float(meet))
    for df in (state["s"], state["t"], frontier["s"], frontier["t"]):
        try:
            df.unpersist()
        except Exception:
            pass
    out_arcs.unpersist()
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
