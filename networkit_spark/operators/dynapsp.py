"""Dynamic all-pairs shortest paths (DynAPSP) — batch edge-insertion
repair of the (s, t, dist) distance table.

Reference (networkit/cpp/distance/DynAPSP.cpp):
- run() (:30-42): one SSSP per node — the engine's `apsp` operator is
  the same fixed point (apsp_state below).
- update() (:62-155): edge insertions and weight DECREASES only; any
  other event type throws (:68-72). The repair finds the affected
  source cone via a reverse BFS from u (sources s with
  d(s,u) + w < d(s,v), :80-105) and the affected sink cone via a
  forward DFS from v (sinks t with d(v,t) + w < d(u,t), :110-152),
  updating d(s,t) = d(s,u) + w + d(v,t) over the cone product.
- updateBatch() (:157-161): per-event sequential application; the
  contract (DynAPSPGTest) is distances == a fresh run on the edited
  graph.

Spark-native substitution — the per-node queue walk becomes relational
cone algebra over the distance table, iterated to the fixed point:

    For the inserted-edge set E+ (u, v, w):
      src_cone(e)  = { (s, d(s,u)) }  — one filtered projection of the
                     state (rows with t = u), joined to the tiny E+
      sink_cone(e) = { (t, d(v,t)) }  — rows with s = v
      cand(s, t)   = d(s,u) + w + d(v,t)   (join src_cone ⋈ sink_cone
                     on the edge id — the reference's cone product)
      state'       = min-merge(state, cand), keeping new (s,t) pairs
                     (new reachability) and improved ones

    One pass is exact for a SINGLE insertion (the reference's update());
    a BATCH may route a shortest path through several inserted edges,
    so the pass repeats until no row improves — round k incorporates
    paths using k inserted edges, so rounds ≤ |E+| and in practice 1-2.
    The fixed point satisfies d(s,t) ≤ d(s,u) + w + d(v,t) for every
    inserted edge with both cone legs present, plus d = old-graph
    distances where no inserted edge helps — i.e. fresh-run distances
    (the updateBatch contract), independent of event order.

Scale shape: the big (s,t)-keyed table is touched by ONE equi-join +
min-merge per round; the cone legs are single-column filters of the
state (broadcastable against the tiny batch). No per-pair driver work,
no full n² product — candidates are exactly |src_cone| × |sink_cone|
per edge, the same work the reference's phase 1/2 does. APSP state is
inherently O(n²) rows; web-scale callers hold it only for sampled
source sets (the SPSP cutover documented in operators/apsp.py) — the
repair algebra carries over to a restricted source set PROVIDED the
set contains every inserted edge's head (both endpoints when
undirected): the sink leg reads d(head, ·) rows. update_apsp checks
this and raises rather than silently under-repairing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.apsp import apsp
from networkit_spark.plans.iterative import materialize, truncate


def apsp_state(graph: Graph, sources: DataFrame | None = None) -> DataFrame:
    """(s, t, dist) fresh distance table (DynAPSP::run, APSP.cpp:19-40).
    dist is DOUBLE path weight on weighted graphs, BIGINT hops
    otherwise; unreached pairs are absent (the reference's infinity)."""
    return apsp(graph, sources).select(
        "s", F.col("id").alias("t"), "dist"
    )


def _insert_edges(graph: Graph, added: DataFrame) -> tuple[Graph, DataFrame]:
    """Edited graph + the effective per-arc batch (src, dst, weight),
    orientation-expanded for undirected graphs and min-merged against
    existing arcs (an insertion that does not lower the arc weight is a
    no-op, mirroring the `weightuv < distances[u][v]` guard)."""
    w_default = F.lit(1.0)
    add = added.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        (F.col("weight") if "weight" in added.columns else w_default)
        .cast("double")
        .alias("weight"),
    )
    if not graph.directed:
        add = add.unionByName(
            add.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
    add = add.groupBy("src", "dst").agg(F.min("weight").alias("weight"))
    new_edges = (
        graph.edges.select("src", "dst", "weight")
        .unionByName(add)
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )
    new_graph = Graph.from_edges(
        new_edges,
        directed=graph.directed,
        weighted=graph.weighted,
        vertices=graph.vertices(),
        already_symmetrized=True,
    )
    return new_graph, add


def update_apsp(
    graph: Graph,
    state: DataFrame,
    added: DataFrame,
    max_rounds: int | None = None,
) -> tuple[Graph, DataFrame]:
    """Apply an insertion batch (DataFrame of (src, dst[, weight])) and
    repair `state` — returns (new_graph, new_state) with new_state equal
    to a fresh apsp_state on the edited graph (the DynAPSP::updateBatch
    contract, DynAPSP.cpp:157-161).

    Only insertions / weight decreases are supported — the reference
    update() throws on every other event type (DynAPSP.cpp:68-72); use
    a fresh `apsp_state` after deletions."""
    spark = graph.edges.sparkSession
    new_graph, add = _insert_edges(graph, added)

    batch = add.withColumn("eid", F.monotonically_increasing_id()).persist()
    n_edges = batch.count()
    if n_edges == 0:
        batch.unpersist()
        return new_graph, state

    is_hops = dict(state.dtypes).get("dist") == "bigint"
    if is_hops and not graph.weighted:
        # hop metric: inserted arcs count 1 regardless of carried weight
        batch = batch.withColumn("weight", F.lit(1).cast("bigint"))

    state = truncate(state.select("s", "t", "dist"))

    # Restricted/SPSP states must cover every inserted-edge head as a
    # source — the sink leg reads d(head, ·). Full-APSP states satisfy
    # this by construction (every vertex has its d(v, v) = 0 row).
    uncovered = (
        batch.select(F.col("dst").alias("s"))
        .distinct()
        .join(state.select("s").distinct(), "s", "left_anti")
        .limit(1)
        .count()
    )
    if uncovered:
        batch.unpersist()
        raise ValueError(
            "APSP state does not cover every inserted-edge head as a "
            "source; restricted (SPSP-style) states must include both "
            "endpoints of each inserted edge in the source set"
        )

    cap = max_rounds if max_rounds is not None else n_edges + 1
    rounds = 0
    while True:
        rounds += 1
        if rounds > cap:
            raise RuntimeError(
                "DynAPSP repair did not quiesce — inserted-edge weights "
                "must be non-negative"
            )
        # cone legs: one filtered projection of the state per side,
        # joined against the (tiny, broadcast) batch
        src_leg = state.join(
            F.broadcast(batch.select(F.col("src").alias("t"), "eid", "weight")),
            "t",
        ).select("eid", "s", (F.col("dist") + F.col("weight")).alias("d_su_w"))
        sink_leg = state.join(
            F.broadcast(batch.select(F.col("dst").alias("s"), "eid")), "s"
        ).select("eid", F.col("t"), F.col("dist").alias("d_vt"))
        cand = (
            src_leg.join(sink_leg, "eid")
            .select("s", "t", (F.col("d_su_w") + F.col("d_vt")).alias("dist"))
            .filter(F.col("s") != F.col("t"))
            .groupBy("s", "t")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(
                state.select("s", "t", F.col("dist").alias("old")),
                ["s", "t"],
                "left",
            )
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("s", "t", "dist")
        )
        improved, seen = materialize(improved)
        if seen["rows"] == 0:
            improved.unpersist()
            break
        merged = (
            state.unionByName(improved)
            .groupBy("s", "t")
            .agg(F.min("dist").alias("dist"))
        )
        state = truncate(merged, release=state)
        improved.unpersist()
    batch.unpersist()
    return new_graph, state
