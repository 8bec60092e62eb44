"""Dynamic single-source shortest paths (DynBFS / DynDijkstra) —
localized repair of (distance, shortest-path-count) state under edge
insertion/deletion batches.

Reference (networkit/cpp/distance/):
- DynBFS.cpp:20-69 run(): BFS distances + npaths (npaths[v] sums the
  counts of every predecessor at distance[v]-1; SSSP.hpp:168 keeps
  npaths as arbitrary-precision bigfloat);
- DynBFS.cpp:77-170 updateBatch(): affected endpoints enter per-level
  queues (additions seed the lower-distance side's neighbor, deletions
  seed the higher side); levels are processed ascending, each popped
  node re-derives its distance from in-neighbors ("con") and either
  settles (npaths re-summed, successors with dist ≥ m+1 re-enqueued)
  or is deferred/unreached; the post-update state equals a fresh run;
- DynDijkstra.cpp: the weighted twin (same queue discipline keyed by
  path weight).

Spark-native substitution (weight-generic — BFS is the all-ones case):
the reference's per-node queue discipline is replaced by three bulk
phases whose fixed point is provably the fresh-run state:

1. DELETIONS — affected cone A = descendants, in the OLD shortest-path
   DAG, of the deleted edges' downstream endpoints. Any node whose
   distance grows has ALL its old shortest paths broken, and every
   broken path contains a deleted DAG edge, so its suffix is a DAG
   chain from a seed: the cone is a superset of the truly-affected
   set. Nodes outside A keep exact distances, so re-deriving A from
   its boundary (min over in-neighbors outside A of dist + w, then
   relaxation inside A to the fixed point) is exact.
2. ADDITIONS — distances only decrease: standard frontier relaxation
   seeded by the added edges' improved endpoints.
3. NPATHS — recompute counts over the repaired distance table on the
   cone of DAG descendants of every touched node (dist changed, or
   head of an inserted/deleted DAG edge), sweeping distance levels
   ascending: npaths(z) = Σ npaths(y) over in-neighbors with
   dist(y) + w(y,z) = dist(z).

Counts are exact DECIMAL(38,0) (the bigfloat substitution — exact to
10^38, far beyond the tested graphs; documented bound, not silent
overflow: Spark raises on decimal overflow).

Scale: every phase is frontier joins + keyed aggregations sized by the
AFFECTED REGION, not the graph — the point of the dynamic algorithm.
Supersteps = affected-region depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DecimalType
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame

_DEC = DecimalType(38, 0)


def _arcs(graph: Graph) -> DataFrame:
    # undirected Graph.edges already carries BOTH orientations
    # (graph._symmetrize at construction) — never re-symmetrize here
    if graph.weighted:
        return graph.edges.select("src", "dst", "weight")
    return graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))


def _npaths_sweep(arcs: DataFrame, dists: DataFrame, cone: DataFrame,
                  state: DataFrame) -> DataFrame:
    """Recompute npaths on `cone` (id) over fixed `dists` (id, dist),
    keeping `state` (id, dist, npaths) outside the cone. Sweeps the
    cone's distinct distance values ascending — each level is one
    in-neighbor join + sum, so counts are exact at every step."""
    keep = state.join(cone, "id", "left_anti")
    levels = [
        r[0]
        for r in dists.join(cone, "id", "left_semi")
        .select("dist").distinct().orderBy("dist").collect()
    ]
    np_tab = keep.select("id", "npaths").unionByName(
        dists.join(cone, "id", "left_semi")
        .select("id", F.lit(None).cast(_DEC).alias("npaths"))
    )
    np_tab = truncate(np_tab)
    d_in = dists.select(F.col("id").alias("src"), F.col("dist").alias("d_src"))
    for lv in levels:
        tgt = dists.join(cone, "id", "left_semi").filter(F.col("dist") == lv)
        summed = (
            tgt.join(arcs, tgt.id == arcs.dst)
            .join(d_in, "src")
            .filter(F.col("d_src") + F.col("weight") == F.col("dist"))
            .join(np_tab.select(F.col("id").alias("src"),
                                F.col("npaths").alias("np_src")), "src")
            .groupBy("id")
            .agg(F.sum("np_src").cast(_DEC).alias("np_new"))
        )
        np_tab = truncate(
            np_tab.join(summed, "id", "left").select(
                "id", F.coalesce("np_new", "npaths").alias("npaths")
            ),
            release=np_tab,
        )
    out = dists.join(np_tab, "id").select("id", "dist", "npaths")
    return out


def sssp_state(graph: Graph, source: int) -> DataFrame:
    """Fresh run: (id, dist DOUBLE, npaths DECIMAL(38,0)) for reached
    nodes (unreached absent — the reference's infDist / npaths 0)."""
    from networkit_spark.operators.apsp import (
        multi_source_bellman_ford,
    )
    from networkit_spark.operators.distances import multi_source_bfs

    spark = graph.edges.sparkSession
    srcs = local_frame(spark, [(int(source),)], "s long")
    if graph.weighted:
        d = multi_source_bellman_ford(graph, srcs)
    else:
        d = multi_source_bfs(graph, srcs)
    dists = truncate(d.select("id", F.col("dist").cast("double").alias("dist")))
    arcs = _arcs(graph).persist(StorageLevel.MEMORY_AND_DISK)
    seed = dists.select(
        "id", "dist",
        F.when(F.col("id") == source, F.lit(1).cast(_DEC)).alias("npaths"),
    )
    out = truncate(
        _npaths_sweep(
            arcs, dists, dists.filter(F.col("id") != source).select("id"), seed
        )
    )
    arcs.unpersist()
    dists.unpersist()
    return out


def _relax_inside(arcs: DataFrame, fixed: DataFrame, region: DataFrame,
                  seed: DataFrame) -> DataFrame:
    """Fixed-point distance derivation for `region` (id): start from
    `seed` (id, dist — the boundary-derived inits, possibly absent for
    some region nodes) and relax region-internal arcs until stable;
    `fixed` (id, dist) are the settled outside nodes. Returns (id,
    dist) for the REACHED region nodes."""
    cur = truncate(seed)
    while True:
        src_d = cur.unionByName(fixed).select(
            F.col("id").alias("src"), F.col("dist").alias("ds"))
        cand = (
            arcs.join(region.select(F.col("id").alias("dst")), "dst", "left_semi")
            .join(src_d, "src")
            .select(F.col("dst").alias("id"), (F.col("ds") + F.col("weight")).alias("dist"))
            .join(region, "id", "left_semi")
            .groupBy("id").agg(F.min("dist").alias("dist"))
        )
        merged = truncate(
            cur.unionByName(cand).groupBy("id").agg(F.min("dist").alias("dist"))
        )
        changed = (
            merged.join(cur.select("id", F.col("dist").alias("old")), "id", "left")
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .limit(1).count()
        )
        cur.unpersist()
        cur = merged
        if changed == 0:
            break
    return cur


def update_sssp(
    graph: Graph,
    state: DataFrame,
    source: int,
    added: DataFrame | None = None,
    removed: DataFrame | None = None,
) -> tuple[Graph, DataFrame]:
    """Apply an edge batch (DataFrames of (src, dst[, weight])) and
    repair `state` — returns (new_graph, new_state) with new_state
    equal to a fresh sssp_state on the new graph (the DynBFS/
    DynDijkstra updateBatch contract)."""
    spark = graph.edges.sparkSession
    w_lit = F.lit(1.0)
    if removed is not None:
        rm = removed.select("src", "dst")
        if graph.directed:
            cond_rm = ["src", "dst"]
            g1_edges = graph.edges.join(rm, cond_rm, "left_anti")
        else:
            rm2 = rm.unionByName(rm.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst")))
            g1_edges = graph.edges.join(rm2, ["src", "dst"], "left_anti")
    else:
        g1_edges = graph.edges
    if added is not None:
        add = added.select(
            "src", "dst",
            (F.col("weight") if "weight" in added.columns else w_lit).alias("weight"),
        )
        if not graph.directed:
            # keep the stored table symmetric (Graph invariant)
            add = add.unionByName(
                add.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"), "weight"))
        new_edges = g1_edges.select("src", "dst", "weight").unionByName(add) \
            .dropDuplicates(["src", "dst"])
    else:
        new_edges = g1_edges
    new_graph = Graph.from_edges(
        new_edges, directed=graph.directed, weighted=graph.weighted,
        vertices=graph.vertices(), already_symmetrized=True,
    )
    arcs_new = _arcs(new_graph).persist(StorageLevel.MEMORY_AND_DISK)
    arcs_new.count()

    dists = truncate(state.select("id", "dist"))
    d_of = dists.select(F.col("id").alias("x"), F.col("dist").alias("dx"))

    touched = [local_frame(spark, [], "id long")]

    # ---- phase 1: deletions (affected cone + boundary re-derivation)
    if removed is not None:
        rm_arcs = removed.select("src", "dst")
        if not graph.directed:
            rm_arcs = rm_arcs.unionByName(
                rm_arcs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # DAG edges among the removed arcs seed the cone at their head
        old_arcs = _arcs(graph)
        rm_w = rm_arcs.join(old_arcs, ["src", "dst"]).select("src", "dst", "weight")
        seeds = (
            rm_w.join(d_of, rm_w.src == F.col("x"))
            .select("dst", (F.col("dx") + F.col("weight")).alias("via"))
            .join(d_of, F.col("dst") == F.col("x"))
            .filter(F.col("dx") == F.col("via"))
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        # cone = old-DAG descendants of the seeds (old arcs, old dists)
        dag = (
            old_arcs.join(d_of, old_arcs.src == F.col("x"))
            .select("src", "dst", (F.col("dx") + F.col("weight")).alias("via"))
            .join(d_of, F.col("dst") == F.col("x"))
            .filter(F.col("dx") == F.col("via"))
            .select("src", "dst")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cone = truncate(seeds)
        frontier = cone
        while True:
            nxt = (
                frontier.join(dag, frontier.id == dag.src)
                .select(F.col("dst").alias("id")).distinct()
                .join(cone, "id", "left_anti")
            )
            nxt, seen = materialize(nxt)
            if seen["rows"] == 0:
                nxt.unpersist()
                break
            cone = truncate(cone.unionByName(nxt), release=cone)
            frontier = nxt
        dag.unpersist()
        cone = cone.filter(F.col("id") != source)
        fixed = dists.join(cone, "id", "left_anti")
        # boundary-derived inits over the DELETIONS-ONLY arc table. The
        # added arcs must NOT be visible here: if they were, a cone node
        # could absorb an addition's improvement during this phase, and
        # phase 2's seed test ("added edge improves its head?") would
        # then see no improvement and skip the propagation of that
        # better value to nodes OUTSIDE the cone (caught by
        # scripts/fuzz_parity.py dynsssp_w, round 3). Deletions-repair
        # on G∖removed, THEN insertions-relaxation on the full new
        # graph, is the decomposition whose fixed point is exact.
        arcs_del = g1_edges.select("src", "dst", "weight") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        arcs_del.count()
        seed_d = (
            arcs_del.join(cone.select(F.col("id").alias("dst")), "dst", "left_semi")
            .join(fixed.select(F.col("id").alias("src"), F.col("dist").alias("ds")), "src")
            .select(F.col("dst").alias("id"), (F.col("ds") + F.col("weight")).alias("dist"))
            .groupBy("id").agg(F.min("dist").alias("dist"))
        )
        repaired = _relax_inside(arcs_del, fixed, cone, seed_d)
        arcs_del.unpersist()
        dists = truncate(fixed.unionByName(repaired), release=dists)
        touched.append(cone.select("id"))

    # ---- phase 2: additions (monotone relaxation)
    if added is not None:
        d_cur = dists.select(F.col("id").alias("x"), F.col("dist").alias("dx"))
        add_arcs = added.select(
            "src", "dst",
            (F.col("weight") if "weight" in added.columns else w_lit).alias("weight"),
        )
        if not graph.directed:
            add_arcs = add_arcs.unionByName(
                add_arcs.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"), "weight"))
        imp = (
            add_arcs.join(d_cur, add_arcs.src == F.col("x"))
            .select("dst", (F.col("dx") + F.col("weight")).alias("dist"))
            .groupBy("dst").agg(F.min("dist").alias("dist"))
            .withColumnRenamed("dst", "id")
        )
        better = (
            imp.join(dists.select("id", F.col("dist").alias("old")), "id", "left")
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("id", "dist")
        )
        frontier = truncate(better)
        improved_all = [frontier]
        while frontier.limit(1).count() > 0:
            dists = truncate(
                dists.unionByName(frontier).groupBy("id")
                .agg(F.min("dist").alias("dist")),
                release=dists,
            )
            cand = (
                frontier.join(arcs_new, frontier.id == arcs_new.src)
                .select(F.col("dst").alias("id"),
                        (frontier.dist + arcs_new.weight).alias("dist"))
                .groupBy("id").agg(F.min("dist").alias("dist"))
            )
            nxt = (
                cand.join(dists.select("id", F.col("dist").alias("old")), "id", "left")
                .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
                .select("id", "dist")
            )
            frontier = truncate(nxt)
            improved_all.append(frontier)
        touched.extend(df.select("id") for df in improved_all)
        # new-DAG heads of added edges may gain predecessors: their
        # npaths change even when distances do not
        d_fin = dists.select(F.col("id").alias("x"), F.col("dist").alias("dx"))
        add_heads = (
            add_arcs.join(d_fin, add_arcs.src == F.col("x"))
            .select("dst", (F.col("dx") + F.col("weight")).alias("via"))
            .join(d_fin, F.col("dst") == F.col("x"))
            .filter(F.col("dx") == F.col("via"))
            .select(F.col("dst").alias("id")).distinct()
        )
        touched.append(add_heads)

    # ---- phase 3: npaths on the descendants cone of touched nodes
    seeds = touched[0]
    for df in touched[1:]:
        seeds = seeds.unionByName(df)
    seeds = seeds.distinct().join(dists, "id", "left_semi")
    d_fin = dists.select(F.col("id").alias("x"), F.col("dist").alias("dx"))
    new_dag = (
        arcs_new.join(d_fin, arcs_new.src == F.col("x"))
        .select("src", "dst", (F.col("dx") + F.col("weight")).alias("via"))
        .join(d_fin, F.col("dst") == F.col("x"))
        .filter(F.col("dx") == F.col("via"))
        .select("src", "dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cone = truncate(seeds)
    frontier = cone
    while True:
        nxt = (
            frontier.join(new_dag, frontier.id == new_dag.src)
            .select(F.col("dst").alias("id")).distinct()
            .join(cone, "id", "left_anti")
        )
        nxt, seen = materialize(nxt)
        if seen["rows"] == 0:
            nxt.unpersist()
            break
        cone = truncate(cone.unionByName(nxt), release=cone)
        frontier = nxt
    new_dag.unpersist()
    cone = cone.filter(F.col("id") != source)

    base = dists.join(
        state.select("id", F.col("npaths").alias("npaths")), "id", "left"
    ).select(
        "id", "dist",
        F.when(F.col("id") == source, F.lit(1).cast(_DEC))
        .otherwise(F.col("npaths")).alias("npaths"),
    )
    out = truncate(_npaths_sweep(arcs_new, dists, cone, base))
    arcs_new.unpersist()
    return new_graph, out
