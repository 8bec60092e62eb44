"""Dynamic pruned landmark labeling — incremental hub-label repair on
edge insertion.

Reference (networkit/cpp/distance/DynPrunedLandmarkLabeling.cpp):
- update() (:12-17): EDGE_ADDITION only; anything else throws.
- addEdge(u, v) (:96-139): for every hub k in labelsOut[u] (dist d),
  resume a pruned BFS from v at level d+1; symmetrically for labelsIn[v]
  (undirected: labelsOut[v]) a (reverse) BFS from u; for hubs common to
  both sides only the strictly-better side runs (:108-126).
- prunedBFS(k, start, level, reverse) (:47-94): level-synchronous BFS
  from `start`; a node w at level L is pruned when the RANK-CAPPED
  query(root_k, w | hubs ≤ k) ≤ L (queryImpl's upperBound parameter,
  PrunedLandmarkLabeling.cpp:96-121), otherwise it appends/overwrites
  label (k, L) and expands. sortUpdatedLabels (:19-45) keeps per-node
  label vectors sorted and OVERWRITES an existing (node, hub) label
  with the smaller distance.

Spark-native substitution: one edge's repair fans ALL its resumed
per-hub BFSes into a single multi-hub frontier (rank, root, id, level)
— the per-row level replaces the reference's per-BFS level counter, so
hubs resumed at different depths advance together. Pruning is the same
rank-capped query, expressed as two label joins + `hub <= rank`;
labels live as the (id, hub, dist) DataFrames of operators/pll.py and
the overwrite semantics become a min-merge groupBy at the end of each
edge's repair. Edges of a batch apply sequentially (the reference's
updateBatch loop): an earlier insertion's labels legitimately prune a
later one's BFS.

Like the static build, repaired labels are a SUPERSET of the
reference's canonical set (batched static pruning is weaker), but
queries stay EXACT: every label this code writes is a genuine walk
length in the edited graph, and for every pair some optimal hub
survives the rank-capped pruning — the same Akiba-Iwata-Yoshida
argument the static build documents. The tests therefore lock QUERY
equality against a fresh build + BFS truth, not label-set identity.

Scale shape: per edge, seeds = |labels(u)| + |labels(v)| rows (average
label size, not graph size); each superstep is one arcs join + one
two-sided label join, both keyed shuffles sized by the affected
region. The index itself stays the bucketed (id, hub, dist) table —
repair never rebuilds it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.pll import (
    _landmark_ranks,
    pll_query,
    pruned_landmark_labeling,
)
from networkit_spark.plans.iterative import materialize, truncate, unpersist
from networkit_spark.session import local_frame


@dataclass
class PLLIndex:
    """Hub-label index + the frozen landmark order (the reference keeps
    nodesSortedByDegreeDesc from construction; updates never re-rank).
    Undirected graphs: labels_in is labels_out (one shared table)."""

    ranks: DataFrame  # (id, rank)
    labels_out: DataFrame  # (id, hub, dist) — d(root(hub) → id)
    labels_in: DataFrame  # (id, hub, dist) — d(id → root(hub))

    @property
    def directed(self) -> bool:
        return self.labels_in is not self.labels_out


def pll_index(graph: Graph, batch_size: int = 128) -> PLLIndex:
    """Build the updatable index (static build + frozen ranks)."""
    ranks = truncate(_landmark_ranks(graph))
    built = pruned_landmark_labeling(graph, batch_size=batch_size)
    if graph.directed:
        labels_out, labels_in = built
        return PLLIndex(ranks=ranks, labels_out=labels_out, labels_in=labels_in)
    return PLLIndex(ranks=ranks, labels_out=built, labels_in=built)


def pll_index_query(index: PLLIndex, pairs: DataFrame) -> DataFrame:
    """(s, t, dist) for a pairs table — queryImpl over the index."""
    return pll_query(index.labels_in, index.labels_out, pairs)


def _dyn_pruned_bfs(
    arcs: DataFrame,
    labels_root: DataFrame,
    labels_node: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """Resumed multi-hub pruned BFS. `seeds` = (rank, root, id, level)
    — one row per (hub, restart node); `labels_root` carries the
    root-side distances d(root → hub) and `labels_node` the node-side
    d(hub → node) IN THIS BFS'S ARC ORIENTATION (pass the single table
    twice when undirected). Pruning is rank-capped: only hubs ≤ the
    repaired hub's rank participate (queryImpl upperBound). Returns the
    new/overwriting labels (id, hub, dist)."""
    frontier = truncate(seeds.select("rank", "root", "id", "level"))
    visited = frontier.select("rank", "id")
    out = []
    keep = [frontier]
    while True:
        lr = labels_root.select(
            F.col("id").alias("root"), "hub", F.col("dist").alias("d1")
        )
        lv = labels_node.select("id", "hub", F.col("dist").alias("d2"))
        q = (
            frontier.filter(F.col("id") != F.col("root"))
            .join(lr, "root")
            .join(lv, ["id", "hub"])
            .filter(F.col("hub") <= F.col("rank"))  # queryImpl upperBound
            .groupBy("rank", "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("q"))
        )
        alive = (
            frontier.join(q, ["rank", "id"], "left")
            .filter(F.col("q").isNull() | (F.col("q") > F.col("level")))
            .select("rank", "root", "id", "level")
        )
        alive = truncate(alive)
        out.append(
            alive.select("id", F.col("rank").alias("hub"), F.col("level").alias("dist"))
        )
        nxt = (
            alive.join(arcs, alive.id == arcs.src)
            .select("rank", "root", F.col("dst").alias("id"),
                    (F.col("level") + 1).alias("level"))
            .groupBy("rank", "root", "id")
            .agg(F.min("level").alias("level"))
            .join(visited, ["rank", "id"], "left_anti")
        )
        nxt, seen = materialize(nxt)
        keep.extend((alive, nxt))
        if seen["rows"] == 0:
            break
        visited = visited.unionByName(nxt.select("rank", "id"))
        frontier = nxt
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    res = truncate(res)
    unpersist(*keep)
    return res


def _root_of(ranks: DataFrame) -> DataFrame:
    return ranks.select(F.col("rank"), F.col("id").alias("root"))


def _merge(labels: DataFrame, new: DataFrame) -> DataFrame:
    """Append + overwrite (sortUpdatedLabels keeps the smaller dist)."""
    merged = (
        labels.unionByName(new)
        .groupBy("id", "hub")
        .agg(F.min("dist").alias("dist"))
    )
    out = truncate(merged, release=labels)
    new.unpersist()
    return out


def update_pll(
    graph: Graph, index: PLLIndex, added: DataFrame
) -> tuple[Graph, PLLIndex]:
    """Apply an edge-insertion batch (DataFrame of (src, dst)) and
    repair the index; returns (new_graph, new_index) whose queries
    equal a fresh build on the edited graph (the reference contract,
    DynPrunedLandmarkLabelingGTest). Unweighted graphs only — like the
    reference, which is BFS-based; anything else raises."""
    if graph.weighted:
        raise ValueError(
            "DynPrunedLandmarkLabeling repairs hop distances only "
            "(the reference's update() is BFS-based)"
        )
    edges = [
        (int(r["src"]), int(r["dst"]))
        for r in added.select("src", "dst").collect()
    ]
    spark = graph.edges.sparkSession

    new_edges = graph.edges.select("src", "dst", "weight").unionByName(
        _orient(spark, edges, graph.directed)
    ).dropDuplicates(["src", "dst"])
    new_graph = Graph.from_edges(
        new_edges,
        directed=graph.directed,
        weighted=graph.weighted,
        vertices=graph.vertices(),
        already_symmetrized=True,
    )
    fwd = (
        new_graph.edges.select("src", "dst")
        if graph.directed
        else new_graph.symmetrized_edges().select("src", "dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fwd.count()
    roots = _root_of(index.ranks)

    labels_out, labels_in = index.labels_out, index.labels_in
    for u, v in edges:
        if graph.directed:
            # forward repair: hubs reaching u extend through u→v
            lu = labels_out.filter(F.col("id") == u).select(
                F.col("hub").alias("rank"), (F.col("dist") + 1).alias("level")
            )
            seeds_f = lu.join(F.broadcast(roots), "rank").select(
                "rank", "root", F.lit(v).cast("long").alias("id"), "level"
            )
            new_f = _dyn_pruned_bfs(fwd, labels_in, labels_out, seeds_f)
            labels_out = _merge(labels_out, new_f)
            # reverse repair: hubs reachable from v extend through u→v
            lv = labels_in.filter(F.col("id") == v).select(
                F.col("hub").alias("rank"), (F.col("dist") + 1).alias("level")
            )
            seeds_r = lv.join(F.broadcast(roots), "rank").select(
                "rank", "root", F.lit(u).cast("long").alias("id"), "level"
            )
            rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            new_r = _dyn_pruned_bfs(rev, labels_out, labels_in, seeds_r)
            labels_in = _merge(labels_in, new_r)
        else:
            # merged two-pointer walk (:108-126): per hub exactly one
            # side restarts — the strictly better one
            lu = labels_out.filter(F.col("id") == u).select(
                "hub", F.col("dist").alias("du")
            )
            lv = labels_out.filter(F.col("id") == v).select(
                "hub", F.col("dist").alias("dv")
            )
            both = lu.join(lv, "hub", "full")
            seeds_v = both.filter(
                F.col("dv").isNull() | (F.col("du") + 1 < F.col("dv"))
            ).select(
                F.col("hub").alias("rank"),
                F.lit(v).cast("long").alias("id"),
                (F.col("du") + 1).alias("level"),
            )
            seeds_u = both.filter(
                F.col("du").isNull()
                | (F.col("dv").isNotNull() & (F.col("du") + 1 >= F.col("dv")))
            ).select(
                F.col("hub").alias("rank"),
                F.lit(u).cast("long").alias("id"),
                (F.col("dv") + 1).alias("level"),
            )
            seeds = seeds_v.unionByName(seeds_u).join(
                F.broadcast(roots), "rank"
            ).select("rank", "root", "id", "level")
            new_l = _dyn_pruned_bfs(fwd, labels_out, labels_out, seeds)
            labels_out = _merge(labels_out, new_l)
            labels_in = labels_out
    fwd.unpersist()
    return new_graph, PLLIndex(
        ranks=index.ranks, labels_out=labels_out, labels_in=labels_in
    )


def _orient(spark, edges: list, directed: bool) -> DataFrame:
    rows = list(edges)
    if not directed:
        rows = rows + [(v, u) for u, v in rows]
    return local_frame(
        spark, [(u, v, 1.0) for u, v in rows], "src long, dst long, weight double"
    )
