"""Pruned landmark labeling (2-hop hub labels) for exact distance
queries — the reference's scalable shortest-path index.

Reference (networkit/cpp/distance/PrunedLandmarkLabeling.cpp):
- landmarks processed in degree-descending order (:12-28; directed
  ties by in-degree);
- prunedBFS(root, rank) (:40-84): level-synchronous BFS from the root;
  a visited node u is PRUNED (gets no label, expands no neighbors)
  when an existing-labels query(root, u) already proves a distance
  ≤ level; otherwise u appends (rank, level) to its label;
- directed graphs run a second reverse BFS filling labelsIn (:86-95);
- queryImpl (:97-121): sorted-merge over the two label vectors, min
  label-distance sum over common hubs; 0 when u == v; infDist when no
  common hub (disconnected).

Spark-native substitution — BATCHED pruned BFS: landmarks are taken in
degree order in batches of `batch_size`; each batch runs ONE
multi-source pruned BFS (frontier keyed by (rank, root, id)), pruning
against the labels COMMITTED by previous batches only. Pruning with
fewer labels prunes less, never more, so the produced label set is a
superset of the reference's canonical cover — hence queries stay
EXACT (the Akiba-Iwata-Yoshida correctness argument needs only that a
highest-ranked shortest-path midpoint survives in both labels), at the
cost of somewhat larger labels. Landmark order is (degree DESC, id
ASC) — the reference's unstable parallel sort leaves ties unspecified;
the id tie-break is the documented deterministic substitution.

Scale: per superstep one arcs join + one two-sided labels join
(pruning), all keyed shuffles; labels live as a (id, hub_rank, dist)
DataFrame — the 100 TB shape of a hub-label index (bucketed by id, a
distance query is two label-partition lookups, no BFS at query time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import materialize, truncate, unpersist
from networkit_spark.plans.ranking import global_ranks_score_desc
from networkit_spark.session import local_frame


def _landmark_ranks(graph: Graph) -> DataFrame:
    """(id, rank): degree DESC (directed: total degree, ties by
    in-degree DESC per the reference), final ties by id ASC."""
    if graph.directed:
        out_d = graph.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("od"))
        in_d = graph.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("idg"))
        deg = (
            graph.vertices()
            .join(out_d, "id", "left").join(in_d, "id", "left")
            .select(
                "id",
                (F.coalesce("od", F.lit(0)) + F.coalesce("idg", F.lit(0))).alias("deg"),
                F.coalesce("idg", F.lit(0)).alias("tie"),
            )
            .withColumn("score", F.col("deg") * 1048576 + F.col("tie"))
        )
    else:
        d = graph.symmetrized_edges().groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("deg"))
        deg = (
            graph.vertices().join(d, "id", "left")
            .select("id", F.coalesce("deg", F.lit(0)).cast("long").alias("score"))
        )
    return global_ranks_score_desc(deg, "score", ["id"], out_col="rank").select(
        "id", "rank"
    )


def _pruned_batch_bfs(
    arcs: DataFrame,
    labels_root: DataFrame,
    labels_node: DataFrame,
    roots: DataFrame,
) -> tuple[DataFrame, list]:
    """One batched pruned BFS: `roots` = (rank, root); the pruning query
    joins committed previous-batch labels from TWO tables — the root
    side reads `labels_root` (distances root → hub) and the node side
    reads `labels_node` (distances hub → node in this BFS's arc
    orientation). Undirected graphs pass the one label table twice; a
    directed build MUST pass the opposite index on the root side
    (d(h→r) + d(h→w) does not bound d(r→w) in a digraph — one-sided
    pruning over-prunes and breaks query exactness; caught by
    tests/test_pll.py::test_pll_directed_regression_one_sided_pruning).
    Returns (this batch's new labels (id, hub, dist), the per-level
    cached snapshots to unpersist once the union is materialized)."""
    frontier = truncate(
        roots.select("rank", "root", F.col("root").alias("id"),
                     F.lit(0).cast("long").alias("level"))
    )
    visited = frontier.select("rank", "id")
    out = frontier.select(F.col("id"), F.col("rank").alias("hub"),
                          F.col("level").alias("dist"))
    new_labels = [out]
    keep = [frontier]
    level = 0
    while True:
        # prune: committed-labels query(root, id) ≤ level kills the row
        lr = labels_root.select(F.col("id").alias("root"), F.col("hub"),
                                F.col("dist").alias("d1"))
        lv = labels_node.select(F.col("id"), F.col("hub"), F.col("dist").alias("d2"))
        q = (
            frontier.filter(F.col("id") != F.col("root"))
            .join(lr, "root")
            .join(lv, ["id", "hub"])
            .groupBy("rank", "id")
            .agg(F.min(F.col("d1") + F.col("d2")).alias("q"))
        )
        alive = (
            frontier.join(q, ["rank", "id"], "left")
            .filter(F.col("q").isNull() | (F.col("q") > F.col("level")))
            .select("rank", "root", "id", "level")
        )
        # frontier stays cached until the batch union materializes:
        # visited and the level-0 labels are projections over it
        alive = truncate(alive)
        if level > 0:
            new_labels.append(
                alive.select("id", F.col("rank").alias("hub"),
                             F.col("level").alias("dist"))
            )
        level += 1
        nxt = (
            alive.join(arcs, alive.id == arcs.src)
            .select("rank", "root", F.col("dst").alias("id"))
            .distinct()
            .join(visited, ["rank", "id"], "left_anti")
            .withColumn("level", F.lit(level).cast("long"))
        )
        nxt, seen = materialize(nxt)
        keep.extend((alive, nxt))
        if seen["rows"] == 0:
            break
        visited = visited.unionByName(nxt.select("rank", "id"))
        frontier = nxt
    res = new_labels[0]
    for df in new_labels[1:]:
        res = res.unionByName(df)
    return res, keep


def pruned_landmark_labeling(
    graph: Graph, batch_size: int = 128
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Build the hub-label index. Undirected: returns labels
    (id, hub, dist). Directed: returns (labels_out, labels_in) — the
    forward and reverse indices (PrunedLandmarkLabeling.cpp:86-95)."""
    ranks = truncate(_landmark_ranks(graph))
    n = ranks.count()
    fwd = graph.edges.select("src", "dst") if graph.directed \
        else graph.symmetrized_edges().select("src", "dst")
    fwd = fwd.persist(StorageLevel.MEMORY_AND_DISK)
    fwd.count()

    spark = fwd.sparkSession

    def _roots(b0: int) -> DataFrame:
        # No frame-level broadcast hint: one consumer is the frontier
        # INIT (a plain select, no join), where the hint is unusable and
        # Spark logs a HintErrorLogger warning per batch. The frame is
        # batch_size rows of a truncated table with real stats — every
        # actual join against it auto-broadcasts.
        return ranks.filter(
            (F.col("rank") >= b0) & (F.col("rank") < b0 + batch_size)
        ).select("rank", F.col("id").alias("root"))

    if not graph.directed:
        labels = truncate(local_frame(spark, [], "id long, hub long, dist long"))
        for b0 in range(0, n, batch_size):
            batch, snapshots = _pruned_batch_bfs(fwd, labels, labels, _roots(b0))
            labels = truncate(labels.unionByName(batch), release=labels)
            unpersist(*snapshots)
        fwd.unpersist()
        return labels

    # Directed: the two indices are built INTERLEAVED batch-by-batch
    # because each side's pruning query needs the OTHER side's committed
    # labels on the root leg (the proper directed PLL pruning test
    # d(r→h) + d(h→w) ≤ level; PrunedLandmarkLabeling.cpp:86-95 runs the
    # reverse sweep per landmark for the same reason).
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    labels_out = truncate(local_frame(spark, [], "id long, hub long, dist long"))
    labels_in = truncate(local_frame(spark, [], "id long, hub long, dist long"))
    for b0 in range(0, n, batch_size):
        roots = _roots(b0)
        batch_out, snaps_f = _pruned_batch_bfs(fwd, labels_in, labels_out, roots)
        batch_in, snaps_r = _pruned_batch_bfs(rev, labels_out, labels_in, roots)
        labels_out = truncate(labels_out.unionByName(batch_out), release=labels_out)
        labels_in = truncate(labels_in.unionByName(batch_in), release=labels_in)
        unpersist(*snaps_f)
        unpersist(*snaps_r)
    fwd.unpersist()
    return labels_out, labels_in


def pll_query(
    labels_src: DataFrame, labels_dst: DataFrame, pairs: DataFrame
) -> DataFrame:
    """queryImpl over a pairs table (s, t): (s, t, dist) with dist =
    min common-hub label sum; 0 when s == t; row absent when no common
    hub (the reference's infDist). Undirected graphs pass the same
    labels DataFrame twice; directed graphs pass (labels_in, labels_out)
    — labels_in[s] holds d(s → hub), labels_out[t] holds d(hub → t),
    matching queryImpl's getSourceLabelsIterators(u, isDirected())."""
    ls = labels_src.select(F.col("id").alias("s"), "hub",
                           F.col("dist").alias("d1"))
    lt = labels_dst.select(F.col("id").alias("t"), "hub",
                           F.col("dist").alias("d2"))
    hub_min = (
        pairs.filter(F.col("s") != F.col("t"))
        .join(ls, "s").join(lt, ["t", "hub"])
        .groupBy("s", "t")
        .agg(F.min(F.col("d1") + F.col("d2")).alias("dist"))
    )
    diag = pairs.filter(F.col("s") == F.col("t")) \
        .select("s", "t", F.lit(0).cast("long").alias("dist"))
    return hub_min.unionByName(diag)
