"""Hash-min connected components as an iterative DataFrame program.

Reference semantics: ParallelConnectedComponents
(networkit/cpp/components/ParallelConnectedComponents.cpp:21-84) — init
every node's label to its own id (allToSingletons, :26-27), iterate
"take the min of my label and my neighbors' labels" (:45-47) until no
label changes; WeaklyConnectedComponents on directed graphs follows both
arc directions (ConnectedComponentsImpl.cpp:56-57) — here: the
symmetrized edge table.

Canonical output: label = MIN node id in the component (hash-min's fixed
point), which is exactly the reference's component ordering (sequential
BFS assigns component ids in ascending order of the smallest unvisited
node id, ConnectedComponentsImpl.cpp:36-37), so `compact_labels` aligns
with the reference's ids under canonical relabeling
(ConnectedComponentsGTest.cpp:85-105 equivalence contract).

Spark plan per superstep (converges in O(diameter) supersteps):
    msgs = changed-labels ⋈ sym_edges on src      [shuffle join]
    new  = (labels ∪ msgs) groupBy(id).min(label)  [partial+final min-agg]
Active-set optimization: labels only ever DECREASE, so only nodes whose
label changed last superstep need to re-broadcast it (mirrors the
reference's activeNodes bookkeeping, :52-59). Late supersteps touch a tiny
frontier — the frontier side of the join is broadcast-able and AQE picks
that up automatically once it's under the broadcast threshold.

Scale note: at web scale (10^12 edges, diameter ~ hundreds via long
chains) plain hash-min's superstep count is bounded by graph diameter;
`connected_components_twophase` below implements the standard fix —
alternating large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), O(log² n)
rounds independent of diameter. It is the scale plan: the reference's
other fix, coarsening hash-min after k supersteps and recursing
(ParallelConnectedComponents.cpp:65-76), ran out of scratch disk at
RMAT 2^24 where two-phase completed, and was removed. Same fixed point
(min id per component) — asserted against hash-min in
tests/test_components.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer


@dataclass
class ComponentsResult:
    labels: DataFrame  # (id: long, label: long) — label = min id in component
    iterations: int
    history: list = field(default_factory=list)

    def number_of_components(self) -> int:
        return self.labels.select("label").distinct().count()

    def component_sizes(self) -> DataFrame:
        """(label, size) — Partition::subsetSizes (Partition.hpp:221)."""
        return self.labels.groupBy("label").agg(F.count("*").alias("size"))

    def compact_labels(self) -> DataFrame:
        """(id, component) with components densely ranked 0..k-1 in ascending
        min-id order — matches the reference's BFS discovery order.
        Two-phase rank (plans/ranking.py): a web graph has millions of
        components — no single-partition global window."""
        from networkit_spark.plans.ranking import global_row_numbers

        dic = global_row_numbers(
            self.labels.select("label").distinct(), "label", "component"
        )
        return self.labels.join(dic, "label").select("id", "component")


def connected_components(
    graph: Graph,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    max_iterations: int | None = None,
    initial_labels: DataFrame | None = None,
) -> ComponentsResult:
    """initial_labels (id, label): warm start — valid whenever every given
    label is the id of SOME vertex in the same component (e.g. the fixed
    point of a previous run on a subgraph, used by streaming incremental
    CC); hash-min converges to the same fixed point from any such seed.

    Every superstep adds pointer doubling (label ←
    min(label, label[label]) — one extra self-join): supersteps drop from
    O(diameter) to O(log diameter) on chain-heavy graphs, the standard
    large-star/small-star-class optimization (Kiveris et al., SoCC'14);
    the fixed point (min id per component) is unchanged because the
    label-of-label is always an id inside the same component.

    High-diameter graphs at scale: use `connected_components_twophase`
    (module docstring)."""
    spark = graph.edges.sparkSession
    ckpt = checkpointer or Checkpointer(spark, None, algorithm="connected_components")
    sym = graph.symmetrized_edges().select("src", "dst")
    sym = sym.repartition(
        graph.num_partitions or spark.sparkContext.defaultParallelism, "src"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    if initial_labels is not None:
        labels = graph.vertices().join(initial_labels, "id", "left").select(
            "id", F.coalesce("label", F.col("id")).alias("label")
        )
    else:
        labels = graph.vertices().select("id", F.col("id").alias("label"))
    # changed flag drives the active-set frontier; everyone starts active.
    state = labels.withColumn("changed", F.lit(True))

    iterations = 0
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            iterations, state, _ = latest

    n_changed = -1
    while n_changed != 0 and (max_iterations is None or iterations < max_iterations):
        frontier = state.filter("changed").select("id", "label")
        msgs = (
            frontier.join(sym, frontier.id == sym.src)
            .select(F.col("dst").alias("id"), "label")
        )
        new = (
            state.select("id", "label")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("new_label"))
        )
        # pointer doubling: follow one more hop through the label table
        hop = new.select(
            F.col("id").alias("label_id"), F.col("new_label").alias("hop_label")
        )
        new = (
            new.join(hop, new.new_label == hop.label_id, "left")
            .select(
                "id",
                F.least(
                    F.col("new_label"), F.coalesce("hop_label", F.col("new_label"))
                ).alias("new_label"),
            )
        )
        merged = (
            state.select("id", F.col("label").alias("old_label"))
            .join(new, "id")
            .select(
                "id",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("changed"),
            )
        )
        iterations += 1
        state = ckpt.save(merged, iterations, {"changed": F.count_if("changed")})
        n_changed = ckpt.records[-1]["changed"]

    sym.unpersist()
    return ComponentsResult(
        labels=state.select("id", "label"), iterations=iterations,
        history=ckpt.log(iterations),
    )


def _large_star(arcs: DataFrame) -> DataFrame:
    """Kiveris et al. large-star: per node u with m = min(Γ(u) ∪ {u}),
    emit (v, m) for every neighbor v > u. Input arcs carry BOTH
    directions; output edges satisfy u > v (strictly larger endpoint
    first)."""
    m = arcs.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("mv", F.col("u")).alias("m")
    )
    return (
        arcs.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Kiveris et al. small-star on u>v-oriented edges: per node u with
    m = min of its (all smaller) neighbors, emit (v, m) for every
    neighbor v plus (u, m). Output stays u>v-oriented."""
    m = edges.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        edges.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    root = m.select("u", F.col("m").alias("v"))
    return (
        moved.unionByName(root)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_twophase(
    graph: Graph, max_rounds: int = 64
) -> ComponentsResult:
    """Alternating large-star/small-star connected components (Kiveris
    et al., SoCC'14 — the MapReduce-native CC): converges in O(log² n)
    rounds regardless of graph DIAMETER, where hash-min needs
    O(diameter) supersteps (a 10⁶-hop chain → ~20 rounds vs 10⁶).

    Plan per round: two groupBy-min shuffles + two distinct shuffles on
    the shrinking edge set (edges contract toward stars, so per-round
    volume drops geometrically). Convergence: the fixed point is exactly
    a min-rooted star forest in the u>v orientation — every u appears
    once and no u is another edge's v — so it's detected with two cheap
    scans of the cached edge set BEFORE each round (no paid-in-full
    confirmation round, no probabilistic hashing). At the fixed point
    the labels equal hash-min's (min id per component) — asserted in
    tests.

    Reference analog: ParallelConnectedComponents.cpp:65-76 coarsens
    after 8 iterations — the same contraction idea, made the whole
    algorithm."""
    und = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
    )
    # Round r's edge set is snapshot r; its record's `rows` is the edge count.
    ckpt = Checkpointer(graph.edges.sparkSession, None, algorithm="connected_components_twophase")
    edges = ckpt.save(und, 0)
    n_edges = ckpt.records[-1]["rows"]

    def _is_star_forest(e: DataFrame, n_e: int) -> bool:
        """u>v-oriented edge set is a min-rooted star forest ⟺ every u
        appears exactly once AND no u is also some edge's v (no chains).
        Such a star's root v is smaller than all its leaves, i.e. the
        component minimum — the algorithm's fixed point. ONE aggregation
        job: tag each endpoint occurrence with its side, group by node,
        count violations (duplicate u, or a node on both sides)."""
        if n_e == 0:
            return True
        occ = e.select(
            F.col("u").alias("x"), F.lit(1).alias("cu"), F.lit(0).alias("cv")
        ).unionByName(
            e.select(F.col("v").alias("x"), F.lit(0).alias("cu"), F.lit(1).alias("cv"))
        )
        bad = (
            occ.groupBy("x")
            .agg(F.sum("cu").alias("cu"), F.sum("cv").alias("cv"))
            .filter((F.col("cu") > 1) | ((F.col("cu") > 0) & (F.col("cv") > 0)))
            .limit(1)
            .count()
        )
        return bad == 0

    rounds = 0
    prev_n = -1
    # The star-forest check only RUNS once the edge count has stabilized
    # (n_edges == prev_n): the count is constant at the fixed point, so
    # termination is unchanged, and the early rounds — where the edge
    # set is still contracting — skip the check's shuffle entirely.
    while rounds < max_rounds and n_edges > 0 and not (
        n_edges == prev_n and _is_star_forest(edges, n_edges)
    ):
        arcs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        rounds += 1
        edges = ckpt.save(_small_star(_large_star(arcs)), rounds)
        n_edges, prev_n = ckpt.records[-1]["rows"], n_edges

    labels = (
        graph.vertices()
        .join(edges.select(F.col("u").alias("id"), F.col("v").alias("root")), "id", "left")
        .select("id", F.coalesce("root", F.col("id")).alias("label"))
    )
    return ComponentsResult(labels=labels, iterations=rounds, history=ckpt.log(rounds))
