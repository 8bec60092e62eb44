"""PLP label-propagation community detection as an iterative DataFrame program.

Reference: networkit/cpp/community/PLP.cpp:18-133 / PLP.hpp:30-83.
Semantics reproduced:

- init: singletons (label = own id) unless base_labels given (PLP.cpp:30-34).
- update rule per non-isolated node v (PLP.cpp:77-96): weigh neighbor labels
  by edge weight, adopt the HEAVIEST label; ties broken toward the SMALLEST
  label (std::max_element over an ascending std::map returns the first
  maximum — PLP.cpp:91-96).
- isolated nodes keep their own label forever (PLP.cpp:50-55,78-79); a node
  whose only edge is a self-loop counts its own label with the loop weight
  (forNeighborsOf yields v itself for a self-loop) and therefore stays put
  (CommunityGTest.cpp:241-258 fixture).
- termination (PLP.cpp:69): while nUpdated > updateThreshold (default n/1e5,
  PLP.cpp:40-42) and nIterations < maxIterations.
- active-set (PLP.cpp:98-104): a node deactivates when its label didn't
  change; it reactivates when a neighbor's label changes.

Determinism: the reference sweep is ASYNCHRONOUS under OpenMP and therefore
nondeterministic run-to-run; its own tests assert planted-cluster recovery
and proper-clustering invariants, never per-run labels
(CommunityGTest.cpp:204-290). This engine runs the SYNCHRONOUS variant of
the same update rule, which is fully deterministic — strictly stronger for
a distributed engine — and is asserted the way the reference asserts
(tests/test_labelprop.py). Synchronous LP can 2-cycle on symmetric
structures (e.g. a single edge), which the default max_iterations bounds;
operators/labelprop_async.py removes the oscillation the same way the
reference's asynchrony does.

Spark plan per superstep:
    msgs     = labels ⋈ sym_edges on src → (dst, label, weight)
    weights  = msgs groupBy(id=dst, label).sum(weight)      [hash agg]
    heaviest = groupBy(id) struct-max of (weight, -label)    [hash-agg argmax
               = the reference's max-weight-then-smallest-label tie-break,
               no sort-based window]
The label frame is broadcast up to 8M vertices, a bound that scales with
spark.sql.autoBroadcastJoinThreshold (`_broadcast_labels`); beyond it each
aggregation exchanges on its own key, which measured fastest at RMAT 2^24
(510.5 s, against 745.9 s for one nid exchange and 838.6 s for a forced
broadcast; BASELINE.md).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, truncate
from networkit_spark.session import size_bytes

# Label rows broadcast per byte of spark.sql.autoBroadcastJoinThreshold,
# as a ratio (not a measured row size): the 10 MiB default admits 8M
# vertices. Broadcast measured faster at RMAT 2^20 (547k vertices) and
# slower at 2^24 (BASELINE.md); the crossover between is unmeasured.
_BROADCAST_ROWS = 8_000_000
_BROADCAST_AT = 10 << 20


@dataclass
class PLPResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    # Per-sweep records {"iteration": k, "rows": n, "updated": changed},
    # measured by the action that materializes each sweep (also in
    # fixed-iteration mode, where the count never stops the loop).
    history: list = field(default_factory=list)

    def number_of_communities(self) -> int:
        return self.labels.select("label").distinct().count()

    def community_sizes(self) -> DataFrame:
        return self.labels.groupBy("label").agg(F.count("*").alias("size"))


def _heaviest_labels(labels: DataFrame, sym: DataFrame,
                     active: DataFrame | None = None,
                     broadcast_labels: bool = False,
                     weighted: bool = True) -> DataFrame:
    """One synchronous sweep: (id, heaviest) for every node with ≥1 neighbor.

    active: optional node set — the semi-join is pushed BELOW the
    aggregation so inactive nodes' messages are never aggregated (the
    dominant cost in tail supersteps).

    Shuffle shape (the 10×-scale lever — r4's 2-sweep run shuffled
    54 GiB because EVERY sweep exchanged the full message table twice,
    once on (nid,label) for the weight agg and once on nid for the
    argmax):
    - broadcast_labels=True (label frame fits a broadcast): the join
      adds NO exchange, and with `sym` persisted hash-partitioned by
      dst the messages are BORN clustered on nid — both aggregations
      run partition-locally.  Zero m-row shuffle per sweep.
    - else the two aggregations exchange on (nid, label), then nid;
      partial aggregation compresses the messages once labels repeat."""
    lbl = F.broadcast(labels) if broadcast_labels else labels
    # Unweighted graphs: every weight is defaultEdgeWeight=1.0, so the
    # message drops the weight column (-33% exchange bytes) and the
    # label weight is a count — same winner, reference semantics intact.
    msg_cols = [F.col("dst").alias("nid"), "label"] + (
        ["weight"] if weighted else [])
    msgs = lbl.join(sym, lbl.id == sym.src).select(*msg_cols)
    if active is not None:
        msgs = msgs.join(active.select(F.col("id").alias("nid")), "nid", "left_semi")
    agg = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")
    lw = msgs.groupBy("nid", "label").agg(agg.alias("w"))
    # argmax(w desc, label asc) as a lexicographic struct-max: a pure hash
    # aggregation (partial+final) instead of a sort-based window — same
    # winner, no per-partition sort. -label encodes the smallest-label
    # tie-break (PLP.cpp:91-96).
    return (
        lw.groupBy("nid")
        .agg(
            F.max(
                F.struct(F.col("w"), (-F.col("label")).alias("neg"), F.col("label"))
            ).alias("b")
        )
        .select(F.col("nid").alias("id"), F.col("b.label").alias("heaviest"))
    )


def _broadcast_labels(spark, n: int) -> bool:
    """True when an n-row label frame fits the session's broadcast
    threshold (spark.sql.autoBroadcastJoinThreshold, scaled so the 10 MiB
    default admits 8M rows; -1 never broadcasts)."""
    limit = size_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    return n * _BROADCAST_AT <= limit * _BROADCAST_ROWS


def label_propagation(
    graph: Graph,
    update_threshold: int | None = None,
    max_iterations: int = 100,
    base_labels: DataFrame | None = None,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    use_active_set: bool = True,
) -> PLPResult:
    """Synchronous PLP. use_active_set=False forces a full sweep every
    superstep (identical labels; used by the SQL-oracle-mirrored queries)."""
    spark = graph.edges.sparkSession
    ckpt = checkpointer or Checkpointer(spark, None, algorithm="plp")
    num = graph.num_partitions or spark.sparkContext.defaultParallelism

    vertices = graph.vertices()
    n = vertices.count()
    threshold = update_threshold if update_threshold is not None else int(n / 1e5)

    # Regime pick (see _heaviest_labels): when the label frame is small
    # enough to broadcast every sweep, persist the edges partitioned by
    # DST so message aggregation never exchanges an edge-sized table; at
    # web scale (n beyond broadcast reach) fall back to src partitioning.
    broadcast_mode = _broadcast_labels(spark, n)
    part_key = "dst" if broadcast_mode else "src"
    # Self-loops participate in the label weighing (reference forNeighborsOf
    # yields them), so keep them in the message table. Unweighted graphs
    # persist only (src, dst) — the constant weight never ships.
    sym = graph.symmetrized_edges()
    if not graph.weighted:
        sym = sym.select("src", "dst")
    sym = sym.repartition(num, part_key).persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    if base_labels is not None:
        labels = vertices.join(base_labels, "id", "left").select(
            "id", F.coalesce("label", F.col("id")).alias("label")
        )
    else:
        labels = vertices.select("id", F.col("id").alias("label"))
    # Materialize the seed state ONCE: the vertex set is often DERIVED
    # (distinct over the symmetrized edge table) and the first sweep
    # references the state twice (message join and merge join) —
    # unmaterialized, each reference re-runs that distinct.
    state = truncate(labels.withColumn("active", F.lit(True)))
    init_snap = state

    iterations = 0
    if resume:
        latest = ckpt.latest()
        if latest is not None:
            iterations, state, _ = latest

    n_updated = n  # "all nodes have new labels -> first iteration runs" (PLP.cpp:45)
    while n_updated > threshold and iterations < max_iterations:
        labels = state.select("id", "label")
        active_set = state.filter("active").select("id") if use_active_set else None
        heaviest = _heaviest_labels(
            labels, sym, active_set,
            broadcast_labels=broadcast_mode,
            weighted=graph.weighted,
        )

        merged = (
            state.select("id", F.col("label").alias("old_label"))
            .join(heaviest, "id", "left")
            .select(
                "id",
                F.coalesce("heaviest", F.col("old_label")).alias("label"),
                (F.coalesce("heaviest", F.col("old_label")) != F.col("old_label")).alias(
                    "changed"
                ),
            )
        )

        if use_active_set:
            # active' = changed ∪ N(changed) (PLP.cpp:98-104 bookkeeping).
            # sym is symmetric, so neighbors can be gathered from either
            # side — pick the side sym is partitioned on, keeping the
            # expansion join co-located (only `changed` shuffles).
            changed_ids = merged.filter("changed").select("id")
            if broadcast_mode:
                nbrs = (
                    changed_ids.join(sym, changed_ids.id == sym.dst)
                    .select(F.col("src").alias("id"))
                    .distinct()
                )
            else:
                nbrs = (
                    changed_ids.join(sym, changed_ids.id == sym.src)
                    .select(F.col("dst").alias("id"))
                    .distinct()
                )
            active = changed_ids.unionByName(nbrs).distinct().withColumn(
                "active", F.lit(True)
            )
            merged = merged.join(active, "id", "left").select(
                "id", "label", "changed", F.coalesce("active", F.lit(False)).alias("active")
            )
        else:
            merged = merged.withColumn("active", F.lit(True))

        iterations += 1
        state = ckpt.save(merged, iterations, {"updated": F.count_if("changed")})
        n_updated = ckpt.records[-1]["updated"]

    sym.unpersist()
    if init_snap is not state:
        init_snap.unpersist()
    return PLPResult(
        labels=state.select("id", "label"), iterations=iterations,
        history=ckpt.log(iterations),
    )


def label_propagation_fixed(graph: Graph, n_iter: int) -> DataFrame:
    """Exactly n_iter full synchronous sweeps (no threshold/active set) —
    deterministic, mirrored 1:1 by the unrolled SQL oracle in
    __spark_entry__.py."""
    res = label_propagation(
        graph,
        update_threshold=-1,  # never stop on threshold
        max_iterations=n_iter,
        use_active_set=False,
    )
    return res.labels
