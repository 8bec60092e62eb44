"""Asynchronous-style PLP: partition-local async sweeps between global
synchronizations — the distributed analog of the reference's OpenMP
asynchrony (PLP.cpp:77-104, where later nodes in a sweep see earlier
nodes' NEW labels).

Why it exists: the pure synchronous variant (operators/labelprop.py) can
2-cycle on symmetric structures (a single edge swaps labels forever —
SURVEY.md §7 hard part 2). The reference avoids that through asynchrony;
this operator restores the same property deterministically: within each
owner block, nodes are processed in ascending id order and see the
updated labels of earlier same-block nodes; blocks synchronize through
the normal superstep join. Fixed partitioning ⇒ fully deterministic
(unlike the reference, which is scheduler-dependent run to run).

Plan per superstep:
    msgs  = labels ⋈ sym_edges on src → (owner_block(dst), dst, src, w, src_label)
    sweep = groupBy(block).applyInPandas(async_sweep)   [Arrow batch per block]
    merge = vertices ⟕ sweep (unchanged nodes keep labels)

The sweep kernel is a sequential pass per block — exactly the reference's
per-thread behavior; the cross-block parallelism is the executor grid.
Like the reference's own tests, assertions are structural (planted
clusters, proper clustering), never per-run labels.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, truncate


def _async_sweep(pdf: pd.DataFrame) -> pd.DataFrame:
    """One owner block: async heaviest-label sweep in ascending node order.
    Input rows: (node, nbr, weight, nbr_label, own_label). Output: the
    nodes whose label changed, with their new label."""
    own = (
        pdf[["node", "own_label"]]
        .drop_duplicates("node")
        .set_index("node")["own_label"]
        .to_dict()
    )
    local = dict(own)  # labels updated during this sweep (visible to later nodes)
    by_node = pdf.sort_values("node").groupby("node", sort=True)
    out_ids, out_labels = [], []
    for node, rows in by_node:
        weights: dict[int, float] = {}
        nbrs = rows["nbr"].to_numpy()
        nbr_labels = rows["nbr_label"].to_numpy()
        ws = rows["weight"].to_numpy()
        for i in range(len(nbrs)):
            # asynchrony: same-block neighbors already swept this round
            # contribute their NEW label
            lbl = local.get(nbrs[i], nbr_labels[i])
            weights[lbl] = weights.get(lbl, 0.0) + ws[i]
        best_w = max(weights.values())
        heaviest = min(l for l, w in weights.items() if w == best_w)
        if heaviest != local[node]:
            local[node] = heaviest
            out_ids.append(node)
            out_labels.append(heaviest)
    return pd.DataFrame({"id": out_ids, "label": out_labels})


@dataclass
class AsyncPLPResult:
    labels: DataFrame
    iterations: int
    history: list = field(default_factory=list)

    def number_of_communities(self) -> int:
        return self.labels.select("label").distinct().count()


def label_propagation_async(
    graph: Graph,
    update_threshold: int | None = None,
    max_iterations: int = 100,
    num_blocks: int | None = None,
) -> AsyncPLPResult:
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="plp_async")
    P = num_blocks or spark.sparkContext.defaultParallelism
    sym = (
        graph.symmetrized_edges()
        .select(
            F.col("dst").alias("node"),
            F.col("src").alias("nbr"),
            "weight",
            F.pmod(F.xxhash64("dst"), F.lit(P)).alias("block"),
        )
        .repartition(P, "block")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    vertices = graph.vertices()
    n = vertices.count()
    threshold = update_threshold if update_threshold is not None else int(n / 1e5)

    labels = vertices.select("id", F.col("id").alias("label")).transform(truncate)
    iterations = 0
    n_updated = n
    while n_updated > threshold and iterations < max_iterations:
        nbr_labels = labels.select(
            F.col("id").alias("nbr"), F.col("label").alias("nbr_label")
        )
        own_labels = labels.select(
            F.col("id").alias("node"), F.col("label").alias("own_label")
        )
        msgs = sym.join(nbr_labels, "nbr").join(own_labels, "node")
        changed = msgs.groupBy("block").applyInPandas(
            lambda pdf: _async_sweep(pdf), schema="id long, label long"
        )
        merged = (
            labels.withColumnRenamed("label", "old_label")
            .join(changed.withColumnRenamed("label", "new_label"), "id", "left")
            .select(
                "id",
                F.coalesce("new_label", F.col("old_label")).alias("label"),
                F.col("new_label").isNotNull().alias("changed"),
            )
        )
        iterations += 1
        snap = ckpt.save(merged, iterations, {"updated": F.count_if("changed")})
        n_updated = ckpt.records[-1]["updated"]
        labels = snap.select("id", "label")

    sym.unpersist()
    ckpt.close()
    return AsyncPLPResult(labels=labels, iterations=iterations,
                          history=ckpt.log(iterations))


def _degree_sweep(pdf: pd.DataFrame) -> pd.DataFrame:
    """One owner block of lp_degree_ordered: async heaviest-label sweep
    in ASCENDING (degree, id) order — LPDegreeOrdered.cpp:63-78's
    lower-degree-first schedule; unweighted counts, smallest-label tie
    break (the reference's unordered_map max leaves ties unspecified —
    the engine pins them, stated)."""
    own = (
        pdf[["node", "own_label"]]
        .drop_duplicates("node")
        .set_index("node")["own_label"]
        .to_dict()
    )
    local = dict(own)
    order = (
        pdf[["node", "own_deg"]]
        .drop_duplicates("node")
        .sort_values(["own_deg", "node"])["node"]
        .to_numpy()
    )
    grouped = dict(tuple(pdf.groupby("node", sort=False)))
    out_ids, out_labels = [], []
    for node in order:
        rows = grouped[node]
        counts: dict[int, int] = {}
        nbrs = rows["nbr"].to_numpy()
        nbr_labels = rows["nbr_label"].to_numpy()
        for i in range(len(nbrs)):
            lbl = local.get(nbrs[i], nbr_labels[i])
            counts[lbl] = counts.get(lbl, 0) + 1
        best = max(counts.values())
        heaviest = min(l for l, c in counts.items() if c == best)
        if heaviest != local[node]:
            local[node] = heaviest
            out_ids.append(node)
            out_labels.append(heaviest)
    return pd.DataFrame({"id": out_ids, "label": out_labels})


def lp_degree_ordered(
    graph: Graph,
    update_threshold: int | None = None,
    max_iterations: int = 100,
    num_blocks: int | None = None,
) -> AsyncPLPResult:
    """LPDegreeOrdered (community/LPDegreeOrdered.cpp:18-85): label
    propagation where every sweep visits nodes in ascending degree
    order, labels visible immediately, stop when updates ≤ n/1e5.
    Distributed substitute: degree-ordered ASYNC sweeps per owner block
    (the engine's labelprop_async shape — the reference's global
    sequential order becomes per-block order + superstep sync, same
    class of substitution as the OpenMP variant)."""
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="lp_degree_ordered")
    P = num_blocks or spark.sparkContext.defaultParallelism
    deg = (
        graph.symmetrized_edges()
        .groupBy(F.col("dst").alias("node"))
        .agg(F.count("*").alias("own_deg"))
    )
    sym = (
        graph.symmetrized_edges()
        .select(
            F.col("dst").alias("node"),
            F.col("src").alias("nbr"),
            F.pmod(F.xxhash64("dst"), F.lit(P)).alias("block"),
        )
        .join(deg, "node")
        .repartition(P, "block")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    vertices = graph.vertices()
    n = vertices.count()
    threshold = update_threshold if update_threshold is not None else int(n / 1e5)

    labels = vertices.select("id", F.col("id").alias("label")).transform(truncate)
    iterations = 0
    n_updated = n
    while n_updated > threshold and iterations < max_iterations:
        nbr_labels = labels.select(
            F.col("id").alias("nbr"), F.col("label").alias("nbr_label")
        )
        own_labels = labels.select(
            F.col("id").alias("node"), F.col("label").alias("own_label")
        )
        msgs = sym.join(nbr_labels, "nbr").join(own_labels, "node")
        changed = msgs.groupBy("block").applyInPandas(
            lambda pdf: _degree_sweep(pdf), schema="id long, label long"
        )
        merged = (
            labels.withColumnRenamed("label", "old_label")
            .join(changed.withColumnRenamed("label", "new_label"), "id", "left")
            .select(
                "id",
                F.coalesce("new_label", F.col("old_label")).alias("label"),
                F.col("new_label").isNotNull().alias("changed"),
            )
        )
        iterations += 1
        snap = ckpt.save(merged, iterations, {"updated": F.count_if("changed")})
        n_updated = ckpt.records[-1]["updated"]
        labels = snap.select("id", "label")

    sym.unpersist()
    ckpt.close()
    return AsyncPLPResult(labels=labels, iterations=iterations,
                          history=ckpt.log(iterations))
