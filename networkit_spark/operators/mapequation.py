"""LouvainMapEquation — local-moving minimization of the map equation
(Infomap objective), reference:
networkit/cpp/community/LouvainMapEquation.cpp:65-115 (run),
:280-347 (tryLocalMove), :349-394 (fitnessChange), :529-550 (mapEquation),
LouvainMapEquation.hpp:42 (maxIterations default 32).

Semantics reproduced exactly per candidate evaluation:
- vol(u) = weightedDegree with self-loops counted twice
  (tryLocalMove :289-304 — `vol += weight` twice for u == v);
  clusterVolume = Σ vol, clusterCut = weight leaving the cluster,
  totalCut = Σ clusterCut.
- fitnessChange(u, C→D) is the reference's five-plogp-term delta
  (:349-394) with plogp(x) = (x/totalVolume)·ln(x/totalVolume) for
  x > 0 else 0; u moves to the candidate minimizing the change, ties
  toward the SMALLER cluster id, and only if strictly better than
  staying (:315-326 — strict `<` against the stay-change).

Parallel-semantics note: the reference's SYNCHRONOUS mode picks moves
against a partition snapshot, then applies per-subround aggregated
cut/volume DELTAS (:157-215) — deltas computed as if each move were
alone, so its bookkeeping after a subround drifts from the true
partition state. This engine runs the same snapshot-based synchronous
sweep but RECOMPUTES cluster cut/volume exactly from the new partition
each sweep (one aggregation per table; same O(m) sweep cost).
Convergence (no node can strictly improve) is therefore judged on exact
state — order-independent, hence deterministic.

Oscillation (two adjacent nodes swapping targets forever under
synchronous application) is broken the way this engine's PLM breaks it:
a seeded xxhash64(id, sweep) parity gate lets p = 3/4 of the improvable
set move per sweep; idleness is judged on the UNGATED candidate set so
the gate can never cause early termination (see operators/plm.py).

Spark plan per sweep (all built-ins, no UDFs): one edge-table affinity
aggregation (hash-partitioned arc table reused across sweeps), two
community-sized rollups (cut, volume), a per-node stay-change table,
and a struct-min argmin over candidates. The only scalars on the driver
are totalCut and the move/improvable counters.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.coarsening import coarsen, prolong
from networkit_spark.operators.plm import _node_volumes
from networkit_spark.plans.iterative import materialize, truncate


@dataclass
class LMEResult:
    labels: DataFrame  # (id: long, label: long)
    levels: int
    sweeps: list = field(default_factory=list)

    def number_of_communities(self) -> int:
        return self.labels.select("label").distinct().count()


def _plogp(col, tv: float):
    """plogpRel (LouvainMapEquation.cpp:529-533): (x/tv)·ln(x/tv), 0 for
    x ≤ 0; greatest() keeps ln's argument positive in the dead branch so
    vectorized evaluation can never surface a NaN."""
    p = col / F.lit(tv)
    safe = F.greatest(p, F.lit(1e-300))
    return F.when(col > 0.0, safe * F.log(safe)).otherwise(F.lit(0.0))


def _move_phase(
    graph: Graph, labels: DataFrame, total_volume: float, max_iter: int
) -> tuple[DataFrame, bool, list[int]]:
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    arcs = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    arcs.count()
    loops = (
        graph.symmetrized_edges()
        .filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("loop"))
    )
    vol_node = _node_volumes(graph)
    state = truncate(
        labels.join(vol_node, "id")
        .join(loops, "id", "left")
        .select(
            "id", "label", "vol", F.coalesce("loop", F.lit(0.0)).alias("loop")
        )
        .repartition(n_part, "id")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    tv = total_volume
    change = False
    moves_history: list[int] = []
    idle = 0
    sweep = 0
    while sweep < max_iter and idle < 1:
        lab = state.select("id", "label")
        vol_c = state.groupBy("label").agg(F.sum("vol").alias("vol_c"))
        # cut[C] = Σ weight of arcs src∈C, dst∉C (arcs symmetrized →
        # each boundary edge seen once from each side)
        cut_c = (
            arcs.join(
                lab.select(F.col("id").alias("src"), F.col("label").alias("lu")), "src"
            )
            .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lv")), "dst")
            .filter(F.col("lu") != F.col("lv"))
            .groupBy(F.col("lu").alias("label"))
            .agg(F.sum("weight").alias("cut_c"))
        )
        comm = (
            vol_c.join(cut_c, "label", "left")
            .select("label", "vol_c", F.coalesce("cut_c", F.lit(0.0)).alias("cut_c"))
            .persist()
        )
        total_cut = float(comm.agg(F.sum("cut_c")).first()[0] or 0.0)

        nbr_labels = state.select(F.col("id").alias("dst"), F.col("label").alias("nc"))
        aff = (
            arcs.join(nbr_labels, "dst")
            .groupBy(F.col("src").alias("id"), F.col("nc"))
            .agg(F.sum("weight").alias("aff"))
        ).persist()

        # per-node table: own cluster stats + weight to current cluster
        # (w_cur = aff row at nc = c, a direct equi-join)
        own = state.select("id", F.col("label").alias("c"), "vol", "loop")
        w_cur_tbl = (
            own.join(
                aff.select("id", F.col("nc").alias("c"), F.col("aff").alias("w_cur")),
                ["id", "c"],
                "left",
            )
            .join(
                comm.select(
                    F.col("label").alias("c"),
                    F.col("vol_c").alias("vol_cc"),
                    F.col("cut_c").alias("cut_cc"),
                ),
                "c",
            )
            .select(
                "id", "c", "vol", "loop",
                F.coalesce("w_cur", F.lit(0.0)).alias("w_cur"),
                "vol_cc", "cut_cc",
            )
        )
        cdc = 2.0 * F.col("w_cur") - F.col("vol") + 2.0 * F.col("loop")
        # stay-change (fitnessChange :372-380, currentCluster branch):
        stay = (
            _plogp(F.lit(total_cut), tv)
            + (
                _plogp(F.col("cut_cc") + F.col("vol_cc"), tv)
                - _plogp(F.col("cut_cc") + cdc + F.col("vol_cc") - F.col("vol"), tv)
            )
            - 2.0 * (_plogp(F.col("cut_cc"), tv) - _plogp(F.col("cut_cc") + cdc, tv))
        )
        node_tbl = w_cur_tbl.withColumn("cdc", cdc).withColumn("stay", stay)

        # candidate change for D != C (fitnessChange :360-371):
        cand = (
            aff.join(node_tbl, "id")
            .filter(F.col("nc") != F.col("c"))
            .join(
                comm.select(
                    F.col("label").alias("nc"),
                    F.col("vol_c").alias("vol_d"),
                    F.col("cut_c").alias("cut_d"),
                ),
                "nc",
            )
        )
        cdt = F.col("vol") - 2.0 * F.col("aff") - 2.0 * F.col("loop")
        cand_change = (
            _plogp(F.lit(total_cut) + F.col("cdc") + cdt, tv)
            + (
                _plogp(F.col("cut_d") + cdt + F.col("vol_d") + F.col("vol"), tv)
                - _plogp(F.col("cut_d") + F.col("vol_d"), tv)
            )
            - 2.0 * (_plogp(F.col("cut_d") + cdt, tv) - _plogp(F.col("cut_d"), tv))
        )
        best = (
            cand.withColumn("chg", cand_change)
            .groupBy("id")
            .agg(
                F.min(F.struct(F.col("chg"), F.col("nc"))).alias("best"),
                F.max("stay").alias("stay"),  # constant per id
            )
            .filter(F.col("best.chg") < F.col("stay"))
            .withColumn("gate", F.pmod(F.xxhash64("id", F.lit(sweep)), 4) != 0)
            .select("id", F.col("best.nc").alias("new_label"), "gate")
        )

        merged = state.join(best, "id", "left").select(
            "id",
            F.when(F.col("gate"), F.col("new_label"))
            .otherwise(F.col("label"))
            .alias("label"),
            "vol",
            "loop",
            F.coalesce("gate", F.lit(False)).alias("moved"),
            F.col("new_label").isNotNull().alias("improvable"),
        )
        merged, counts = materialize(
            merged,
            {"nm": F.count_if("moved"), "ni": F.count_if("improvable")},
            release=state,
        )
        aff.unpersist()
        comm.unpersist()
        n_moved, n_improvable = counts["nm"], counts["ni"]
        state = merged  # whole frame, so the next release frees it
        moves_history.append(n_moved)
        if n_moved > 0:
            change = True
        idle = idle + 1 if n_improvable == 0 else 0
        sweep += 1

    arcs.unpersist()
    return state.select("id", "label"), change, moves_history


def louvain_map_equation(
    graph: Graph,
    hierarchical: bool = False,
    max_iterations: int = 32,
    _depth: int = 0,
) -> LMEResult:
    """Run the synchronous map-equation local-moving phase; with
    hierarchical=True, contract by the partition and recurse like
    runHierarchical (LouvainMapEquation.cpp:470-496), prolonging the
    coarse labels back to the fine vertices."""
    if graph.directed:
        raise ValueError("louvain_map_equation expects an undirected graph")
    vol_node = _node_volumes(graph)
    total_volume = float(vol_node.agg(F.sum("vol")).first()[0] or 0.0)
    if total_volume <= 0:
        return LMEResult(
            labels=graph.vertices().select("id", F.col("id").alias("label")),
            levels=1,
        )
    init = graph.vertices().select("id", F.col("id").alias("label"))
    labels, changed, history = _move_phase(
        graph, init, total_volume, max_iterations
    )
    levels = 1
    sweeps = [history]
    if hierarchical and changed:
        coarse_graph, mapping = coarsen(graph, labels)
        sub = louvain_map_equation(
            coarse_graph,
            hierarchical=True,
            max_iterations=max_iterations,
            _depth=_depth + 1,
        )
        labels = truncate(prolong(sub.labels, mapping), release=mapping)
        levels += sub.levels
        sweeps.extend(sub.sweeps)
    return LMEResult(labels=labels.select("id", "label"), levels=levels, sweeps=sweeps)


def map_equation(graph: Graph, partition: DataFrame) -> float:
    """The map equation value of a partition
    (LouvainMapEquation.cpp:536-550): plogp(totalCut) − 2·Σ plogp(cut_i)
    + Σ plogp(cut_i + vol_i) − Σ plogp(vol_i)."""
    vol_node = _node_volumes(graph)
    tv = float(vol_node.agg(F.sum("vol")).first()[0] or 0.0)
    if tv <= 0:
        return 0.0
    lab = partition.select("id", "label")
    arcs = graph.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    vol_c = (
        lab.join(vol_node, "id")
        .groupBy("label")
        .agg(F.sum("vol").alias("vol_c"))
    )
    cut_c = (
        arcs.join(lab.select(F.col("id").alias("src"), F.col("label").alias("lu")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lv")), "dst")
        .filter(F.col("lu") != F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.sum("weight").alias("cut_c"))
    )
    comm = vol_c.join(cut_c, "label", "left").select(
        "vol_c", F.coalesce("cut_c", F.lit(0.0)).alias("cut_c")
    )
    row = comm.agg(
        F.sum("cut_c").alias("tc"),
        F.sum(_plogp(F.col("cut_c"), tv)).alias("p_cut"),
        F.sum(_plogp(F.col("cut_c") + F.col("vol_c"), tv)).alias("p_cutvol"),
        F.sum(_plogp(F.col("vol_c"), tv)).alias("p_vol"),
    ).first()
    total_cut = float(row["tc"] or 0.0)

    def plogp(x: float) -> float:
        p = x / tv
        return p * math.log(p) if x > 0 else 0.0

    return (
        plogp(total_cut)
        - 2.0 * float(row["p_cut"] or 0.0)
        + float(row["p_cutvol"] or 0.0)
        - float(row["p_vol"] or 0.0)
    )
