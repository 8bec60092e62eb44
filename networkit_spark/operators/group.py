r"""GroupDegree — greedy group-degree-centrality group of size k
(reference: cpp/centrality/GroupDegree.cpp, include/.../GroupDegree.hpp).

Semantics. With group S, the group degree (countGroupNodes=False) is the
number of nodes OUTSIDE S with an in-neighbor in S — equivalently
|reachable| − k where reachable = S ∪ N_out(S) (computeScore,
GroupDegree.hpp:97-104). The greedy adds, k times, the node with the
largest EXACT marginal gain

    gain(u) = |({u} ∪ N_out(u)) \ reachable| − (0 if countGroupNodes else 1)

For countGroupNodes=False this is algebraically identical to the
reference's incremental recompute (GroupDegree.cpp:95-121: unreached
out-neighbors, minus one when u already has an in-neighbor in S). For
countGroupNodes=True the reference's lazy recompute drops the "+1 for u
itself becoming reachable" term after round 1; we keep gains exact (the
submodular (1−1/e) bound the reference's own test asserts,
CentralityGTest.cpp:1480-1529, holds a fortiori). Ties broken by
smallest node id — the reference's BucketPQ tie order is an
implementation artifact, not a contract.

Spark shape: k bounded rounds (k is a user parameter, small by
definition of the problem). Per round ONE anti-join of the arc table
against the reachable set + ONE map-side-combined count aggregation +
a struct-max argmax; the reachable set stays distributed (it grows to
Θ(n) on a web graph — never collected). The only driver traffic is the
1-row winner per round.

Self-loops are rejected exactly like the reference constructor
(GroupDegree.cpp:14-21).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame


@dataclass
class GroupDegreeResult:
    group: DataFrame  # (rank: int, id: long, gain: long) in pick order
    score: int  # groupScore (GroupDegree.hpp getScore semantics)


def _arcs(g: Graph) -> DataFrame:
    """Out-arc table (src, dst): out-edges for directed graphs, both
    directions for undirected (Graph.edges is already the symmetrized
    message table)."""
    return g.edges.select("src", "dst")


def group_degree(g: Graph, k: int, count_group_nodes: bool = False) -> GroupDegreeResult:
    if k <= 0 or k > g.num_vertices():
        raise ValueError("k must be between 1 and n")
    if g.number_of_self_loops() > 0:
        raise ValueError(
            "Group degree does not support graphs with self loops. Call "
            "remove_self_loops() first."
        )
    spark = g.edges.sparkSession
    arcs = _arcs(g).persist(StorageLevel.MEMORY_AND_DISK)
    verts = g.vertices().persist(StorageLevel.MEMORY_AND_DISK)
    penalty = 0 if count_group_nodes else 1

    reachable = verts.filter(F.lit(False)).select("id").persist(StorageLevel.MEMORY_AND_DISK)
    group: list[tuple[int, int, int]] = []  # (rank, id, gain)
    chosen: list[int] = []
    for rank in range(1, k + 1):
        # |N_out(u) \ reachable| per candidate
        unreached = (
            arcs.join(reachable, arcs.dst == reachable.id, "left_anti")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        gains = (
            verts.filter(~F.col("id").isin(chosen) if chosen else F.lit(True))
            .join(unreached, verts.id == unreached.src, "left")
            .join(
                reachable.select(F.col("id").alias("rid"), F.lit(True).alias("in_r")),
                verts.id == F.col("rid"),
                "left",
            )
            .select(
                "id",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + F.when(F.col("in_r").isNull(), 1).otherwise(0)
                    - F.lit(penalty)
                ).alias("gain"),
            )
        )
        # argmax with smallest-id tie-break: max over (gain, -id)
        win = gains.agg(
            F.max(F.struct(F.col("gain"), (-F.col("id")).alias("nid"))).alias("w")
        ).collect()[0]["w"]
        wid, wgain = int(-win["nid"]), int(win["gain"])
        chosen.append(wid)
        group.append((rank, wid, wgain))
        newly = (
            local_frame(spark, [(wid,)], "id long")
            .unionByName(
                arcs.filter(F.col("src") == wid).select(F.col("dst").alias("id"))
            )
        )
        reachable = truncate(reachable.unionByName(newly).distinct(), release=reachable)

    n_reachable = reachable.count()
    score = n_reachable if count_group_nodes else n_reachable - k
    arcs.unpersist()
    verts.unpersist()
    group_df = local_frame(spark, group, "rank int, id long, gain long")
    return GroupDegreeResult(group=group_df, score=score)


def score_of_group(g: Graph, members: list[int], count_group_nodes: bool = False) -> int:
    """scoreOfGroup (GroupDegree.hpp:125-160): score of an arbitrary
    group under the same counting rule."""
    if len(set(members)) != len(members):
        raise ValueError("the group contains duplicates")
    arcs = _arcs(g)
    covered = (
        arcs.filter(F.col("src").isin(list(members)))
        .select(F.col("dst").alias("id"))
        .filter(~F.col("id").isin(list(members)))
        .distinct()
        .count()
    )
    return covered + (len(members) if count_group_nodes else 0)
