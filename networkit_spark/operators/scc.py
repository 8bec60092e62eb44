"""Strongly connected components — distributed coloring algorithm.

Reference: StronglyConnectedComponents (networkit/cpp/components/
StronglyConnectedComponents.cpp:26-40) is an iterative Tarjan — inherently
sequential (stack-based DFS), so the distributed re-expression uses the
standard ColorSCC / FW-BW-style peeling (Orzan'04; Slota et al.):

    repeat until no vertices remain:
      1. color propagation: color(v) = max(own id, colors of in-neighbors)
         to a fixed point — colors partition vertices into forward-
         reachability regions rooted at local-max vertices;
      2. for each root r (color(r) == r): the SCC of r = vertices with
         color r that can reach r going BACKWARD inside the color class
         (a min-label propagation restricted to same-color edges);
      3. peel those SCCs off; repeat on the remainder.

Output matches Tarjan's PARTITION exactly (SCC structure is unique);
component ids here = min vertex id per SCC (canonical relabeling, same
contract as connected_components). The coloring priority is a seeded
HASH of the vertex id, not the id itself, so chain-shaped remainders
split into Θ(log n) expected color classes per round (random prefix
maxima) and the long-path worst case peels in O(log n) expected rounds
rather than one SCC per round (see _prio). Trivial (singleton) SCCs of
the current remainder are peeled in bulk each round: vertices with no
same-remainder in- or out-edges.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import _bfs_levels
from networkit_spark.plans.iterative import Checkpointer, materialize, truncate, unpersist


@dataclass
class SCCResult:
    labels: DataFrame  # (id, label) — label = min id in the SCC
    rounds: int
    history: list = field(default_factory=list)

    def number_of_components(self) -> int:
        return self.labels.select("label").distinct().count()

    def component_sizes(self) -> DataFrame:
        return self.labels.groupBy("label").agg(F.count("*").alias("size"))


def _prio(id_col) -> F.Column:
    """Random-but-deterministic vertex priority for the coloring phase.

    With color = max VERTEX ID of any forward-reaching ancestor, a long
    path whose ids DESCEND becomes one giant color class and the peel
    degenerates to one SCC per round (the disclosed pathology). A seeded
    hash priority makes the color-class roots the PREFIX MAXIMA of a
    random permutation along any chain — Θ(log n) expected roots per
    chain — so chains peel in O(log n) expected rounds instead of O(n)
    (the standard randomized-pivot argument for FW-BW/ColorSCC; Slota et
    al.'s multi-pivot trick). Correctness is priority-agnostic: any
    injective priority yields forward-reachability classes whose root's
    backward same-class reach is exactly the root's SCC."""
    return F.xxhash64(F.lit("scc-prio"), id_col)


def _propagate_max_color(vertices: DataFrame, edges: DataFrame,
                         ckpt: Checkpointer, tag: int) -> DataFrame:
    """colors(id, color): color = ID of the max-PRIORITY vertex whose
    forward reach includes v (fixed point over u→v edges). Pointer
    doubling keeps rounds logarithmic. Ties cannot occur within a hash
    value because (prio, id) pairs are lexicographically unique."""
    start = F.struct(_prio(F.col("id")).alias("p"), F.col("id").alias("cid"))
    colors = vertices.select("id", start.alias("color"))
    it = 0
    changed = 1
    while changed:
        it += 1
        msgs = colors.join(edges, colors.id == edges.src).select(
            F.col("dst").alias("id"), "color"
        )
        new = (
            colors.select("id", "color")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.max("color").alias("new_color"))
        )
        hop = new.select(
            F.col("id").alias("cid2"), F.col("new_color").alias("hop")
        )
        new = new.join(hop, new["new_color"]["cid"] == hop["cid2"], "left").select(
            "id",
            F.greatest("new_color", F.coalesce("hop", "new_color")).alias("new_color"),
        )
        merged = (
            colors.withColumnRenamed("color", "old")
            .join(new, "id")
            .select("id", F.col("new_color").alias("color"),
                    (F.col("new_color") != F.col("old")).alias("changed"))
        )
        snap = ckpt.save(merged, tag * 1000 + it, {"changed": F.count_if("changed")})
        changed = ckpt.records[-1]["changed"]
        colors = snap.select("id", "color")
    # expose the class id (the root vertex) — downstream only needs it
    return colors.select("id", F.col("color")["cid"].alias("color"))


def strongly_connected_components(graph: Graph, max_rounds: int = 1000) -> SCCResult:
    if not graph.directed:
        raise ValueError("SCC is defined for directed graphs; use "
                         "connected_components for undirected")
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="scc")
    remaining_v, left = materialize(graph.vertices())
    remaining_e = truncate(
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    out = None
    rounds = 0
    history: list[dict] = []
    while left["rows"] > 0 and rounds < max_rounds:
        rounds += 1
        # bulk-peel trivial SCCs: no in-edges or no out-edges in remainder
        has_out = remaining_e.select(F.col("src").alias("id")).distinct()
        has_in = remaining_e.select(F.col("dst").alias("id")).distinct()
        nontrivial = remaining_v.join(has_out, "id", "left_semi").join(
            has_in, "id", "left_semi"
        )
        trivial = remaining_v.join(nontrivial, "id", "left_anti").select(
            "id", F.col("id").alias("label")
        )
        trivial = ckpt.save(trivial, rounds * 100000)
        n_trivial = ckpt.records[-1]["rows"]
        if n_trivial:
            out = trivial if out is None else truncate(out.unionByName(trivial), release=out)
            remaining_v, left = materialize(
                remaining_v.join(trivial.select("id"), "id", "left_anti"),
                release=remaining_v,
            )
            remaining_e = truncate(
                remaining_e.join(trivial.select(F.col("id").alias("src")), "src", "left_anti")
                .join(trivial.select(F.col("id").alias("dst")), "dst", "left_anti")
                .select("src", "dst"),
                release=remaining_e,
            )
            if left["rows"] == 0:
                history.append({"round": rounds, "trivial": int(n_trivial), "scc": 0})
                break

        # 1. forward color propagation (max id wins)
        colors = _propagate_max_color(remaining_v, remaining_e, ckpt, rounds)

        # 2. backward reach to the root within each color class: the BFS
        # level kernel keyed by root over the reversed same-color arcs
        csrc = colors.select(F.col("id").alias("src"), F.col("color").alias("c_src"))
        cdst = colors.select(F.col("id").alias("dst"), F.col("color").alias("c_dst"))
        same_color_rev = truncate(
            remaining_e.join(csrc, "src").join(cdst, "dst")
            .filter(F.col("c_src") == F.col("c_dst"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))  # reversed
        )
        roots = colors.filter(F.col("id") == F.col("color")).select(
            F.col("color").alias("root"), "id"
        )
        member, _ = _bfs_levels(same_color_rev, roots, keys=("root",))

        scc = member.groupBy("root").agg(F.min("id").alias("label")).join(
            member, "root"
        ).select("id", "label")
        scc = ckpt.save(scc, rounds * 100000 + 99999)
        n_scc = ckpt.records[-1]["rows"]
        history.append({"round": rounds, "trivial": int(n_trivial), "scc": int(n_scc)})
        unpersist(same_color_rev, member)

        out = scc if out is None else truncate(out.unionByName(scc), release=out)
        remaining_v, left = materialize(
            remaining_v.join(scc.select("id"), "id", "left_anti"), release=remaining_v
        )
        remaining_e = truncate(
            remaining_e.join(scc.select(F.col("id").alias("src")), "src", "left_anti")
            .join(scc.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst"),
            release=remaining_e,
        )
    ckpt.close()
    labels = out if out is not None else graph.vertices().select(
        "id", F.col("id").alias("label")
    )
    return SCCResult(labels=labels, rounds=rounds, history=history)
