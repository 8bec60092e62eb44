"""GCE — greedy community expansion from a seed set.

Reference (networkit/cpp/scd/GCE.cpp:23-112, LocalCommunity.hpp):
- objective "M": Q = intW / cut; ΔM for adding shell node v =
  (intW + intDeg(v)) / (cut − intDeg(v) + extDeg(v)) − Q  (:42-46);
- objective "L": Q = 2·intW·B / (|C|·cut) with B = boundary size
  (members with ≥1 external neighbor); ΔL uses the boundary change of
  adding v: −1 for every member neighbor whose ONLY external weight is
  v, +1 if v itself keeps an external neighbor (:52-63, 77-81);
- loop: add the shell node with max ΔQ while ΔQ > 0 (dQMax starts at
  0.0, strict `>`, :84-108); ties broken by the reference's
  IncrementalUniformRandomSelector — nondeterministic, substituted by
  smallest node id (documented);
- self-loops rejected (:18-20).

Spark shape: the community is one greedy pick per step (inherently
sequential, like LFMLocal); each step is ONE gather join computing
intDeg/extDeg for the whole shell at once plus a shell-sized argmax.
All state that must be exact (intW, cut, B, Q) is O(1) driver scalars
updated incrementally; the shell/boundary tables are
community-adjacency-sized, never corpus-sized. Like the reference,
run time is O(|C|) supersteps — a seed-local operator, not a
whole-graph sweep (pytest-scale driver contract, same disclosure as
LFM).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


def gce_expand(
    graph: Graph, seeds, objective: str = "M", max_steps: int = 10000
) -> set[int]:
    """Expand `seeds` into a community with the GCE greedy;
    returns the member set (GCE.cpp expandOneCommunity)."""
    if objective not in ("M", "L"):
        raise ValueError("unknown objective function")
    if graph.number_of_self_loops() > 0:
        raise ValueError("Graphs with self-loops are not supported in GCE")
    arcs = graph.edges.select(
        "src", "dst",
        (F.col("weight") if graph.weighted else F.lit(1.0)).alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    arcs.count()
    spark = graph.edges.sparkSession

    members = {int(s) for s in seeds}

    def shell_stats():
        """Shell table (id, int_deg, ext_deg) and the member external
        arc table (src ∈ C, dst ∉ C, w) — one pass over the member
        adjacency."""
        mdf = F.broadcast(
            local_frame(spark, [(m,) for m in members], "id long")
        )
        touching = arcs.join(
            mdf.withColumnRenamed("id", "dst"), "dst", "left_semi"
        )
        int_deg = touching.groupBy("src").agg(F.sum("w").alias("int_deg"))
        wdeg = arcs.groupBy("src").agg(F.sum("w").alias("wdeg"))
        stats = (
            int_deg.join(wdeg, "src")
            .select(
                F.col("src").alias("id"), "int_deg",
                (F.col("wdeg") - F.col("int_deg")).alias("ext_deg"),
            )
        )
        in_c = F.col("id").isin(*members)
        ext_arcs = (
            arcs.join(mdf.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(mdf.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        return stats.filter(~in_c), ext_arcs

    # initial aggregates: intW = Σ w over arcs with both ends in C (each
    # undirected edge twice in arcs → /2), cut = Σ w member→outside.
    def _init():
        mdf = F.broadcast(
            local_frame(spark, [(m,) for m in members], "id long")
        )
        both = arcs.join(mdf.withColumnRenamed("id", "src"), "src", "left_semi") \
                   .join(mdf.withColumnRenamed("id", "dst"), "dst", "left_semi")
        int2 = both.agg(F.sum("w")).first()[0] or 0.0
        out = arcs.join(mdf.withColumnRenamed("id", "src"), "src", "left_semi") \
                  .join(mdf.withColumnRenamed("id", "dst"), "dst", "left_anti")
        cut = out.agg(F.sum("w")).first()[0] or 0.0
        return float(int2) / 2.0, float(cut)

    int_w, cut = _init()

    for _ in range(max_steps):
        shell, ext_arcs = shell_stats()
        if objective == "M":
            cur_q = int_w / cut if cut > 0 else 0.0
            denom = F.lit(cut) - F.col("int_deg") + F.col("ext_deg")
            # denom = 0 ⟺ adding v closes the whole component: C++ gets
            # +inf/0 and picks it; Spark non-ANSI division yields NULL,
            # so make the +inf explicit.
            dq = (
                F.when(
                    denom > 0,
                    (F.lit(int_w) + F.col("int_deg")) / denom,
                ).otherwise(F.lit(float("inf")))
                - F.lit(cur_q)
            )
            cand = shell.select("id", "int_deg", "ext_deg", dq.alias("dq"))
        else:
            ext_arcs = ext_arcs.persist()
            ext_cnt = ext_arcs.groupBy("src").agg(
                F.count("*").alias("ext_cnt")
            )
            b = ext_cnt.count()  # boundary = members with ≥1 external nbr
            csize = len(members)
            cur_q = (
                (2.0 * int_w * b) / (csize * cut) if cut > 0 and csize else 0.0
            )
            # boundaryChange(v): −1 per boundary member whose ONLY
            # external neighbor is v (LocalCommunity.hpp:110-127);
            # +1 if v keeps an external neighbor after joining.
            closing = (
                ext_arcs.join(
                    ext_cnt.filter(F.col("ext_cnt") == 1), "src", "left_semi"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count("*").alias("closed"))
            )
            cand = (
                shell.join(closing, "id", "left")
                .withColumn(
                    "bchange",
                    -F.coalesce("closed", F.lit(0))
                    + F.when(F.col("ext_deg") > 0, F.lit(1)).otherwise(F.lit(0)),
                )
                .select(
                    "id", "int_deg", "ext_deg",
                    (
                        (F.lit(2.0) * (F.lit(int_w) + F.col("int_deg"))
                         * (F.lit(float(b)) + F.col("bchange")))
                        / (F.lit(float(csize + 1))
                           * (F.lit(cut) - F.col("int_deg") + F.col("ext_deg")))
                        - F.lit(cur_q)
                    ).alias("dq"),
                )
            )
        top = (
            cand.filter(F.col("dq") > 0)
            .orderBy(F.col("dq").desc(), F.col("id").asc())
            .first()
        )
        if objective == "L":
            ext_arcs.unpersist()
        if top is None:
            break
        members.add(int(top["id"]))
        int_w += float(top["int_deg"])
        cut += float(top["ext_deg"]) - float(top["int_deg"])
    arcs.unpersist()
    return members
