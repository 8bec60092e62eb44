"""LFM overlapping community detection as batched parallel expansions.

Reference semantics: LFM (networkit/cpp/community/LFM.cpp:17-41) visits
nodes in random order and, for every node not yet covered, expands one
community around it with LFMLocal (networkit/cpp/scd/LFMLocal.cpp:12-98,
Lancichinetti–Fortunato–Kertész fitness):

    q(W, c) = 2W / (2W + c)^alpha        [W internal weight, c cut]

    grow:   repeatedly add the shell node with the LARGEST STRICTLY
            POSITIVE fitness gain; after every addition run the
    removal: loop — repeatedly remove the non-seed member whose removal
            INCREASES fitness the most — until stable;
    stop:   when no shell node has positive gain. The seed is never
            removed; communities may overlap (a Cover, not a Partition).

The reference is sequential (one community at a time, random order,
random tie-breaks). The engine's schedule is the deterministic parallel
equivalent: per ROUND the seed batch is every uncovered node that is a
LOCAL ID-MINIMUM among uncovered neighbors (an independent set — one
join), and all seed communities expand SIMULTANEOUSLY in one member
DataFrame keyed by seed. One superstep = one gather join producing the
internal degree of every member and shell node of every community at
once, then a struct-max argmax per seed (gain desc, id asc tie) adds
one node per community — exactly LFMLocal's per-community step, run for
all communities in parallel. Ties break by id instead of the
reference's uniform random pick (LFM is nondeterministic by design;
the fixed-point contract, not the trace, is the testable property —
locked in tests/test_lfm.py: no shell node of a final community has a
positive gain, no non-seed member has an improving removal).

Scale: per superstep ONE shuffle join sized by the volume of all active
communities plus two seed-keyed aggregations; supersteps are bounded by
the largest community size (LFM communities are local by construction —
alpha controls their radius).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, materialize, truncate
from networkit_spark.session import local_frame


def _q(w, c, alpha: float):
    # 2W / (2W + c)^alpha; callers guarantee 2W + c > 0
    return 2.0 * w / F.pow(2.0 * w + c, F.lit(alpha))


def lfm_cover(
    graph: Graph,
    alpha: float = 1.0,
    max_rounds: int = 64,
    max_supersteps: int = 100_000,
) -> DataFrame:
    """(community, id) cover — community = the seed node's id. Every
    vertex belongs to >= 1 community (LFM.cpp guarantees a full cover);
    communities overlap freely."""
    if graph.directed:
        raise ValueError("LFM operates on undirected graphs")
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="lfm")

    sym = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", "weight")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wdeg = (
        graph.vertices()
        .join(sym.groupBy(F.col("src").alias("id"))
                 .agg(F.sum("weight").alias("wdeg")), "id", "left")
        .fillna(0.0, ["wdeg"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    cover = local_frame(spark, [], "community long, id long")
    covered = local_frame(spark, [], "id long")
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        uncovered, seen = materialize(graph.vertices().join(covered, "id", "left_anti"))
        if seen["rows"] == 0:
            break
        # seed batch: uncovered local id-minima among uncovered neighbors
        unc_edges = (
            sym.join(uncovered.withColumnRenamed("id", "src"), "src")
            .join(uncovered.withColumnRenamed("id", "dst"), "dst")
        )
        nbr_min = unc_edges.groupBy(F.col("src").alias("id")).agg(
            F.min("dst").alias("mn")
        )
        seeds = (
            uncovered.join(nbr_min, "id", "left")
            .filter(F.col("mn").isNull() | (F.col("id") < F.col("mn")))
            .select("id")
        )
        member = _expand_batch(spark, sym, wdeg, seeds, alpha,
                               max_supersteps, ckpt)
        cover = truncate(cover.unionByName(member), release=cover)
        covered = truncate(
            covered.unionByName(member.select("id")).distinct(),
            release=covered,
        )
    sym.unpersist()
    wdeg.unpersist()
    ckpt.close()
    return cover


def _stats(msgs: DataFrame, member: DataFrame, wdeg: DataFrame):
    """Per-seed (W, cut) plus per-member/shell internal degrees, all from
    one gather join's output. msgs = (community, id, ideg)."""
    mdeg = (
        member.join(msgs, ["community", "id"], "left")
        .fillna(0.0, ["ideg"])
        .join(wdeg, "id")
    )
    stat = mdeg.groupBy("community").agg(
        (F.sum("ideg") / 2.0).alias("w"),
        (F.sum("wdeg") - F.sum("ideg")).alias("cut"),
    )
    return mdeg, stat


def _expand_batch(spark, sym, wdeg, seeds, alpha, max_supersteps, ckpt):
    member = truncate(
        seeds.select(F.col("id").alias("community"), "id")
    )
    step = 0
    while step < max_supersteps:
        step += 1
        msgs = (
            member.join(sym, member.id == sym.src)
            .groupBy("community", F.col("dst").alias("id"))
            .agg(F.sum("weight").alias("ideg"))
        )
        msgs = ckpt.save(msgs, step, None)
        mdeg, stat = _stats(msgs, member, wdeg)
        shell = (
            msgs.join(member, ["community", "id"], "left_anti")
            .join(wdeg, "id")
            .join(stat, "community")
            .filter(2.0 * F.col("w") + F.col("cut") > 0)
        )
        gains = shell.select(
            "community", "id",
            (
                _q(F.col("w") + F.col("ideg"),
                   F.col("cut") - F.col("ideg") + (F.col("wdeg") - F.col("ideg")),
                   alpha)
                - _q(F.col("w"), F.col("cut"), alpha)
            ).alias("gain"),
        ).filter(F.col("gain") > 0)
        picks = (
            gains.groupBy("community")
            .agg(F.max(F.struct(F.col("gain"), (-F.col("id")).alias("nid")))
                 .alias("best"))
            .select("community", (-F.col("best.nid")).alias("id"))
        )
        picks = ckpt.save(picks, step)
        if ckpt.records[-1]["rows"] == 0:
            break
        member = truncate(member.unionByName(picks), release=member)
        member = _removal_loop(member, sym, wdeg, alpha, ckpt, step,
                               max_inner=10_000)
    return member


def _removal_loop(member, sym, wdeg, alpha, ckpt, step, max_inner):
    """LFMLocal.cpp:60-92 — repeatedly drop the non-seed member whose
    removal improves fitness the most (one per community per pass)."""
    inner = 0
    while inner < max_inner:
        inner += 1
        msgs = (
            member.join(sym, member.id == sym.src)
            .groupBy("community", F.col("dst").alias("id"))
            .agg(F.sum("weight").alias("ideg"))
        )
        mdeg, stat = _stats(msgs, member, wdeg)
        cand = (
            mdeg.filter(F.col("id") != F.col("community"))  # never the seed
            .join(stat, "community")
            .filter(2.0 * F.col("w") + F.col("cut") > 0)
            .select(
                "community", "id",
                (
                    _q(F.col("w") - F.col("ideg"),
                       F.col("cut") + F.col("ideg")
                       - (F.col("wdeg") - F.col("ideg")),
                       alpha)
                    - _q(F.col("w"), F.col("cut"), alpha)
                ).alias("gain"),
            )
            .filter(F.col("gain") > 0)
        )
        drops = (
            cand.groupBy("community")
            .agg(F.max(F.struct(F.col("gain"), (-F.col("id")).alias("nid")))
                 .alias("best"))
            .select("community", (-F.col("best.nid")).alias("id"))
        )
        drops = ckpt.save(drops, step)
        if ckpt.records[-1]["rows"] == 0:
            return member
        member = truncate(member.join(drops, ["community", "id"], "left_anti"),
                          release=member)
    return member
