"""Degree-sequence generators: Erdős–Gallai realizability, Havel–Hakimi,
ConfigurationModel, EdgeSwitchingMarkovChainGenerator.

Reference:
- StaticDegreeSequenceGenerator.cpp:23-101 — isRealizable = even degree
  sum, max degree < n, and the Erdős–Gallai inequalities
  sum_{i<=j} d_i <= j(j+1) + sum_{i>j} min(j+1, d_i) over the
  descending-sorted sequence.
- HavelHakimiGenerator.cpp:22-115 — deterministic bucket-list greedy:
  repeatedly connect the max-deficit node to the next-highest-deficit
  nodes, moving touched nodes one bucket down (front-insert order).
- ConfigurationModel.cpp:23-90 — uniform simple graph with the EXACT
  degree sequence via stub-urn sampling + whole-graph rejection.
- EdgeSwitchingMarkovChainGenerator.cpp:12-21 — Havel–Hakimi seed graph
  randomized by an edge-switching Markov chain.

Spark shapes:
- Erdős–Gallai runs fully distributed: one descending global rank
  (two-phase plan), one prefix sum, and the per-j count term
  cnt(j+1) = |{i : d_i >= j+1}| evaluated for EVERY j in one pass by
  merging "degree events" (at value d_i − 1) with "query events" (at
  value j) on a single composite ordering and taking a running count —
  no quadratic self-join, no spine table.
- Havel–Hakimi construction is inherently sequential (every connection
  depends on all previous bucket moves), so the bucket loop runs on the
  driver over the collected sequence — gated by max_driver_nodes — and
  only the realizability gate and the output edge table are
  distributed. This mirrors the engine's DFS policy (traversal.DFSfrom).
- ConfigurationModel pairs ALL stubs at once on a hash ordering and
  iteratively re-pairs only the conflicted stubs (self-loops, duplicate
  pairs, collisions with accepted edges) under a fresh salt; when
  re-pairing stalls it swaps conflicted pairs against hash-sampled
  accepted edges (degree-preserving 2-swaps). Degrees stay EXACT by
  stub conservation; the whole-graph rejection loop of the reference is
  replaced by this local-repair process (stated substitute — same
  support, not the exactly-uniform distribution).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from networkit_spark.operators.randomization import _mix
from networkit_spark.plans.iterative import truncate
from networkit_spark.plans.ranking import (
    global_prefix_sums,
    global_ranks_score_desc,
)
from networkit_spark.session import local_frame


def is_realizable(deg: DataFrame) -> bool:
    """True iff the degree sequence in `deg` (columns id, deg) is
    graphical — StaticDegreeSequenceGenerator::isRealizable, evaluated
    distributed (see module docstring for the event-merge shape)."""
    n = deg.count()
    if n == 0:
        return True
    agg = deg.agg(F.sum("deg").alias("s"), F.max("deg").alias("m")).first()
    total, mx = int(agg["s"] or 0), int(agg["m"] or 0)
    if mx >= n or total % 2 != 0:
        return False
    ranked = global_ranks_score_desc(deg, "deg", ["id"], "j")
    pre = global_prefix_sums(ranked, "j", "deg", "pre")
    big = 2 * n + 4
    # degree event at value d_i − 1 (it supports all thresholds j <= d_i−1),
    # query event at value j; descending composite key, deg events first
    # at equal value → exclusive running count at a query row is
    # cnt(j+1) = |{i : d_i >= j+1}|.
    ev_deg = pre.select(
        ((F.lit(n - 1) - (F.col("deg") - 1)) * big + F.col("j")).alias("key"),
        F.lit(1).alias("isd"),
        F.lit(None).cast("long").alias("qj"),
    )
    ev_q = pre.select(
        ((F.lit(n - 1) - F.col("j")) * big + F.lit(n + 2) + F.col("j")).alias("key"),
        F.lit(0).alias("isd"),
        F.col("j").alias("qj"),
    )
    cum = global_prefix_sums(ev_deg.unionByName(ev_q), "key", "isd", "cnt")
    cntj = cum.filter(F.col("qj").isNotNull()).select(
        F.col("qj").alias("j"), F.col("cnt").alias("cntj")
    )
    pq = pre.select(
        F.col("j").alias("qm1"), (F.col("pre") + F.col("deg")).alias("pq")
    )
    chk = (
        pre.join(cntj, "j")
        .withColumn("q", F.greatest(F.col("j") + 1, F.col("cntj")))
        .join(pq, F.col("q") - 1 == F.col("qm1"))
        .withColumn(
            "rhs",
            F.col("j") * (F.col("j") + 1)
            + (F.col("j") + 1)
            * F.greatest(F.lit(0), F.col("cntj") - (F.col("j") + 1))
            + (F.lit(total) - F.col("pq")),
        )
        .withColumn("lhs", F.col("pre") + F.col("deg"))
    )
    return chk.filter(F.col("lhs") > F.col("rhs")).limit(1).count() == 0


def _havel_hakimi_edges(seq: list[int], ignore: bool = False) -> list[tuple]:
    """The reference bucket-list loop verbatim
    (HavelHakimiGenerator.cpp:22-115): nodes front-inserted per deficit,
    max-deficit node connects downward, touched nodes move one bucket
    lower in reverse stack order."""
    n = len(seq)
    if n == 0:
        return []
    num_deg_vals = max(seq) + 1
    buckets: list[deque] = [deque() for _ in range(num_deg_vals)]
    for v in range(n):
        buckets[seq[v]].appendleft((seq[v], v))
    edges: list[tuple] = []
    max_deficit = num_deg_vals - 1
    while max_deficit:
        while buckets[max_deficit]:
            deficit, current = buckets[max_deficit].popleft()
            cur_list = max_deficit
            num_to_move = []
            while deficit:
                num_del = 0
                for (_, nxt) in buckets[cur_list]:
                    edges.append((current, nxt))
                    deficit -= 1
                    num_del += 1
                    if deficit == 0:
                        cur_list += 1  # offsets the unconditional -- below
                        break
                num_to_move.append(num_del)
                if cur_list == 1:
                    # ran out of positive-deficit partners
                    if not ignore:
                        raise ValueError("Degree sequence is not realizable")
                    break
                cur_list -= 1
            while num_to_move:
                num = num_to_move.pop()
                for _ in range(num):
                    d2, nd = buckets[cur_list].popleft()
                    buckets[cur_list - 1].appendleft((d2 - 1, nd))
                cur_list += 1
        max_deficit -= 1
    return edges


def havel_hakimi(
    spark: SparkSession,
    deg: DataFrame,
    ignore_if_not_realizable: bool = False,
    max_driver_nodes: int = 2_000_000,
) -> DataFrame:
    """(src, dst, weight) — the deterministic Havel–Hakimi graph of the
    degree sequence (columns id, deg). The bucket construction is the
    driver-side reference loop (inherently sequential — gated at
    max_driver_nodes); ids map back to the caller's id space in
    ascending-id order."""
    rows = deg.select("id", "deg").collect()
    if len(rows) > max_driver_nodes:
        raise ValueError(
            f"havel_hakimi: {len(rows)} nodes exceeds the driver gate "
            f"({max_driver_nodes}); use configuration_model for "
            "distributed construction"
        )
    rows.sort(key=lambda r: r["id"])
    ids = [r["id"] for r in rows]
    seq = [int(r["deg"]) for r in rows]
    edges = _havel_hakimi_edges(seq, ignore=ignore_if_not_realizable)
    return local_frame(
        spark, [(ids[a], ids[b], 1.0) for a, b in edges],
        "src long, dst long, weight double",
    )


def _pair_all_stubs(stubs: DataFrame, salt: int, seed: int) -> DataFrame:
    """(a, sa, b, sb) — zip-pair every stub on the salted hash ordering
    (two-phase global ranking; total stub count is even by construction)."""
    keyed = stubs.withColumn(
        "key", _mix(F.col("id"), F.col("stub"), F.lit(salt), F.lit(seed))
    )
    ranked = global_ranks_score_desc(keyed, "key", ["id", "stub"], "rn")
    pairs = ranked.withColumn("pair", F.floor(F.col("rn") / 2)).withColumn(
        "side", F.pmod(F.col("rn"), F.lit(2))
    )
    lhs = pairs.filter(F.col("side") == 0).select(
        "pair", F.col("id").alias("a"), F.col("stub").alias("sa")
    )
    rhs = pairs.filter(F.col("side") == 1).select(
        "pair", F.col("id").alias("b"), F.col("stub").alias("sb")
    )
    return lhs.join(rhs, "pair").drop("pair")


def configuration_model(
    spark: SparkSession,
    deg: DataFrame,
    seed: int = 1,
    max_rounds: int = 24,
) -> DataFrame:
    """(src, dst, weight) with src < dst — a simple graph realizing the
    degree sequence EXACTLY (ConfigurationModel.cpp contract), built by
    iterative conflicted-stub re-pairing + stall-breaking 2-swaps (see
    module docstring). Raises if the sequence is not realizable (ctor
    parity, ConfigurationModel.cpp:18-21) or if repair fails to
    converge within max_rounds."""
    if not is_realizable(deg):
        raise ValueError("Degree sequence is not realizable")
    stubs = truncate(
        deg.filter(F.col("deg") > 0).select(
            "id",
            F.explode(F.sequence(F.lit(1), F.col("deg"))).alias("stub"),
        )
    )
    accepted = truncate(
        local_frame(spark, [], "u long, v long")
    )
    prev_count = None
    for rnd in range(max_rounds):
        n_stubs = stubs.count()
        if n_stubs == 0:
            break
        if prev_count is not None and n_stubs >= prev_count:
            # re-pairing stalled — degree-preserving 2-swaps against
            # hash-sampled accepted edges clear the residue
            accepted, stubs = _swap_repair(spark, accepted, stubs, rnd, seed)
            prev_count = None
            continue
        prev_count = n_stubs
        paired = _pair_all_stubs(stubs, rnd, seed)
        cand = paired.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"),
            "a", "sa", "b", "sb",
        )
        # keep one candidate per new (u,v); reject self-pairs and
        # collisions with accepted edges
        cand = cand.withColumn(
            "rk1",
            F.row_number().over(Window.partitionBy("u", "v").orderBy("a", "sa")),
        )
        good = (
            cand.filter((F.col("a") != F.col("b")) & (F.col("rk1") == 1))
            .join(accepted, ["u", "v"], "left_anti")
        )
        accepted = truncate(
            accepted.unionByName(good.select("u", "v")), release=accepted
        )
        bad = cand.join(good.select("u", "v", "sa", "sb"), ["u", "v", "sa", "sb"], "left_anti")
        stubs = truncate(
            bad.select(F.col("a").alias("id"), F.col("sa").alias("stub"))
            .unionByName(bad.select(F.col("b").alias("id"), F.col("sb").alias("stub"))),
            release=stubs,
        )
    if stubs.count() != 0:
        raise ValueError(
            "configuration_model: conflicted stubs remain after "
            f"{max_rounds} repair rounds"
        )
    return accepted.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1.0).alias("weight")
    )


def _swap_repair(spark, accepted: DataFrame, stubs: DataFrame, salt: int, seed: int):
    """Resolve residual stub pairs by 2-swaps: zip leftover pairs with
    hash-ranked accepted edges (c,d); propose (a,c)+(b,d); apply the
    proposals that form no self-loop, no duplicate, and no intra-batch
    collision. Unresolved stubs return for the next round."""

    paired = _pair_all_stubs(stubs, 1_000_003 + salt, seed)
    pr = global_ranks_score_desc(
        paired.withColumn("h", _mix(F.col("a"), F.col("b"), F.lit(salt), F.lit(seed + 7))),
        "h", ["a", "sa"], "zrn",
    )
    ar = global_ranks_score_desc(
        accepted.withColumn("h", _mix(F.col("u"), F.col("v"), F.lit(salt), F.lit(seed + 11))),
        "h", ["u", "v"], "zrn",
    )
    prop = pr.join(
        ar.select("zrn", F.col("u").alias("c"), F.col("v").alias("d")), "zrn"
    )
    # new edges (a,c) and (b,d), canonical
    prop = prop.select(
        "a", "sa", "b", "sb", "c", "d",
        F.least("a", "c").alias("u1"), F.greatest("a", "c").alias("v1"),
        F.least("b", "d").alias("u2"), F.greatest("b", "d").alias("v2"),
    ).filter(
        (F.col("a") != F.col("c")) & (F.col("b") != F.col("d"))
        & ~((F.col("u1") == F.col("u2")) & (F.col("v1") == F.col("v2")))
    )
    # no collision with accepted (minus the edge being consumed) and no
    # intra-batch collisions: keep proposals whose BOTH new edges are
    # globally unique in this batch and absent from accepted
    newe = prop.select(F.col("u1").alias("u"), F.col("v1").alias("v"), "a", "sa") \
        .unionByName(prop.select(F.col("u2").alias("u"), F.col("v2").alias("v"), "a", "sa"))
    wdup = Window.partitionBy("u", "v")
    flagged = newe.withColumn("cnt", F.count("*").over(wdup))
    bad_keys = (
        flagged.filter(F.col("cnt") > 1).select("a", "sa")
        .unionByName(
            newe.join(accepted, ["u", "v"], "left_semi").select("a", "sa")
        )
        .distinct()
    )
    ok = prop.join(bad_keys, ["a", "sa"], "left_anti")
    consumed = ok.select(F.col("c").alias("u"), F.col("d").alias("v"))
    added = ok.select(F.col("u1").alias("u"), F.col("v1").alias("v")).unionByName(
        ok.select(F.col("u2").alias("u"), F.col("v2").alias("v"))
    )
    new_accepted = truncate(
        accepted.join(consumed, ["u", "v"], "left_anti").unionByName(added),
        release=accepted,
    )
    left = paired.join(ok.select("a", "sa"), ["a", "sa"], "left_anti")
    new_stubs = truncate(
        left.select(F.col("a").alias("id"), F.col("sa").alias("stub")).unionByName(
            left.select(F.col("b").alias("id"), F.col("sb").alias("stub"))
        ),
        release=stubs,
    )
    return new_accepted, new_stubs


def edge_switching_markov_chain(
    spark: SparkSession,
    deg: DataFrame,
    ignore_if_not_realizable: bool = False,
    num_switches_per_edge: float = 10.0,
    seed: int = 1,
) -> DataFrame:
    """(src, dst, weight) — EdgeSwitchingMarkovChainGenerator.cpp:12-21:
    the Havel–Hakimi graph randomized by the edge-switching chain
    (operators/randomization.edge_switching, the batched disjoint-swap
    substitute). Degrees and simplicity are invariant under every
    accepted swap."""
    from networkit_spark.graph import Graph
    from networkit_spark.operators.randomization import edge_switching

    hh = havel_hakimi(spark, deg, ignore_if_not_realizable=ignore_if_not_realizable)
    vertices = deg.select("id")
    g = Graph.from_edges(hh, directed=False, vertices=vertices)
    out = edge_switching(g, switches_per_edge=num_switches_per_edge, seed=seed)
    return out.edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).distinct()
