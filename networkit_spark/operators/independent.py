"""Luby maximal independent set (reference: cpp/independentset/Luby.cpp).

Semantics reproduced (Luby.cpp run()):
- nodes are selected into the round's candidate set S with probability
  1/(2·wdeg'(u)) where wdeg' is the weighted degree restricted to still-
  active nodes (Luby.cpp nodeProbability); an active node whose active
  weighted degree is 0 is always selected (p = ∞);
- for every conflict edge (u, v) with u < v and both endpoints in S, the
  endpoint with the SMALLER active weighted degree is dropped, u on ties
  (Luby.cpp:57-71: "if wdeg(u) > wdeg(v) drop v else drop u");
- survivors S' join the independent set I; S' and all its neighbors leave
  the active set (Luby.cpp:74-88);
- loop until no active nodes remain ⇒ I is a MAXIMAL independent set
  (every node is in I or adjacent to I), and independence is invariant.

Determinism: the reference draws Aux::Random::probability() (global URNG,
run-to-run nondeterministic; its own test contract is only
IndependentSetFinder::isIndependentSet). This engine replaces every draw
with the seeded integer hash shared with the DuckDB oracle (same
quadratic-rounds scheme as operators/embedding.py):

    idm = id mod 1000003
    h1  = (idm·2654435761 + round·40503 + seed·1000003) mod M
    h2  = (h1² + 2654435761·h1 + 40503) mod M        (M = 1_000_000_007)
    h3  = (h2² + 97·h2 + 1000003) mod M
    u   = (h3 + 1) / (M + 1) ∈ (0, 1]

so the whole run is a pure function of (graph, seed) and replays in ANSI
SQL round by round (oracles.luby_sql). All products stay under 2^63 —
Spark (ANSI) and DuckDB evaluate identical exact integer arithmetic.

Resolution difference, stated: the reference resolves S-conflicts under a
sequential critical section (dropping a node can rescue its other
conflicts); this engine drops ALL per-edge losers of one round
simultaneously (batched — the only scalable form). Dropped nodes stay
ACTIVE and are redrawn next round, so independence, maximality, and
O(log n) expected round count are preserved; only which MIS comes out
differs — exactly the freedom the reference's nondeterminism already has.

Spark shape (100 TB path): per round two hash-aggregations over the
symmetrized arc table (active-restricted weighted degree; loser set) and
two hash joins (conflict edges within S; neighbor removal). The arc table
is partitioned by src once and never re-shuffled; round state is one
boolean-ish column per vertex, lineage-truncated per round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame

M = 1_000_000_007


def _u(id_col: Column, rnd: int, seed: int) -> Column:
    """Seeded uniform draw in (0, 1] for (node, round) — shared arithmetic
    with oracles.luby_u_sql; change together."""
    idm = id_col % F.lit(1000003)
    h1 = (idm * F.lit(2654435761) + F.lit(rnd * 40503 + seed * 1000003)) % F.lit(M)
    h2 = (h1 * h1 + F.lit(2654435761) * h1 + F.lit(40503)) % F.lit(M)
    h3 = (h2 * h2 + F.lit(97) * h2 + F.lit(1000003)) % F.lit(M)
    return (h3 + F.lit(1)).cast("double") / F.lit(float(M + 1))


@dataclass
class LubyResult:
    members: DataFrame  # (id) — the maximal independent set
    rounds: int


def luby_independent_set(g: Graph, seed: int = 1, max_rounds: int = 64) -> LubyResult:
    """Run Luby to completion (active set empty). Raises on directed graphs
    like the reference (Luby.cpp:15-17) and if max_rounds is exceeded."""
    if g.directed:
        raise ValueError(
            "current implementation can only deal with undirected graphs"
        )
    spark = g.edges.sparkSession
    sym = (
        g.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", "weight")
        .repartition(g.num_partitions or 32, "src")
        .persist()
    )
    sym.count()

    active = truncate(g.vertices().select("id"))
    members = local_frame(spark, [], "id long")
    rounds = 0
    try:
        while rounds < max_rounds:
            if active.isEmpty():
                break
            rounds += 1
            # active-restricted weighted degree (Luby.cpp weightedDegree)
            wdeg = (
                sym.join(active.withColumnRenamed("id", "src"), "src")
                .join(active.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum("weight").alias("wdeg"))
            )
            st = (
                active.join(wdeg.withColumnRenamed("src", "id"), "id", "left")
                .select("id", F.coalesce("wdeg", F.lit(0.0)).alias("wdeg"))
            )
            # S: u < 1/(2 wdeg); wdeg = 0 → always selected
            s = st.filter(
                (F.col("wdeg") == 0.0)
                | (_u(F.col("id"), rounds, seed) < 1.0 / (2.0 * F.col("wdeg")))
            ).persist()
            # conflict edges inside S, u < v once; loser = smaller wdeg, u on tie
            su = s.select(F.col("id").alias("src"), F.col("wdeg").alias("wu"))
            sv = s.select(F.col("id").alias("dst"), F.col("wdeg").alias("wv"))
            conf = (
                sym.filter(F.col("src") < F.col("dst"))
                .join(su, "src")
                .join(sv, "dst")
                .select(
                    F.when(F.col("wu") > F.col("wv"), F.col("dst"))
                    .otherwise(F.col("src"))
                    .alias("id")
                )
                .distinct()
            )
            sp = s.select("id").join(conf, "id", "left_anti")
            members = truncate(members.unionByName(sp), release=members)
            # remove S' and its neighborhood from the active set
            removed = sp.unionByName(
                sym.join(sp.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            active = truncate(
                active.join(removed, "id", "left_anti"), release=active
            )
            s.unpersist()
        else:
            if not active.isEmpty():
                raise RuntimeError(
                    f"Luby did not converge within {max_rounds} rounds"
                )
    finally:
        sym.unpersist()
        active.unpersist()
    return LubyResult(members=members, rounds=rounds)


def is_independent_set(g: Graph, members: DataFrame) -> bool:
    """IndependentSetFinder::isIndependentSet: no non-loop edge has both
    endpoints in the set."""
    sym = g.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    return (
        sym.join(members.withColumnRenamed("id", "src"), "src")
        .join(members.withColumnRenamed("id", "dst"), "dst")
        .isEmpty()
    )


def is_maximal_independent_set(g: Graph, members: DataFrame) -> bool:
    """Maximality: every vertex is in the set or adjacent to a member."""
    sym = g.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    covered = members.unionByName(
        sym.join(members.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id"))
    ).distinct()
    return g.vertices().join(covered, "id", "left_anti").isEmpty()
