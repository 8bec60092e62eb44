"""EpidemicSimulationSEIR (reference: cpp/simulation/
EpidemicSimulationSEIR.cpp): discrete-time SEIR compartment simulation
over a graph — Susceptible / Exposed / Infectious / Removed, states
coded 0/1/2/3 (the reference's State enum order, EpidemicSimulationSEIR
.hpp:51).

Reference semantics (run(), :20-97), made synchronous + deterministic:
- init: every node S with timestamp 0; patient `zero` set to I
  (timestamp 0) before the loop;
- per step t = 0..t_max−1 (one `sweep` pass):
  - every node that is I at the START of the sweep contacts each of its
    neighbors; a contacted S node becomes E (timestamp t) when the
    contact draw succeeds (`prob ≤ trans_p`, :40-44);
  - an E node with t − timestamp ≥ e_time becomes I (timestamp t);
  - an I node with t − timestamp ≥ i_time becomes R (timestamp t) —
    AFTER contacting its neighbors this sweep (:55-59 order);
  - census after the sweep appends one row per state:
    (zero, t, state, population) (:87-92).
- the reference's parallel sweep updates state in place (OpenMP races ⇒
  run-to-run nondeterministic; its own test only checks census shape and
  monotone compartment totals, SimulationGTest). This engine evaluates
  each sweep from the PRE-sweep state (the synchronous limit) and
  replaces Aux::Random::probability() with a seeded quadratic integer
  hash per (infectious u, neighbor v, t) — the same scheme as
  operators/independent.py — so the whole simulation is a pure function
  of (graph, params, seed) and replays exactly in ANSI SQL
  (oracles.seir_sql).

Spark shape: state is one row per vertex (id, st, ts); each sweep is
one join of the infectious frontier against the arc table + one distinct
aggregation (exposure set) + one projection (transitions) — the PageRank
superstep shape. Census = one groupBy(st).count() per step (4-row
result); lineage truncated per sweep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame

M = 1_000_000_007


def _u(src: Column, dst: Column, t: int, seed: int) -> Column:
    """Seeded uniform draw in (0, 1] for the contact (src → dst, t) —
    shared arithmetic with oracles.seir_u_chain; change together."""
    mix = (
        (src % F.lit(1000003)) * F.lit(2654435761)
        + (dst % F.lit(1000003)) * F.lit(97)
        + F.lit(t * 40503 + seed * 1000003)
    ) % F.lit(M)
    h2 = (mix * mix + F.lit(2654435761) * mix + F.lit(40503)) % F.lit(M)
    h3 = (h2 * h2 + F.lit(97) * h2 + F.lit(1000003)) % F.lit(M)
    return (h3 + F.lit(1)).cast("double") / F.lit(float(M + 1))


def epidemic_seir(
    g: Graph,
    t_max: int = 8,
    trans_p: float = 0.5,
    e_time: int = 2,
    i_time: int = 7,
    zero: int | None = None,
    seed: int = 1,
) -> DataFrame:
    """(zero, t, state, population) — 4 rows per step (states 0..3),
    t_max steps; the reference's getData() layout (:87-92)."""
    spark = g.edges.sparkSession
    if zero is None:
        zero = int(g.vertices().agg(F.min("id")).first()[0])
    sym = g.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()

    state = truncate(
        g.vertices().select(
            "id",
            F.when(F.col("id") == zero, 2).otherwise(0).alias("st"),
            F.lit(0).alias("ts"),
        )
    )
    censuses = []
    for t in range(t_max):
        infectious = state.filter(F.col("st") == 2).select(
            F.col("id").alias("src")
        )
        exposed = (
            sym.join(infectious, "src")
            .filter(_u(F.col("src"), F.col("dst"), t, seed) <= F.lit(trans_p))
            .select(F.col("dst").alias("id"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        new = (
            state.join(exposed, "id", "left")
            .select(
                "id",
                F.when((F.col("st") == 0) & F.col("hit").isNotNull(), 1)
                .when((F.col("st") == 1) & (F.lit(t) - F.col("ts") >= e_time), 2)
                .when((F.col("st") == 2) & (F.lit(t) - F.col("ts") >= i_time), 3)
                .otherwise(F.col("st"))
                .alias("st_new"),
                "st",
                "ts",
            )
            .select(
                "id",
                F.col("st_new").alias("st"),
                F.when(F.col("st_new") != F.col("st"), F.lit(t))
                .otherwise(F.col("ts"))
                .alias("ts"),
            )
        )
        state = truncate(new, release=state)
        census = {
            int(r.st): int(r.c)
            for r in state.groupBy("st").agg(F.count("*").alias("c")).collect()
        }
        for s in range(4):
            censuses.append((zero, t, s, census.get(s, 0)))
    sym.unpersist()
    state.unpersist()
    return local_frame(
        spark, censuses, "zero long, t int, state int, population long"
    )
