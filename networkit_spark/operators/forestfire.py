"""ForestFireScore — burn-frequency edge scores from random fires.

Reference semantics (networkit/cpp/sparsification/ForestFireScore.cpp:
22-95): start fires at random nodes until `targetBurntRatio · m` edges
have burnt; each processed node repeatedly (while a uniform draw stays
≤ pf) burns a uniformly random not-yet-visited neighbor, enqueueing it;
an edge's score is its burn count normalized by the maximum burn count.
The reference itself runs fires concurrently (the OMP while loop), so
fires are independent processes by contract.

Distributed reformulation — fires and frontier nodes are ROWS, one
superstep per queue generation, every draw the engine's shared
quadratic hash (SQL-replicable, so the whole run is a pure function of
(graph, seed) and the DuckDB oracle replays it exactly):

- fire starts: fire f ignites the vertex ranked floor(u·n) (u a seeded
  hash of f) — the reference's GraphTools::randomNode.
- burn count at a node: the reference's per-pick Bernoulli(pf) chain
  equals a geometric draw; one inverse-CDF draw G = floor(ln u / ln pf)
  replaces the chain (identical distribution, one hash per node).
- which neighbors: the reference's sequential uniform picks without
  replacement yield a uniform k-subset; ranking unvisited neighbors by
  an iid hash and keeping the top k draws the same distribution.
- within-superstep conflicts: two frontier nodes of one fire proposing
  the same target x — the reference's sequential queue lets only the
  first; the BSP substitute keeps the deterministic (draw, proposer)
  minimum and drops the rest (same node-burnt-once invariant).
- as in the reference, only BURNT nodes are marked visited (the start
  node is not), so a fire can burn back over its own start node and an
  edge can burn once per direction in one fire.

Per superstep: one frontier⋈adjacency shuffle join, one anti-join
against the per-fire visited set, two partitioned windows (per-node
ranking, per-target winner) — all keyed by (fire, node): no global
ordering, no driver-side state beyond the stop counter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.embedding import WALK_HASH_M, _A, _B, _C, _D
from networkit_spark.plans.iterative import truncate
from networkit_spark.plans.ranking import global_row_numbers
from networkit_spark.session import local_frame

# step is folded into the seed term with its own odd multiplier so that
# (fire, node, cand, step) draws never alias across supersteps.
_STEP_MIX = 1315423911


def _h3(fire, node, cand, step: int, seed: int):
    """Deterministic integer hash in [0, M) keyed by (fire, node, cand,
    step, seed) — the operators/embedding.py walk-hash arithmetic with
    the fire id as the walk column (identical in DuckDB, see
    oracles.forest_fire_sql)."""
    m = F.lit(WALK_HASH_M)
    h1 = F.pmod(
        fire * F.lit(_A)
        + node * F.lit(_B)
        + cand * F.lit(_C)
        + F.lit(step * _STEP_MIX + seed * _D),
        m,
    )
    h2 = F.pmod(h1 * h1 + F.lit(_A) * h1 + F.lit(_B), m)
    return F.pmod(h2 * h2 + F.lit(_C) * h2 + F.lit(_D), m)


def _uff(fire, node, cand, step: int, seed: int):
    """Uniform (0,1] draw from _h3 — (h3+1)/(M+1), an exact double."""
    return (_h3(fire, node, cand, step, seed) + F.lit(1)).cast("double") / F.lit(
        float(WALK_HASH_M + 1)
    )


def _geometric(fire, node, step: int, seed: int, pf: float):
    """G = floor(log_pf(u)) — the count of consecutive Bernoulli(pf)
    successes, as one inverse-CDF draw. For pf = 1/2 the whole
    computation stays in integer-exact territory (G = floor(log2(
    (M+1) div (h3+1))), log2 of an exact small integer — bit-identical
    across engines); general pf falls back to the ln ratio (pytest-only
    path: last-ulp ln differences across engines are possible)."""
    if pf == 0.5:
        q = F.floor(F.lit(float(WALK_HASH_M + 1)) / (_h3(fire, node, node, step, seed) + F.lit(1)))
        return F.floor(F.log2(q)).cast("long")
    return F.floor(
        F.log(_uff(fire, node, node, step, seed)) / math.log(pf)
    ).cast("long")


def _burn_batch(
    graph: Graph,
    sym: DataFrame,
    ranked: DataFrame,
    n: int,
    fire_lo: int,
    fire_hi: int,
    pf: float,
    max_steps: int,
    seed: int,
) -> DataFrame:
    """Run fires [fire_lo, fire_hi) to exhaustion (≤ max_steps
    generations); returns (u, v, burnt) partial counts."""
    spark = graph.edges.sparkSession
    fires = (
        spark.range(fire_lo, fire_hi).select(F.col("id").alias("fire"))
        .withColumn(
            "rk",
            F.floor(_uff(F.col("fire"), F.lit(0), F.lit(0), 0, seed) * n)
            .cast("long"),
        )
        .join(ranked.select(F.col("id").alias("node"), "rk"), "rk")
        .select("fire", "node")
    )
    active = truncate(fires)
    visited = local_frame(spark, [], "fire long, node long")
    burns = []
    state = [active, None]  # [active, visited-snapshot] for release
    for step in range(1, max_steps + 1):
        cand = (
            active.join(sym, active["node"] == sym["src"])
            .select("fire", "node", F.col("dst").alias("x"))
            .join(
                visited.select("fire", F.col("node").alias("x")),
                ["fire", "x"],
                "left_anti",
            )
            .withColumn("d", _uff(F.col("fire"), F.col("node"), F.col("x"), step, seed))
        )
        per_node = Window.partitionBy("fire", "node")
        # geometric draw keyed with cand = node itself (never a neighbor
        # on a simple graph, and keeps every hash input non-negative so
        # the DuckDB % twin needs no pmod shim)
        g_draw = _geometric(F.col("fire"), F.col("node"), step, seed, pf)
        prop = (
            cand.withColumn(
                "rn", F.row_number().over(per_node.orderBy("d", "x"))
            )
            .withColumn("k", F.least(g_draw, F.count("*").over(per_node)))
            .filter(F.col("rn") <= F.col("k"))
        )
        win = truncate(
            prop.withColumn(
                "wn",
                F.row_number().over(
                    Window.partitionBy("fire", "x").orderBy("d", "node")
                ),
            )
            .filter(F.col("wn") == 1)
            .select("fire", "node", "x"),
            release=state[0],
        )
        state[0] = win
        if win.isEmpty():
            break
        burns.append(
            win.select(
                F.least("node", "x").alias("u"), F.greatest("node", "x").alias("v")
            )
        )
        new_visited = truncate(
            visited.unionByName(win.select("fire", F.col("x").alias("node"))),
            release=state[1],
        )
        state[1] = new_visited
        visited = new_visited
        # the next generation's frontier is the freshly burnt nodes
        active = win.select("fire", F.col("x").alias("node"))
    if not burns:
        return local_frame(
            graph.edges.sparkSession, [], "u long, v long, burnt long"
        )
    allb = burns[0]
    for b in burns[1:]:
        allb = allb.unionByName(b)
    return allb.groupBy("u", "v").agg(F.count("*").alias("burnt"))


def forest_fire_scores(
    graph: Graph,
    pf: float = 0.15,
    target_burnt_ratio: float = 1.0,
    seed: int = 1,
    fires_per_batch: int = 64,
    max_steps: int = 32,
    max_batches: int = 64,
    n_fires: int | None = None,
) -> DataFrame:
    """(u, v, score) for every simple undirected edge; score = burn
    count / max burn count (0.0 when nothing burnt an edge).

    With n_fires set, runs exactly that many fires in ONE batch (the
    deterministic fixed-work mode the driver oracle replays); otherwise
    runs batches of `fires_per_batch` until `target_burnt_ratio · m`
    edges have burnt (the reference's while-loop contract), capped at
    `max_batches`.
    """
    if not 0.0 < pf < 1.0:
        raise ValueError("pf must lie in (0, 1)")
    spark = graph.edges.sparkSession
    n = graph.num_vertices()
    sym = (
        graph.symmetrized_edges()
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = global_row_numbers(graph.vertices(), "id", "rk")
    counts: DataFrame | None = None
    if n_fires is not None:
        counts = _burn_batch(graph, sym, ranked, n, 0, n_fires, pf, max_steps, seed)
    else:
        m = graph.simple_undirected_edges().count()
        target = target_burnt_ratio * m
        total = 0
        for batch in range(max_batches):
            part = _burn_batch(
                graph, sym, ranked, n,
                batch * fires_per_batch, (batch + 1) * fires_per_batch,
                pf, max_steps, seed,
            )
            counts = (
                part
                if counts is None
                else truncate(
                    counts.unionByName(part).groupBy("u", "v")
                    .agg(F.sum("burnt").alias("burnt"))
                )
            )
            total = counts.agg(F.sum("burnt")).first()[0] or 0
            if total >= target:
                break
    mx = counts.agg(F.max("burnt")).first()[0] or 0
    e = graph.simple_undirected_edges().select("u", "v")
    scored = e.join(counts, ["u", "v"], "left").select(
        "u", "v",
        (F.coalesce(F.col("burnt"), F.lit(0)).cast("double")
         / F.lit(float(mx)) if mx else F.lit(0.0)).alias("score"),
    )
    sym.unpersist()
    return scored
