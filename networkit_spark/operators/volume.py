"""Volume estimation and the sampled neighborhood-function heuristic.

Reference (networkit/cpp/distance/):
- Volume.cpp:14-66 — volume(G, r, samples): mean, over sampled start
  nodes, of |{m : d(start, m) ≤ r}|; the multi-radius variant reuses
  one ball of radius max(rs) per sample. The reference's
  nodesWithinDistance relaxes weights in BFS order WITHOUT
  re-expansion — on unweighted graphs that is exactly the hop ball; on
  weighted graphs it is expansion-order-dependent. This module uses
  exact shortest-path distances (identical on unweighted graphs, the
  documented substitution on weighted ones). randomNode() sampling is
  replaced by the engine's seeded-hash sample (id % modulus == shift)
  so the DuckDB oracle replays it exactly.
- NeighborhoodFunctionHeuristic.cpp:20-135 — NF estimate from nSamples
  BFS runs: result[0] = 2m, result[dia-1] = n(n-1), and for
  h in [2, dia-1] result[h-1] = round(count_{dist==h} · n/nSamples)
  + result[h-2] (cumulative); undirected + connected only (ctor
  throws); SPLIT strategy = degree-ascending sort, evenly spaced picks
  (id tie-break here — the reference's unstable sort leaves ties
  unspecified); RANDOM = the hash sample.

Spark shape: both operators are ONE batched multi-source BFS over the
sample (shared frontier, operators/distances.multi_source_bfs) plus a
distance histogram — the same plan as approx_closeness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import (
    diameter_exact,
    multi_source_bfs,
    _require_connected_undirected,
)
from networkit_spark.plans.ranking import global_ranks_score_desc
from networkit_spark.session import local_frame


def volume(
    graph: Graph, rs: list, modulus: int = 41, shift: int = 0
) -> DataFrame:
    """(r, volume) — Volume.cpp's multi-radius estimate over the
    seeded-hash sample {id % modulus == shift}."""
    seeds = graph.vertices().filter(
        F.pmod(F.col("id"), F.lit(modulus)) == shift
    ).select(F.col("id").alias("s"))
    n_samples = seeds.count()
    if n_samples == 0:
        raise ValueError("empty sample — lower modulus")
    rmax = max(rs)
    dists = multi_source_bfs(graph, seeds, max_depth=int(rmax))
    spark = graph.edges.sparkSession
    rs_df = local_frame(spark, [(float(r),) for r in rs], "r double")
    return (
        dists.crossJoin(F.broadcast(rs_df))
        .filter(F.col("dist") <= F.col("r"))
        .groupBy("r")
        .agg((F.count("*") / F.lit(float(n_samples))).alias("volume"))
    )


def neighborhood_function_heuristic(
    graph: Graph,
    n_samples: int | None = None,
    strategy: str = "split",
    modulus: int = 37,
) -> DataFrame:
    """(h, nf) for h = 1..diameter — NeighborhoodFunctionHeuristic.cpp
    with the documented sampling substitutions (module docstring)."""
    _require_connected_undirected(graph, "neighborhood_function_heuristic")
    n = graph.num_vertices()
    m = graph.num_edges()
    dia = diameter_exact(graph)
    if n_samples is None:
        n_samples = int(-(-max(0.15 * n, (m ** 0.5)) // 1))  # ceil
    if strategy == "split":
        deg = graph.symmetrized_edges().groupBy(F.col("src").alias("id")) \
            .agg(F.count("*").alias("d"))
        verts = graph.vertices().join(deg, "id", "left") \
            .select("id", (-F.coalesce("d", F.lit(0))).cast("double").alias("nd"))
        ranked = global_ranks_score_desc(verts, "nd", ["id"], out_col="pos")
        step = n / n_samples
        picks = [int(i * step) for i in range(n_samples)]
        spark = graph.edges.sparkSession
        pick_df = local_frame(spark, [(p,) for p in picks], "pos long")
        seeds = ranked.join(F.broadcast(pick_df.distinct()), "pos") \
            .select(F.col("id").alias("s"))
    elif strategy == "random":
        seeds = graph.vertices().filter(
            F.pmod(F.col("id"), F.lit(modulus)) == 0
        ).select(F.col("id").alias("s"))
        n_samples = seeds.count()
    else:
        raise ValueError("unknown strategy, choose either split or random")

    dists = multi_source_bfs(graph, seeds)
    hist = {
        int(r["dist"]): int(r["c"])
        for r in dists.filter(F.col("dist") > 0)
        .groupBy("dist").agg(F.count("*").alias("c")).collect()
    }
    norm = n / float(seeds.count())
    result = [0] * dia
    result[0] = 2 * m
    result[dia - 1] = n * (n - 1)
    for h in range(2, dia):
        # floor(x + 0.5): std::round parity (python round() half-evens)
        est = int(hist.get(h, 0) * norm + 0.5)
        result[h - 1] = est + result[h - 2]
    spark = graph.edges.sparkSession
    return local_frame(
        spark, [(h + 1, int(v)) for h, v in enumerate(result)], "h long, nf long"
    )


def hop_plot_approximation(
    graph: Graph, k: int = 64, r: int = 7, seed: int = 42
) -> list:
    """HopPlotApproximation.cpp:28-145 — hopPlot[0] = 1/n, hopPlot[h] =
    ANF(h) / (n² − n) capped at 1.0, over the engine's seeded
    Flajolet–Martin masks (distances.neighborhood_function_approx; the
    reference's thread-local RNG is replaced by the seeded hash —
    documented, approximation-quality-equivalent)."""
    from networkit_spark.operators.distances import (
        neighborhood_function_approx,
    )

    n = graph.num_vertices()
    nf = neighborhood_function_approx(graph, k=k, r=r, seed=seed)
    out = [1.0 / n]
    denom = float(n * n - n)
    out.extend(min(1.0, v / denom) for v in nf)
    return out
