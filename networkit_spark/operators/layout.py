"""PivotMDS graph layout (viz module).

Reference: networkit/cpp/viz/PivotMDS.cpp:20-130 (Brandes & Pich 2007).
Semantics reproduced:

- distances from `num_pivots` pivot nodes to every node (PivotMDS.cpp:
  30-46; the reference runs one Dijkstra per pivot — here ONE
  multi-source BFS/SSSP advances all pivots together).
- double-centering of the pivot-distance matrix exactly as the
  reference computes it (:49-70 — note the reference centers the RAW
  distances, not -d²/2; reproduced as-is for parity):
      c(i,j) = d(i,j) − rowMean(i) − colMean(j) + grandMean,
      rowMean(i) = Σ_j d(i,j)/k,   colMean(j) = Σ_i d(i,j)/n,
      grandMean = Σ_i rowMean(i)/(2n) + Σ_j colMean(j)/(2k)
- coordinates: dimension d = C·v_d with v_d the d-th largest
  eigenvector of CᵀC (:72-107). The reference power-iterates with
  random init and deflation; the k×k system is tiny by construction, so
  this engine takes the exact eigendecomposition (numpy.linalg.eigh on
  the collected k×k Gram matrix) — the deterministic limit of the same
  computation. Each eigenvector's sign is canonicalized (largest-|·|
  entry positive) so layouts are reproducible.

Pivot choice: the reference samples pivots uniformly
(GraphTools::randomNodes, :29). This engine selects id ≡ 0 (mod
pivot_modulus) — deterministic and replicable in the DuckDB oracle,
same estimator family as approx_closeness's pivot rule.

Spark shape: distances + centering + the CᵀC Gram aggregation + the
final C·V projection are all DataFrame jobs over the (id, pivot, dist)
table — the only driver-side object is the k×k Gram matrix. Requires a
connected undirected graph (the reference silently assumes one: an
unreached pair would keep dist = ∞ in its matrix).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.distances import multi_source_bfs
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame


@dataclass
class PivotMDSResult:
    coordinates: DataFrame  # (id, pos: array<double> length dim)
    centered: DataFrame  # (id, j, val) — the centered pivot-distance matrix
    pivots: list  # ascending pivot node ids


def pivot_distance_matrix(
    graph: Graph, pivot_modulus: int = 37
) -> tuple[DataFrame, list, int]:
    """(id, j, dist) hop distances to pivot j (pivots = id ≡ 0 mod
    pivot_modulus, j indexed by ascending pivot id) + (pivot list, n)."""
    verts = graph.vertices()
    n = verts.count()
    pivots = sorted(
        int(r["id"]) for r in verts.filter(F.col("id") % pivot_modulus == 0).collect()
    )
    if not pivots:
        raise ValueError("no pivots selected — lower pivot_modulus")
    sources = local_frame(
        graph.edges.sparkSession, [(p,) for p in pivots], "s long"
    )
    dists = multi_source_bfs(graph, sources)
    reached = dists.select("id").distinct().count()
    if reached != n:
        raise ValueError(
            "PivotMDS requires a connected graph: "
            f"{n - reached} vertices unreached from the pivot set"
        )
    jmap = F.create_map(
        *[x for p, j in ((p, j) for j, p in enumerate(pivots)) for x in (F.lit(p), F.lit(j))]
    )
    c = dists.select(
        "id", jmap[F.col("s")].alias("j"), F.col("dist").cast("double").alias("dist")
    )
    return c, pivots, n


def centered_pivot_matrix(
    graph: Graph, pivot_modulus: int = 37
) -> tuple[DataFrame, list, int]:
    """Double-centered pivot-distance matrix (PivotMDS.cpp:49-70)."""
    c, pivots, n = pivot_distance_matrix(graph, pivot_modulus)
    k = len(pivots)
    c = truncate(c)
    row = c.groupBy("id").agg((F.sum("dist") / F.lit(float(k))).alias("row_mean"))
    col = c.groupBy("j").agg((F.sum("dist") / F.lit(float(n))).alias("col_mean"))
    # grandMean = Σ_i rowMean/(2n) + Σ_j colMean/(2k) = T/(nk) with T the
    # exact integer distance total — one floating-point rounding, so the
    # value is bit-identical in the DuckDB oracle (summing the already-
    # rounded means would be order-dependent at the last ulp).
    total_d = c.agg(F.sum("dist")).first()[0]
    grand = float(total_d) / (float(n) * float(k))
    centered = (
        c.join(F.broadcast(row), "id")
        .join(F.broadcast(col), "j")
        .select(
            "id",
            "j",
            (F.col("dist") - F.col("row_mean") - F.col("col_mean") + F.lit(grand)).alias(
                "val"
            ),
        )
    )
    return truncate(centered, release=c), pivots, n


def pivot_mds(
    graph: Graph, dim: int = 2, pivot_modulus: int = 37
) -> PivotMDSResult:
    """Reference signature PivotMDS(G, dim, numPivots).run() →
    getCoordinates(); numPivots here is induced by pivot_modulus."""
    centered, pivots, n = centered_pivot_matrix(graph, pivot_modulus)
    k = len(pivots)
    if dim > k:
        raise ValueError(f"dim={dim} exceeds number of pivots {k}")

    # k×k Gram matrix CᵀC: one self-join on the vertex id, k² cells
    a = centered.select("id", F.col("j").alias("j1"), F.col("val").alias("v1"))
    b = centered.select("id", F.col("j").alias("j2"), F.col("val").alias("v2"))
    gram_rows = (
        a.join(b, "id")
        .groupBy("j1", "j2")
        .agg(F.sum(F.col("v1") * F.col("v2")).alias("g"))
        .collect()
    )
    gram = np.zeros((k, k))
    for r in gram_rows:
        gram[int(r["j1"]), int(r["j2"])] = float(r["g"])

    vals, vecs = np.linalg.eigh(gram)
    order = np.argsort(vals)[::-1][:dim]
    V = vecs[:, order]
    for d in range(dim):
        i = int(np.argmax(np.abs(V[:, d])))
        if V[i, d] < 0:
            V[:, d] = -V[:, d]

    spark = graph.edges.sparkSession
    vrows = [
        (int(j), int(d), float(V[j, d])) for j in range(k) for d in range(dim)
    ]
    vdf = F.broadcast(local_frame(spark, vrows, "j int, d int, vv double"))
    coords = (
        centered.join(vdf, "j")
        .groupBy("id", "d")
        .agg(F.sum(F.col("val") * F.col("vv")).alias("x"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sx"))
        .select("id", F.transform("sx", lambda s: s["x"]).alias("pos"))
    )
    return PivotMDSResult(
        coordinates=truncate(coords), centered=centered, pivots=pivots
    )
