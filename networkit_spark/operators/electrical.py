"""Electrical (effective-resistance) centralities on the block-CG
Laplacian solver from operators/commutetime.py.

Reference:
- SpanningEdgeCentrality.cpp:33-66 run(): per edge e=(u,v) solve
  L x = e_u − e_v (LAMG), score(e) = |x_u − x_v| — the effective
  resistance of e, i.e. the probability e is in a uniform spanning
  tree; :67-104 runApproximation(): the Spielman–Srivastava projection
  (k = ceil(log2 n)/tol² random ±1/sqrt(k) flows), score(e) =
  Σ_i (x_i[u] − x_i[v])².
- ApproxSpanningEdge.cpp: same per-edge effective-resistance contract,
  estimated by UST sampling — here both approximations map onto the
  SS projection embedding (documented substitution; the estimator
  differs, the estimated quantity is identical).
- ApproxElectricalCloseness.cpp:529-538: diagonal of L⁺ (UST-based in
  the reference), then score(u) = (n−1) / (n·diag[u] + trace(L⁺)) —
  farness(u) = Σ_v r(u, v) = n·L⁺[u,u] + tr(L⁺) since L⁺'s rows sum
  to 0; :556-591 computeExactDiagonal solves one system per node.

Spark-native substitution: all solves run through the long-format
block CG (one gather join per iteration amortized over every system;
see commutetime.py). The UST samplers are replaced by deterministic
solver paths — exact diagonal (reference's computeExactDiagonal) for
the exact API, the seeded-hash SS embedding for the approximations.

Scale: exact SEC/diagonal are O(m)/O(n) systems — the reference's own
limitation (its exact paths loop solves the same way); the scale path
is the embedding: k = O(log n / tol²) systems once, then every edge
score is a self-join lookup and every farness is one agg over the
embedding (n·|Z_u|² + Σ|Z_v|² − 2 Z_u·ΣZ_v).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.commutetime import (
    _laplacian_parts,
    _solve_cg_block,
    ctd_embedding,
)
from networkit_spark.session import local_frame

# Exact modes solve one linear system per edge/vertex (reference
# parity); cap the block width so a mistaken large-graph call fails
# loudly instead of launching an O(n²)-state job.
_EXACT_CAP = 4096


def spanning_edge_centrality(graph: Graph, tol: float = 1e-9) -> DataFrame:
    """(u, v, score) exact spanning-edge centrality: score = effective
    resistance |x_u − x_v| with L x = e_u − e_v, one system per
    undirected edge, all edges in ONE block-CG run
    (SpanningEdgeCentrality.cpp:33-66)."""
    arcs, verts = _laplacian_parts(graph)
    und = [
        (r["src"], r["dst"])
        for r in arcs.filter(F.col("src") < F.col("dst")).collect()
    ]
    m = len(und)
    if m > _EXACT_CAP:
        raise ValueError(
            f"exact spanning-edge centrality solves one system per edge "
            f"({m} > {_EXACT_CAP}); use spanning_edge_centrality_approx"
        )
    spark = graph.edges.sparkSession
    cells = []
    for j, (u, v) in enumerate(und):
        cells.append((u, j, 1.0))
        cells.append((v, j, -1.0))
    b = (
        local_frame(spark, cells, "id long, j int, v double")
        .groupBy("id", "j").agg(F.sum("v").alias("b"))
    )
    x = _solve_cg_block(arcs, verts, b, m, tol=tol)
    arcs.unpersist()
    edge_map = local_frame(
        spark, [(j, u, v) for j, (u, v) in enumerate(und)], "j int, u long, v long"
    )
    xu = x.select(F.col("id").alias("u"), "j", F.col("x").alias("xu"))
    xv = x.select(F.col("id").alias("v"), "j", F.col("x").alias("xv"))
    return (
        edge_map.join(xu, ["u", "j"]).join(xv, ["v", "j"])
        .select("u", "v", F.abs(F.col("xu") - F.col("xv")).alias("score"))
    )


def spanning_edge_centrality_approx(
    graph: Graph, tol: float = 0.3, seed: int = 1
) -> DataFrame:
    """(u, v, score) approximate spanning-edge centrality via the SS
    projection embedding: score = Σ_i (Z_u[i] − Z_v[i])²
    (SpanningEdgeCentrality.cpp:67-104 / ApproxSpanningEdge contract)."""
    emb, _vol = ctd_embedding(graph, tol=tol, seed=seed)
    und = graph.simple_undirected_edges()
    zu = emb.select(F.col("id").alias("u"), F.col("vec").alias("zu"))
    zv = emb.select(F.col("id").alias("v"), F.col("vec").alias("zv"))
    diff2 = F.aggregate(
        F.zip_with("zu", "zv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return und.join(zu, "u").join(zv, "v").select("u", "v", diff2.alias("score"))


def _diag_lplus(graph: Graph, tol: float) -> DataFrame:
    """(id, diag) exact diagonal of L⁺: one system per vertex
    (b_u = e_u − 𝟙/n ⊥ 𝟙, solution = L⁺e_u), all in one block run
    (ApproxElectricalCloseness.cpp:556-591 computeExactDiagonal)."""
    arcs, verts = _laplacian_parts(graph)
    ids = [r["id"] for r in verts.select("id").collect()]
    n = len(ids)
    if n > _EXACT_CAP:
        raise ValueError(
            f"exact L+ diagonal solves one system per vertex "
            f"({n} > {_EXACT_CAP}); use electrical_closeness_approx"
        )
    spark = graph.edges.sparkSession
    sys_map = local_frame(
        spark, [(j, u) for j, u in enumerate(ids)], "j int, u long"
    )
    b = (
        verts.crossJoin(sys_map)
        .select(
            "id", "j",
            (F.when(F.col("id") == F.col("u"), F.lit(1.0))
             .otherwise(F.lit(0.0)) - F.lit(1.0 / n)).alias("b"),
        )
    )
    x = _solve_cg_block(arcs, verts, b, n, tol=tol)
    arcs.unpersist()
    # Jacobi-PCG does not keep iterates orthogonal to the nullspace: the
    # computed solution is L⁺e_u + c·𝟙 (a per-system constant shift that
    # cancels in the pairwise differences commute/spanning-edge use, but
    # NOT in the diagonal). The min-norm solution L⁺e_u has mean 0 (L⁺'s
    # rows sum to 0 on a connected graph), so center each system.
    means = x.groupBy("j").agg(F.avg("x").alias("xbar"))
    return (
        x.join(sys_map, "j").join(means, "j")
        .filter(F.col("id") == F.col("u"))
        .select("id", (F.col("x") - F.col("xbar")).alias("diag"))
    )


def electrical_closeness(graph: Graph, tol: float = 1e-9) -> DataFrame:
    """(id, score) exact electrical closeness:
    score(u) = (n−1) / (n·L⁺[u,u] + tr(L⁺))
    (ApproxElectricalCloseness.cpp:529-538 with the exact diagonal)."""
    diag = _diag_lplus(graph, tol).persist()
    agg = diag.agg(F.sum("diag").alias("tr"), F.count("*").alias("n")).first()
    tr, n = float(agg["tr"]), int(agg["n"])
    out = diag.select(
        "id",
        (F.lit(n - 1.0) / (F.lit(float(n)) * F.col("diag") + F.lit(tr)))
        .alias("score"),
    )
    return out


def forest_centrality(graph: Graph, tol: float = 1e-9) -> DataFrame:
    """(id, score) forest closeness (ForestCentrality.cpp:129-146):
    score(u) = n / (n·Ω[u,u] + tr(Ω) − 2) with Ω = (I + L)⁻¹ the forest
    matrix. The reference estimates diag(Ω) by uniform-spanning-tree
    sampling on an augmented graph; here it is EXACT via one block-CG
    run on the SPD system (I+L)X = I (no nullspace caveats, works on
    disconnected graphs — Ω is block diagonal). The '−2' folds in
    Σ_v Ω[u,v] = 1, since (I+L)𝟙 = 𝟙 row-wise per component."""
    arcs, verts = _laplacian_parts(graph)
    ids = [r["id"] for r in verts.select("id").collect()]
    n = len(ids)
    if n > _EXACT_CAP:
        raise ValueError(
            f"exact forest-matrix diagonal solves one system per vertex "
            f"({n} > {_EXACT_CAP})"
        )
    spark = graph.edges.sparkSession
    sys_map = local_frame(
        spark, [(j, u) for j, u in enumerate(ids)], "j int, u long"
    )
    b = local_frame(
        spark, [(u, j, 1.0) for j, u in enumerate(ids)], "id long, j int, b double"
    )
    x = _solve_cg_block(arcs, verts, b, n, tol=tol, shift=1.0)
    arcs.unpersist()
    diag = (
        x.join(sys_map, "j")
        .filter(F.col("id") == F.col("u"))
        .select("id", F.col("x").alias("diag"))
        .persist()
    )
    tr = float(diag.agg(F.sum("diag")).first()[0])
    return diag.select(
        "id",
        (F.lit(float(n))
         / (F.lit(float(n)) * F.col("diag") + F.lit(tr) - F.lit(2.0)))
        .alias("score"),
    )


def electrical_closeness_approx(
    graph: Graph, tol: float = 0.3, seed: int = 1
) -> DataFrame:
    """(id, score) approximate electrical closeness from the SS
    embedding: farness(u) = Σ_v ||Z_u − Z_v||² =
    n·||Z_u||² + Σ_v ||Z_v||² − 2·Z_u·(Σ_v Z_v) — ONE aggregation over
    the embedding, then a projection; no pairwise join."""
    emb, _vol = ctd_embedding(graph, tol=tol, seed=seed)
    emb = emb.persist()
    norm2 = F.aggregate(
        "vec", F.lit(0.0), lambda acc, x: acc + x * x
    )
    k = len(emb.select("vec").first()["vec"])
    agg = emb.agg(
        F.count("*").alias("n"),
        F.sum(norm2).alias("s2"),
        *[F.sum(F.element_at("vec", i + 1)).alias(f"s1_{i}")
          for i in range(k)],
    ).first()
    n, s2 = int(agg["n"]), float(agg["s2"])
    s1 = [float(agg[f"s1_{i}"]) for i in range(k)]
    dot_s1 = F.aggregate(
        F.zip_with(
            "vec", F.array(*[F.lit(v) for v in s1]), lambda a, b: a * b
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    farness = F.lit(float(n)) * norm2 + F.lit(s2) - F.lit(2.0) * dot_s1
    return emb.select(
        "id", (F.lit(n - 1.0) / farness).alias("score")
    )
