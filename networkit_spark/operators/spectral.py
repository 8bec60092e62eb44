"""Distributed graph spectra + SpectralColoring.

Reference surface: networkit/algebraic.py (plain scipy on the collected
matrix — adjacencyEigenvectors / laplacianEigenvectors call
scipy.sparse.linalg.eigsh with which="LA" ("SA" when reverse) and return
(eigenvalues ASCENDING, matching eigenvectors), :139-270) and
networkit/coloring.py SpectralColoring (:1-120): recursive sign-split of
each color class on successive eigenvectors until every class is an
independent set.

Spark-native realization — the reference's own compute path is a
single-node scipy call on a materialized sparse matrix, which cannot
exist at 10¹² edges; this engine computes the spectrum IN PLACE over
the distributed edge table with BLOCK ORTHOGONAL ITERATION (subspace
iteration + Rayleigh–Ritz), the classic distributed substitute for
Lanczos (same fixed point, shuffle-friendly):

  per iteration, for the k-column block X (long format (id, j, x) —
  the commutetime.py solver layout):
    Y = M·X        — ONE gather join over the arc table + groupBy
                     (map-side combined), all k columns at once
    G = YᵀY        — one k²-cell aggregation (k ≤ dozens — driver holds
                     only k×k matrices, never a vertex-length vector)
    X = Y·R⁻¹      — Cholesky of G on the driver, one broadcast-join
                     recombination (QR orthonormalization)
  finish: H = XᵀMX (k×k Rayleigh–Ritz), eigh(H) on the driver, rotate.

Eigsh's which="LA"/"SA" (largest/smallest ALGEBRAIC) is realized by a
Gershgorin shift: M = A + cI (c = max weighted degree + 1) makes the
spectrum positive so largest-magnitude = largest-algebraic; M = cI − A
flips it for "SA". Eigenvalues are reported ASCENDING like the
reference, eigenvector signs canonicalized (largest-|entry| positive)
for reproducibility.

SpectralColoring runs the reference's exact recursion (coloring.py
split/valid, :57-113) driver-side over the COLLECTED eigenvector
columns — the recursion is sequential by construction (each split
depends on the previous validity check); the spectrum it consumes is
computed distributed. Like the reference, validity needs adjacency
lookups: the engine collects the edge list of the (pytest-scale)
coloring target, the same contract class as DFS / Havel–Hakimi.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame

_SCALE = 1_000_000_007


def _sym_arcs(graph: Graph):
    arcs = graph.symmetrized_edges().select(
        "src", "dst",
        (F.col("weight") if graph.weighted else F.lit(1.0)).alias("w"),
    )
    return arcs


def _by_jj(mat: np.ndarray, spark):
    """k×k numpy matrix → broadcast DataFrame (l, j, g)."""
    k = mat.shape[0]
    rows = [(int(l), int(j), float(mat[l, j])) for l in range(k) for j in range(k)]
    return F.broadcast(local_frame(spark, rows, "l int, j int, g double"))


def _gram(a: DataFrame, b: DataFrame) -> np.ndarray:
    """AᵀB for two long-format (id, j, x) blocks with the same k."""
    ka = a.select("id", F.col("j").alias("l"), F.col("x").alias("xa"))
    kb = b.select("id", "j", F.col("x").alias("xb"))
    rows = (
        ka.join(kb, "id")
        .groupBy("l", "j")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("g"))
        .collect()
    )
    k = max(int(r["j"]) for r in rows) + 1
    g = np.zeros((k, k))
    for r in rows:
        g[int(r["l"]), int(r["j"])] = float(r["g"])
    return g


def _recombine(y: DataFrame, mat: np.ndarray) -> DataFrame:
    """X(id, j) = Σ_l Y(id, l)·mat[l, j] — one broadcast join + agg."""
    spark = y.sparkSession
    m = _by_jj(mat, spark)
    return (
        y.select("id", F.col("j").alias("l"), "x")
        .join(m, "l")
        .groupBy("id", "j")
        .agg(F.sum(F.col("x") * F.col("g")).alias("x"))
    )


def symmetric_eigenvectors(
    graph: Graph,
    k: int,
    laplacian: bool = False,
    reverse: bool = False,
    max_iter: int = 200,
    tol: float = 1e-12,
    seed: int = 42,
) -> tuple[list, DataFrame]:
    """(eigenvalues ascending, eigenvectors (id, j, x) with j matching
    the eigenvalue order) of the adjacency (or Laplacian) matrix —
    algebraic.py symmetricEigenvectors semantics (which=LA, or SA when
    reverse) via shifted block orthogonal iteration."""
    spark = graph.edges.sparkSession
    arcs = _sym_arcs(graph).persist(StorageLevel.MEMORY_AND_DISK)
    arcs.count()
    deg = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg"))
    verts = truncate(
        graph.vertices().join(deg, "id", "left")
        .select("id", F.coalesce("deg", F.lit(0.0)).alias("deg"))
    )
    wmax = float(verts.agg(F.max("deg")).first()[0] or 0.0)
    n = verts.count()
    if k > n:
        raise ValueError(f"k={k} exceeds n={n}")

    # Gershgorin bounds: adjacency spectrum ⊂ [−wmax, wmax]; Laplacian
    # spectrum ⊂ [0, 2·wmax]. Shift so the WANTED algebraic end has the
    # largest magnitude and the shifted operator is PSD.
    # flip=True iterates M = cI − base, whose DOMINANT subspace is the
    # SMALLEST-algebraic end of base (eigsh "SA" ≡ reverse=True); flip=
    # False iterates base + cI for the largest end ("LA").
    c = (2.0 * wmax + 1.0) if laplacian else (wmax + 1.0)
    flip = reverse

    # operator applied each iteration: for flip=False  M = base + cI
    #                                  for flip=True   M = cI − base
    # where base = A (adjacency) or L = D − A (laplacian); both M are PSD
    # on the Gershgorin ranges above, so the dominant subspace of M is
    # the wanted algebraic end of base.
    def matvec(x: DataFrame) -> DataFrame:
        gathered = (
            arcs.join(
                x.select(F.col("id").alias("dst"), "j", F.col("x").alias("xn")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "j")
            .agg(F.sum(F.col("w") * F.col("xn")).alias("gx"))
        )
        base_cols = x.join(verts, "id").join(gathered, ["id", "j"], "left")
        gx = F.coalesce("gx", F.lit(0.0))
        if laplacian:
            base = F.col("deg") * F.col("x") - gx
        else:
            base = gx
        if flip:
            out = F.lit(c) * F.col("x") - base
        else:
            out = base + F.lit(c) * F.col("x")
        return base_cols.select("id", "j", out.alias("x"))

    cols = spark.range(k).select(F.col("id").cast("int").alias("j"))
    x = truncate(
        verts.select("id").crossJoin(cols).select(
            "id", "j",
            ((F.pmod(F.xxhash64("id", "j", F.lit(seed)), F.lit(_SCALE))
              / F.lit(float(_SCALE))) - 0.5).alias("x"),
        )
    )
    prev_ritz = None
    streak = 0
    for _ in range(max_iter):
        y = matvec(x)
        g = _gram(y, y)
        # Cholesky of YᵀY → R; X = Y·R⁻¹ (QR orthonormalization)
        # relative jitter guards rank collapse of the random start
        jit = max(np.trace(g) / k, 1.0) * 1e-13
        r = np.linalg.cholesky(g + np.eye(k) * jit).T
        rinv = np.linalg.inv(r)
        x = truncate(_recombine(y, rinv), release=x)
        ritz = np.sort(np.sqrt(np.maximum(np.diag(g), 0.0)))
        if prev_ritz is not None and np.all(
            np.abs(ritz - prev_ritz) <= tol * np.maximum(1.0, np.abs(ritz))
        ):
            # ritz values converge quadratically, the SUBSPACE only
            # linearly — demand a streak so the vectors settle too
            streak += 1
            if streak >= 3:
                break
        else:
            streak = 0
        prev_ritz = ritz

    # Rayleigh–Ritz: H = XᵀMX, rotate X by eigh(H)
    mx = matvec(x)
    h = _gram(x, mx)
    h = (h + h.T) / 2.0
    vals, w = np.linalg.eigh(h)  # ascending in the SHIFTED operator
    # undo shift back to the base operator's eigenvalues
    if flip:
        base_vals = [c - v for v in vals][::-1]  # cI − base: descending
        w = w[:, ::-1]
    else:
        base_vals = [v - c for v in vals]
    order = np.argsort(base_vals)  # reference returns ASCENDING
    base_vals = [float(base_vals[i]) for i in order]
    w = w[:, order]
    for j in range(k):
        i = int(np.argmax(np.abs(w[:, j])))
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    vecs = truncate(_recombine(x, w), release=x)
    # canonicalize each eigenvector's sign by its largest-|entry| vertex
    # (the k×k rotation already fixed the basis; the per-column sign is
    # fixed on the actual vector entries)
    tops = (
        vecs.withColumn("a", F.abs("x"))
        .groupBy("j")
        .agg(F.max_by(F.col("x"), F.struct(F.col("a"), F.col("id"))).alias("top"))
        .collect()
    )
    signs = {int(r["j"]): (1.0 if float(r["top"]) >= 0 else -1.0) for r in tops}
    sign_lookup = F.element_at(
        F.array(*[F.lit(signs.get(j, 1.0)) for j in range(k)]), F.col("j") + 1
    )
    out = truncate(
        vecs.select("id", "j", (F.col("x") * sign_lookup).alias("x")),
        release=vecs,
    )
    arcs.unpersist()
    return base_vals, out


def adjacency_eigenvectors(
    graph: Graph, k: int, reverse: bool = False, **kw
) -> tuple[list, DataFrame]:
    """algebraic.py adjacencyEigenvectors: eigenvalues ascending; with
    reverse the SMALLEST-algebraic end is targeted (eigsh SA), else the
    largest (LA)."""
    return symmetric_eigenvectors(graph, k, laplacian=False, reverse=reverse, **kw)


def laplacian_eigenvectors(
    graph: Graph, k: int, reverse: bool = False, **kw
) -> tuple[list, DataFrame]:
    """algebraic.py laplacianEigenvectors (reverse=True targets the
    smallest end: λ₁=0 and the Fiedler value come first)."""
    return symmetric_eigenvectors(graph, k, laplacian=True, reverse=reverse, **kw)


def fiedler_vector(graph: Graph) -> tuple[float, DataFrame]:
    """(λ₂, (id, x)) — the algebraic connectivity and its eigenvector
    (the classic spectral-partitioning primitive; plot.py/profiling use
    the same quantity)."""
    vals, vecs = laplacian_eigenvectors(graph, 2, reverse=True)
    return vals[1], vecs.filter(F.col("j") == 1).select("id", "x")


def spectral_coloring(graph: Graph, k: int | None = None) -> DataFrame:
    """(id, color) — coloring.py SpectralColoring.run() (:57-113):
    recursively sign-split every color class on eigenvector `depth`
    (ascending eigenvalue order, the reference's adjacencyEigenvectors
    output) until each class is independent. Driver-side recursion over
    the collected (pytest-scale) adjacency, distributed spectrum."""
    spark = graph.edges.sparkSession
    n = graph.num_vertices()
    if k is None:
        k = max(min(n - 1, 16), 1)
    vals, vecs = adjacency_eigenvectors(graph, k, reverse=True)
    cols = {}
    for r in vecs.collect():
        cols.setdefault(int(r["j"]), {})[int(r["id"])] = float(r["x"])
    eigenvectors = [cols[j] for j in sorted(cols)]
    adj: dict[int, set] = {}
    for r in graph.symmetrized_edges().select("src", "dst").collect():
        adj.setdefault(int(r["src"]), set()).add(int(r["dst"]))
    nodes = [int(r["id"]) for r in graph.vertices().collect()]

    colors: dict[int, set] = {0: set(nodes)}
    next_color = [1]

    def valid(color: int) -> bool:
        cs = colors[color]
        return all(not (adj.get(v, set()) & cs) for v in cs)

    def split(color: int, depth: int = 0):
        if depth >= len(eigenvectors):
            raise RuntimeError(
                "spectral coloring needs more eigenvectors — raise k"
            )
        other = next_color[0]
        next_color[0] += 1
        vs = colors[color]
        colors[color] = {v for v in vs if eigenvectors[depth].get(v, 0.0) >= 0}
        colors[other] = {v for v in vs if eigenvectors[depth].get(v, 0.0) < 0}
        if not valid(color):
            split(color, depth + 1)
        if not valid(other):
            split(other, depth + 1)

    split(0)
    rows = [
        (int(v), int(c)) for c, vs in colors.items() for v in vs
    ]
    return local_frame(spark, rows, "id long, color long")
