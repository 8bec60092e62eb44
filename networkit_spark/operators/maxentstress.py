"""MaxentStress graph layout (viz module).

Reference: networkit/cpp/viz/MaxentStress.cpp (Gansner/Hu/North 2013,
"A maxent-stress model for graph layout"). Semantics reproduced:

- known-distance set S (computeKnownDistances, MaxentStress.cpp:501-582):
  for EDGE_WEIGHT mode S holds every adjacent pair at its edge weight
  plus, for k > 1, the k-hop neighborhood at its graph distance
  (hop depth when unweighted, :589-611). All reference tests run k = 1
  (S = the edge set).
- weighted Laplacian over S with weightingFactor(d) = 1/d²
  (MaxentStress.hpp:297-299, setupWeightedLaplacianMatrix :379-412).
- per solve (run(), :118-186):
    rhs = L'(x_old)·x_old  where  w'_uv = (1/d²)·d/‖x_u−x_v‖ (clamped
    at 1e-5; computeCoordinateLaplacianTerm :416-438 — incl. the
    reference's note that Gansner et al.'s extra ‖·‖ factor is wrong);
    the first ⌊maxSolvesPerAlpha/5⌋ solves normalize each rhs dimension
    to unit length (:142-144);
    rhs += α · repulsive   (repulsive = normalized entropy gradient,
    recomputed when ⌊5·ln(numSolves)⌋ changes, :124-130);
    rhs is corrected to zero column sums (:151-165);
    solve L_S x_new = rhs (:167) — the reference offers LAMG *or*
    Jacobi/identity-preconditioned CG (ctor :38-47); this engine uses
    its distributed block Jacobi-CG (commutetime.py), i.e. the
    CONJUGATE_GRADIENT_DIAGONAL_PRECONDITIONER branch, all `dim`
    right-hand sides advancing together.
- convergence: Σ‖x_new−x_old‖² / Σ‖x_old‖² < 0.001² (isConverged
  :364-378); α cools ×0.3 per round until < 0.008 (:183-185); with
  fastComputation the α round exits on convergence (:171-179).
- q defaults to 0 and switches to 0.8 when >30% of nodes have degree 1
  (:545-552); repulsive factor sign(q)·/sqDist^((q+2)/2) with
  sign(0) = +1 (MaxentStress.hpp:305).

Spark-native substitutions (stated):
- Octree Barnes–Hut repulsive approximation (approxRepulsiveForces
  :475-498, θ=0.6) → ONE-LEVEL CELL GRID: nodes are bucketed into a
  cells_per_dim^dim grid over the bounding box (one groupBy for
  count + center of mass), and every node interacts with every cell
  centroid (a broadcast join — the cell table is tiny by
  construction). Same multipole idea, fixed resolution instead of an
  adaptive θ cut; cells with sqDist < 1e-5 are skipped exactly like
  the reference's guard. The exact O(n²) path is not shipped — the
  reference itself only calls the approximation in run().
- randomSphereCoordinates (:697-749: BFS from the max-degree node,
  each child at parent + edge-weight-scaled uniform direction) →
  seeded-hash substitute: x_v = bfs_dist(v) · unit_hash_direction(v)
  from the max-degree node. Same geometry (nodes at graph-distance
  radius, random directions), deterministic and replicable; the
  reference tests themselves prefer PivotMDS coordinates, which this
  engine accepts via `coordinates=`.
- CG starts from x₀ = 0 each solve instead of warm-starting at the
  previous coordinates — more CG iterations, identical fixed point
  (the solved system is the same).

Scale: per solve = one join+agg over S (attractive term), one groupBy
+ broadcast join over the cell grid (repulsive), and one block-CG run
(per CG iteration: one gather join over S's arcs, map-side combined).
S has n·avg_ball(k) rows — the same state the reference materializes.
Layout is a viz-scale operator (like PivotMDS/Postscript); the driver
contract mirrors CutClustering/GCE: pytest-scale with stress-descent
properties, no 100 TB claim. The dim-length array expressions below
are interpreted HOFs over length-2/3 arrays — negligible next to the
CG joins, and NOT the engine's kNN hot path (that one is the GEMM
kernel in similarity.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.commutetime import _solve_cg_block
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame

_CLAMP = 1e-5


def _sq_dist(a, b):
    """Σ_d (a[d]−b[d])² for two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def known_distances(graph: Graph, k: int = 1) -> DataFrame:
    """Symmetric (src, dst, d) graph-distance table S
    (computeKnownDistances, EDGE_WEIGHT mode). k = 1 → the edge set at
    its edge weights (the reference tests' configuration). k > 1 adds
    the ≤k-hop ball per node: hop depth when unweighted (reference
    :620-640); when weighted, the minimum weight-sum over ≤k-hop paths
    (bounded relaxation — equals the reference's Dijkstra distance
    whenever the weighted shortest path inside the ball uses ≤ k hops;
    exact at k=1)."""
    if graph.directed:
        raise ValueError("MaxentStress requires an undirected graph")
    sym = graph.symmetrized_edges().select(
        "src", "dst",
        (F.col("weight") if graph.weighted else F.lit(1.0)).cast("double").alias("d"),
    ).filter(F.col("src") != F.col("dst"))
    if k <= 1:
        return sym
    cur = truncate(sym)
    best = cur
    for _ in range(k - 1):
        ext = (
            cur.alias("a")
            .join(sym.alias("e"), F.col("a.dst") == F.col("e.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("e.dst").alias("dst"),
                (F.col("a.d") + F.col("e.d")).alias("d"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        cur = truncate(
            best.unionByName(ext).groupBy("src", "dst").agg(F.min("d").alias("d")),
            release=best,
        )
        best = cur
    return best


@dataclass
class MaxentStressResult:
    coordinates: DataFrame  # (id, pos: array<double> length dim)
    known: DataFrame  # the S table used (src, dst, d)
    solves: int = 0
    alpha_rounds: int = 0
    q: float = 0.0
    history: list = field(default_factory=list)  # per-solve rel_change


def _wide(xlong: DataFrame, dim: int) -> DataFrame:
    """(id, j, x) long solver format → (id, pos array<double>)."""
    return xlong.groupBy("id").agg(
        F.array(
            *[
                F.max(F.when(F.col("j") == jj, F.col("x"))).alias(f"x{jj}")
                for jj in range(dim)
            ]
        ).alias("pos")
    )


def random_sphere_init(graph: Graph, dim: int = 2, seed: int = 1) -> DataFrame:
    """(id, pos) seeded substitute for randomSphereCoordinates: every
    node at radius = hop distance from the max-degree node, direction =
    seeded-hash unit vector (deterministic; see module docstring)."""
    from networkit_spark.operators.distances import multi_source_bfs

    deg = graph.out_degrees()
    center = deg.orderBy(F.col("degree").desc(), F.col("id")).first()
    spark = graph.edges.sparkSession
    src = local_frame(spark, [(int(center["id"]),)], "s long")
    dist = multi_source_bfs(graph, src).select("id", "dist")
    comps = [
        (F.pmod(F.xxhash64("id", F.lit(seed), F.lit(jj)), F.lit(2_000_003))
         / F.lit(1_000_001.5) - F.lit(1.0)).alias(f"c{jj}")
        for jj in range(dim)
    ]
    raw = dist.select("id", "dist", *comps)
    norm = F.sqrt(
        sum((F.col(f"c{jj}") * F.col(f"c{jj}") for jj in range(dim)), F.lit(0.0))
    )
    return raw.select(
        "id",
        F.array(
            *[
                (F.col(f"c{jj}") / F.greatest(norm, F.lit(1e-12))
                 * F.col("dist").cast("double")).alias(f"x{jj}")
                for jj in range(dim)
            ]
        ).alias("pos"),
    )


def _repulsive(
    coords: DataFrame, dim: int, q: float, cells_per_dim: int
) -> DataFrame:
    """Normalized entropy-gradient term b (id, j, rep) via the cell-grid
    multipole substitute (module docstring)."""
    box = coords.agg(
        *[F.min(F.element_at("pos", jj + 1)).alias(f"lo{jj}") for jj in range(dim)],
        *[F.max(F.element_at("pos", jj + 1)).alias(f"hi{jj}") for jj in range(dim)],
    ).first()
    cell_cols = []
    for jj in range(dim):
        lo, hi = float(box[f"lo{jj}"]), float(box[f"hi{jj}"])
        span = max(hi - lo, 1e-9)
        cell_cols.append(
            F.least(
                F.floor(
                    (F.element_at("pos", jj + 1) - F.lit(lo)) / F.lit(span)
                    * F.lit(cells_per_dim)
                ).cast("int"),
                F.lit(cells_per_dim - 1),
            ).alias(f"g{jj}")
        )
    binned = coords.select("id", "pos", *cell_cols)
    cells = binned.groupBy(*[f"g{jj}" for jj in range(dim)]).agg(
        F.count("*").alias("cnt"),
        F.array(
            *[F.avg(F.element_at("pos", jj + 1)) for jj in range(dim)]
        ).alias("com"),
    )
    q2 = (q + 2.0) / 2.0
    qsign = 1.0 if q >= 0 else -1.0
    sq = _sq_dist(F.col("pos"), F.col("com"))
    pair = (
        coords.crossJoin(F.broadcast(cells))
        .select(
            "id",
            sq.alias("sq"),
            F.col("cnt"),
            F.zip_with("pos", "com", lambda a, b: a - b).alias("diff"),
        )
        .filter(F.col("sq") >= _CLAMP)  # octree guard :484-485
        .select(
            "id",
            (F.lit(qsign) * F.col("cnt") / F.pow("sq", F.lit(q2))).alias("factor"),
            "diff",
        )
    )
    rep = (
        pair.select(
            "id",
            *[
                (F.col("factor") * F.element_at("diff", jj + 1)).alias(f"b{jj}")
                for jj in range(dim)
            ],
        )
        .groupBy("id")
        .agg(*[F.sum(f"b{jj}").alias(f"b{jj}") for jj in range(dim)])
    )
    # per-dimension unit normalization (:493-497)
    norms = rep.agg(
        *[F.sqrt(F.sum(F.col(f"b{jj}") * F.col(f"b{jj}"))).alias(f"n{jj}")
          for jj in range(dim)]
    ).first()
    sel = []
    for jj in range(dim):
        nj = max(float(norms[f"n{jj}"] or 0.0), 1e-12)
        sel.append((F.col(f"b{jj}") / F.lit(nj)).alias(f"b{jj}"))
    wide = rep.select("id", *sel)
    long = wide.select(
        "id",
        F.posexplode(F.array(*[F.col(f"b{jj}") for jj in range(dim)])).alias(
            "j", "rep"
        ),
    )
    return long


def maxent_stress(
    graph: Graph,
    dim: int = 2,
    k: int = 1,
    coordinates: DataFrame | None = None,
    tolerance: float = 1e-5,
    q: float | None = None,
    alpha: float = 1.0,
    alpha_reduction: float = 0.3,
    final_alpha: float = 0.008,
    conv_threshold: float = 1e-6,
    max_solves_per_alpha: int = 10,
    fast_computation: bool = True,
    cells_per_dim: int = 8,
    seed: int = 1,
) -> MaxentStressResult:
    """Reference signature MaxentStress(G, dim, [coordinates,] k,
    tolerance, solver, fastComputation).run() → getCoordinates().
    `coordinates` (id, pos) seeds the layout (the reference tests pass
    PivotMDS output); omitted → random_sphere_init. maxSolvesPerAlpha
    defaults to 10 instead of the reference's 50 — with fastComputation
    the α round exits on convergence anyway, and each solve is a full
    distributed CG run here (documented cost trade; pass 50 for strict
    parity). Connectivity is required exactly like the reference
    (run() :80-86 throws on >1 component)."""
    spark = graph.edges.sparkSession

    S = known_distances(graph, k).persist(StorageLevel.MEMORY_AND_DISK)
    n = graph.vertices().count()
    reach = S.select(F.col("src").alias("id")).distinct().count()
    if reach != n:
        S.unpersist()
        raise ValueError(
            "MaxentStress requires a connected graph (isolated vertex found)"
        )
    # connectivity check, reference run() :80-86
    from networkit_spark.operators.components import connected_components_twophase

    ncomp = (
        connected_components_twophase(
            Graph.from_edges(
                S.select("src", "dst").withColumn("weight", F.lit(1.0)),
                directed=False,
            )
        ).labels.select("label").distinct().count()
    )
    if ncomp != 1:
        S.unpersist()
        raise ValueError(
            "ERROR: The supplied graph is not connected. Currently "
            "MaxentStress only handles connected graphs."
        )

    if q is None:
        deg1 = graph.out_degrees().filter(F.col("degree") == 1).count()
        q = 0.8 if deg1 / max(n, 1) > 0.3 else 0.0  # :545-552

    # CG system over S: w = 1/d² (weightingFactor)
    arcs_cg = S.select(
        "src", "dst", (F.lit(1.0) / (F.col("d") * F.col("d"))).alias("w")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    arcs_cg.count()
    verts = truncate(
        arcs_cg.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg"))
    )

    if coordinates is None:
        coordinates = random_sphere_init(graph, dim, seed)
    coords = truncate(coordinates.select("id", "pos"))

    result = MaxentStressResult(coordinates=coords, known=S, q=q)
    cur_alpha = alpha
    converged = False
    rep = None
    while not converged:
        result.alpha_rounds += 1
        cur_lower = 0
        for num_solves in range(max_solves_per_alpha):
            # repulsive refresh on the reference's ⌊5·ln s⌋ schedule
            # (:124-130; s=0 → first-solve refresh)
            new_lower = (
                -1 if num_solves == 0
                else int(math.floor(5.0 * math.log(num_solves)))
            )
            if rep is None or new_lower != cur_lower:
                new_rep = truncate(
                    _repulsive(coords, dim, q, cells_per_dim), release=rep
                )
                rep = new_rep
                cur_lower = new_lower

            # attractive term: rhs_u[j] = Σ_v w'(x_u[j]−x_v[j]),
            # w' = (1/d²)·d/max(dist,1e-5)  (:416-438)
            cu = coords.select(F.col("id").alias("src"), F.col("pos").alias("xu"))
            cv = coords.select(F.col("id").alias("dst"), F.col("pos").alias("xv"))
            pairs = (
                S.join(cu, "src")
                .join(cv, "dst")
                .select(
                    "src",
                    (
                        F.lit(1.0) / (F.col("d") * F.col("d")) * F.col("d")
                        / F.greatest(F.sqrt(_sq_dist(F.col("xu"), F.col("xv"))),
                                     F.lit(_CLAMP))
                    ).alias("wp"),
                    F.zip_with("xu", "xv", lambda a, b: a - b).alias("diff"),
                )
            )
            attract = (
                pairs.select(
                    F.col("src").alias("id"),
                    F.posexplode(
                        F.transform("diff", lambda v: F.col("wp") * v)
                    ).alias("j", "a"),
                )
                .groupBy("id", "j")
                .agg(F.sum("a").alias("a"))
            )
            if num_solves < max_solves_per_alpha // 5:
                anorm = attract.groupBy("j").agg(
                    F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm")
                ).collect()
                nmap = {int(r["j"]): max(float(r["nrm"]), 1e-12) for r in anorm}
                lookup = F.element_at(
                    F.array(*[F.lit(nmap.get(jj, 1.0)) for jj in range(dim)]),
                    F.col("j") + 1,
                )
                attract = attract.select("id", "j", (F.col("a") / lookup).alias("a"))

            rhs = (
                attract.join(rep, ["id", "j"], "left")
                .select(
                    "id", "j",
                    (F.col("a")
                     + F.lit(cur_alpha) * F.coalesce("rep", F.lit(0.0))).alias("b"),
                )
            )
            # zero-sum correction per dimension (:151-165)
            means = rhs.groupBy("j").agg((F.sum("b") / F.lit(float(n))).alias("mu")).collect()
            mmap = {int(r["j"]): float(r["mu"]) for r in means}
            mu = F.element_at(
                F.array(*[F.lit(mmap.get(jj, 0.0)) for jj in range(dim)]),
                F.col("j") + 1,
            )
            b = truncate(rhs.select("id", "j", (F.col("b") - mu).alias("b")))

            xlong = _solve_cg_block(arcs_cg, verts, b, k=dim, tol=tolerance)
            new_coords = truncate(_wide(xlong, dim))
            b.unpersist()
            result.solves += 1

            # isConverged (:364-378)
            both = coords.select("id", F.col("pos").alias("old")).join(
                new_coords.select("id", F.col("pos").alias("new")), "id"
            )
            r = both.agg(
                F.sum(_sq_dist(F.col("new"), F.col("old"))).alias("chg"),
                F.sum(_sq_dist(F.col("old"),
                               F.array(*[F.lit(0.0)] * dim))).alias("len"),
            ).first()
            rel = float(r["chg"]) / max(float(r["len"]), 1e-300)
            result.history.append(rel)
            coords.unpersist()
            coords = new_coords
            if rel < conv_threshold:
                converged = True
                if fast_computation:
                    break
                converged = False  # reference !fastComputation keeps going (:171-177)
        cur_alpha *= alpha_reduction  # cooling (:183)
        converged = converged or cur_alpha < final_alpha

    result.coordinates = coords
    return result


def ldme(coordinates: DataFrame, known: DataFrame) -> float:
    """sqrt(mean (d−‖x_u−x_v‖)²) over S (MaxentStress::ldme :351-362)."""
    cu = coordinates.select(F.col("id").alias("src"), F.col("pos").alias("xu"))
    cv = coordinates.select(F.col("id").alias("dst"), F.col("pos").alias("xv"))
    row = (
        known.join(cu, "src").join(cv, "dst")
        .select(
            (F.col("d") - F.sqrt(_sq_dist(F.col("xu"), F.col("xv")))).alias("e")
        )
        .agg(F.avg(F.col("e") * F.col("e")).alias("mse"))
        .first()
    )
    return math.sqrt(float(row["mse"]))


def scale_layout(coordinates: DataFrame, known: DataFrame) -> tuple[DataFrame, float]:
    """Scale coordinates by s = Σ(geo/d) / Σ(geo²/d²) (scaleLayout /
    computeScalingFactor :209-246) evaluated over the S pairs — the
    reference sums over all-pairs SSSP distances of the S-augmented
    graph; restricting to S is exact whenever S covers the pair set
    (k ≥ diameter) and the stated substitute otherwise."""
    cu = coordinates.select(F.col("id").alias("src"), F.col("pos").alias("xu"))
    cv = coordinates.select(F.col("id").alias("dst"), F.col("pos").alias("xv"))
    row = (
        known.filter(F.col("d") >= 1e-5)
        .join(cu, "src").join(cv, "dst")
        .select(F.sqrt(_sq_dist(F.col("xu"), F.col("xv"))).alias("geo"), "d")
        .agg(
            F.sum(F.col("geo") / F.col("d")).alias("top"),
            F.sum(F.col("geo") * F.col("geo") / (F.col("d") * F.col("d"))).alias("bot"),
        )
        .first()
    )
    s = float(row["top"]) / max(float(row["bot"]), 1e-300)
    scaled = coordinates.select(
        "id", F.transform("pos", lambda v: v * F.lit(s)).alias("pos")
    )
    return scaled, s
