"""Commute-time distance (effective resistance) via a distributed
Laplacian solver.

Reference (networkit/cpp/distance/CommuteTimeDistance.cpp):
- undirected only (ctor throws, :18-23);
- run()/distance() (:38-67, :147-151): per pair solve L x = e_u − e_v
  with the LAMG multigrid solver; distance = sqrt(|x_u − x_v| · vol(G))
  (vol = GraphTools::volume = Σ degrees);
- runApproximation() (:74-109, Spielman–Srivastava): k =
  ceil(log2 n)/tol² random-projection solves L x_i = Bᵀ q_i with
  q_i(e) = ±1/sqrt(k); distance ≈ sqrt(Σ_i (x_i[u] − x_i[v])² · vol).

Spark-native substitution: LAMG (a sequential multigrid hierarchy) is
replaced by BLOCK Jacobi-preconditioned CONJUGATE GRADIENT. All k
right-hand sides advance together in LONG format — the solver state is
ONE DataFrame with a row per (vertex, system) (id, j, deg, x, r, p) —
so each iteration is ONE gather join (the Laplacian matvec
L p = deg·p − Σ_neighbors w·p for every system at once) plus two
k-row `groupBy(j)` aggregations; the per-system scalars α_j/β_j return
to the driver as k rows and re-enter the plan as flat array-literal
lookups (no per-system driver loop, no nested array expressions —
an earlier array-column formulation made Catalyst planning time grow
per iteration; the long format keeps the plan constant-size, with
lineage truncated every superstep).

For b ⊥ 1 and x₀ = 0 on a connected graph, CG on the
singular-but-consistent system stays in range(L) and converges to the
minimum-norm solution; pairwise DIFFERENCES x_u − x_v are invariant to
the nullspace (constant) component, so the computed distances equal
the reference's. The approximation's per-edge random signs are the
engine's seeded quadratic hash (SQL-replicable), replacing Aux::Random
— the documented RNG substitution.

Scale: every iteration shuffles m·k matvec rows on the arc key and
reduces them map-side; driver state is O(k) scalars. Exact all-pairs
CTD is O(n²) solves — the reference's own limitation; at scale use the
k = O(log n / tol²) projection embedding (ctd_embedding), after which
any pair distance is a two-row lookup.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame

_A, _B, _C, _D = 2654435761, 40503, 97, 1000003
_M = 1_000_000_007


def _mix(*cols):
    h1 = cols[0] * F.lit(_A)
    coeffs = (_B, _C, _D)
    for i, c in enumerate(cols[1:]):
        h1 = h1 + c * F.lit(coeffs[i % 3])
    h1 = F.pmod(h1, F.lit(_M))
    h2 = F.pmod(h1 * h1 + F.lit(_A) * h1 + F.lit(_B), F.lit(_M))
    return F.pmod(h2 * h2 + F.lit(_C) * h2 + F.lit(_D), F.lit(_M))


def _over_deg(expr):
    # Jacobi preconditioner z = r/deg, zero-safe: isolated vertices
    # (deg=0) always have r=0 — non-ANSI Spark division would yield
    # NULL there and poison the state.
    return F.when(F.col("deg") > 0, expr / F.col("deg")).otherwise(F.lit(0.0))


def _laplacian_parts(graph: Graph):
    if graph.directed:
        raise ValueError(
            "Commute time distance is only supported for undirected graphs."
        )
    arcs = graph.edges.select(
        "src", "dst",
        (F.col("weight") if graph.weighted else F.lit(1.0)).alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    arcs.count()
    deg = arcs.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg"))
    verts = graph.vertices().join(deg, "id", "left") \
        .select("id", F.coalesce("deg", F.lit(0.0)).alias("deg"))
    return arcs, truncate(verts)


def _by_j(vals):
    """k driver scalars → a flat array-literal lookup on the j column."""
    return F.element_at(
        F.array(*[F.lit(float(v)) for v in vals]), F.col("j") + 1
    )


def _solve_cg_block(
    arcs: DataFrame, verts: DataFrame, b: DataFrame, k: int,
    tol: float = 1e-8, max_iter: int = 2000, shift: float = 0.0,
) -> DataFrame:
    """X with (L + shift·I) X = B for k right-hand sides at once (for
    shift = 0 each column of B must sum to 0 on a connected graph;
    shift > 0 makes the system SPD — forest matrix etc. — with no
    nullspace caveats); b is long-format (id LONG, j INT, b DOUBLE)
    with j in [0, k), missing cells = 0; returns (id, j, x). Block
    Jacobi-preconditioned CG, one gather join + two groupBy(j) scalar
    aggregations + one lineage cut per iteration; per-system
    convergence flags live on the driver."""
    spark = arcs.sparkSession
    if shift:
        verts = verts.select("id", (F.col("deg") + F.lit(shift)).alias("deg"))
    cols = spark.range(k).select(F.col("id").cast("int").alias("j"))
    state = truncate(
        verts.crossJoin(cols)
        .join(b, ["id", "j"], "left")
        .select(
            "id", "j", "deg",
            F.lit(0.0).alias("x"),
            F.coalesce("b", F.lit(0.0)).alias("r"),
        )
        .withColumn("p", _over_deg(F.col("r")))
    )
    first = {
        r["j"]: r
        for r in state.groupBy("j").agg(
            F.sum(_over_deg(F.col("r") * F.col("r"))).alias("rz"),
            F.sum(F.col("r") * F.col("r")).alias("rr"),
        ).collect()
    }
    rz = [first[j]["rz"] for j in range(k)]
    thr = [max(tol * max(math.sqrt(first[j]["rr"]), 1.0), 1e-300)
           for j in range(k)]
    done = [first[j]["rr"] == 0.0 for j in range(k)]

    for _ in range(max_iter):
        if all(done):
            break
        # q = L p (deg·p − Σ neighbor p) for every system in one join;
        # the groupBy(dst, j) combines map-side.
        gathered = (
            state.select(F.col("id").alias("src"), "j", "p")
            .join(arcs, "src")
            .groupBy(F.col("dst").alias("id"), "j")
            .agg(F.sum(F.col("w") * F.col("p")).alias("nsum"))
        )
        st2 = state.join(gathered, ["id", "j"], "left").withColumn(
            "q",
            F.col("deg") * F.col("p") - F.coalesce("nsum", F.lit(0.0)),
        ).drop("nsum").persist()
        pq = {
            r["j"]: r["pq"]
            for r in st2.groupBy("j").agg(
                F.sum(F.col("p") * F.col("q")).alias("pq")
            ).collect()
        }
        alpha = [
            0.0 if (done[j] or not pq.get(j)) else rz[j] / pq[j]
            for j in range(k)
        ]
        st3 = st2.select(
            "id", "j", "deg",
            (F.col("x") + _by_j(alpha) * F.col("p")).alias("x"),
            (F.col("r") - _by_j(alpha) * F.col("q")).alias("r"),
            "p",
        )
        stats = {
            r["j"]: r
            for r in st3.groupBy("j").agg(
                F.sum(_over_deg(F.col("r") * F.col("r"))).alias("rz"),
                F.sum(F.col("r") * F.col("r")).alias("rr"),
            ).collect()
        }
        beta = []
        for j in range(k):
            if not done[j] and math.sqrt(stats[j]["rr"]) <= thr[j]:
                done[j] = True
            beta.append(0.0 if done[j] else stats[j]["rz"] / rz[j])
            if not done[j]:
                rz[j] = stats[j]["rz"]
        nxt = truncate(
            st3.withColumn("p", _over_deg(F.col("r")) + _by_j(beta) * F.col("p")),
            release=state,
        )
        st2.unpersist()
        state = nxt
    return state.select("id", "j", "x")


def commute_time_distance(
    graph: Graph, pairs: list, tol: float = 1e-8
) -> DataFrame:
    """(s, t, ctd) exact commute-time distances for the given node
    pairs: ctd = sqrt(|x_s − x_t| · vol) with L x = e_s − e_t — all
    pairs solved in ONE block-CG run (system j's RHS is e_sj − e_tj)."""
    arcs, verts = _laplacian_parts(graph)
    vol = float(
        arcs.agg(F.sum("w")).first()[0]
    )  # Σ degrees (each undirected edge appears twice in arcs)
    spark = graph.edges.sparkSession
    live = [(int(s), int(t)) for s, t in pairs if s != t]
    rows = [(int(s), int(t), 0.0) for s, t in pairs if s == t]
    if live:
        k = len(live)
        cells = []
        for j, (s, t) in enumerate(live):
            cells.append((s, j, 1.0))
            cells.append((t, j, -1.0))
        b = (
            local_frame(spark, cells, "id long, j int, v double")
            .groupBy("id", "j").agg(F.sum("v").alias("b"))
        )
        x = _solve_cg_block(arcs, verts, b, k, tol=tol)
        want = {u for st in live for u in st}
        vals = {
            (r["id"], r["j"]): r["x"]
            for r in x.filter(F.col("id").isin(*want)).collect()
        }
        for j, (s, t) in enumerate(live):
            rows.append(
                (s, t, math.sqrt(abs(vals[(s, j)] - vals[(t, j)]) * vol))
            )
    arcs.unpersist()
    return local_frame(spark, rows, "s long, t long, ctd double")


def ctd_embedding(
    graph: Graph, tol: float = 0.3, seed: int = 1
) -> tuple[DataFrame, float]:
    """(embedding (id, vec ARRAY<DOUBLE>), vol) — runApproximation's
    k = ceil(log2 n)/tol² projection solves with seeded-hash edge
    signs, all k in one block-CG run; approx ctd(u, v) =
    sqrt(Σ_i (vec_u[i] − vec_v[i])² · vol)."""
    arcs, verts = _laplacian_parts(graph)
    n = graph.num_vertices()
    k = int(math.ceil(math.log2(max(n, 2))) / (tol * tol))
    inv_sqrt_k = 1.0 / math.sqrt(k)
    und = arcs.filter(F.col("src") < F.col("dst"))
    # b_j = Bᵀ q_j in long format: every undirected edge contributes
    # ±1/sqrt(k) to its endpoints for each of the k systems.
    contrib = (
        und.crossJoin(
            und.sparkSession.range(k).select(F.col("id").cast("int").alias("j"))
        )
        .withColumn(
            "r",
            F.when(
                F.pmod(
                    _mix(F.col("src"), F.col("dst"), F.col("j"), F.lit(seed)),
                    F.lit(2),
                ) == 0,
                F.lit(inv_sqrt_k),
            ).otherwise(F.lit(-inv_sqrt_k)),
        )
    )
    b = (
        contrib.select(F.col("src").alias("id"), "j", F.col("r").alias("v"))
        .unionByName(contrib.select(
            F.col("dst").alias("id"), "j", (-F.col("r")).alias("v")
        ))
        .groupBy("id", "j").agg(F.sum("v").alias("b"))
    )
    x = _solve_cg_block(arcs, verts, b, k, tol=1e-7)
    emb = (
        x.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("j", "x"))).alias("sx"))
        .select(
            "id",
            F.transform(F.col("sx"), lambda s: s["x"]).alias("vec"),
        )
    )
    vol = float(arcs.agg(F.sum("w")).first()[0])
    arcs.unpersist()
    return emb, vol


def ctd_approx_pairs(emb: DataFrame, vol: float, pairs: list) -> DataFrame:
    spark = emb.sparkSession
    p = local_frame(
        spark, [(int(s), int(t)) for s, t in pairs], "s long, t long"
    )
    es = emb.select(F.col("id").alias("s"), F.col("vec").alias("vs"))
    et = emb.select(F.col("id").alias("t"), F.col("vec").alias("vt"))
    diff2 = F.aggregate(
        F.zip_with("vs", "vt", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        p.join(es, "s").join(et, "t")
        .select("s", "t", F.sqrt(diff2 * F.lit(vol)).alias("ctd"))
    )
