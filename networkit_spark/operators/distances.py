"""Distance-module algorithms: batched multi-source BFS and everything
built on it (closeness, harmonic closeness, eccentricity/diameter,
exact + ANF-approximated effective diameter, neighborhood function).

Reference surface (networkit/cpp/distance/, cpp/centrality/):
- Closeness.cpp:49-115 + Closeness.hpp:84-100 (updateScoreData):
  standard variant score = 1/Σd (connected graphs only — ctor throws
  otherwise, Closeness.cpp:20-47), generalized (Wasserman–Faust)
  = (r−1)/Σd/(n−1) with r = #reached; normalized multiplies by (n−1)
  resp. (r−1); score 0 when Σd = 0.
- HarmonicCloseness.cpp:19-49: score = Σ_{u≠v, d finite} 1/d(v,u);
  normalized divides by (n−1).
- EffectiveDiameter.cpp:28-92 (exact): per node v, h_v = smallest h ≥ 1
  with |{u : d(v,u) ≤ h}| ≥ ceil(ratio·n); result = (Σ_v h_v)/n.
  Undirected + connected only (ctor throws, :17-26).
- EffectiveDiameterApproximation.cpp:24-127 (ANF, Palmer et al.): k
  Flajolet–Martin bitmasks of ceil(log2 n)+r bits per node, bit i set
  with P=0.5^(i+1); per round every active node ORs its neighbors'
  previous masks; estimated reach = 2^b / 0.77351 with b = mean least
  unset bit; a node finishes when the estimate reaches ceil(ratio·n)
  or its masks equal the global maximum; h_v = finishing round.
- Diameter: exact eccentricity sweep for tests (the reference's iFUB
  needs a sequential bound-refinement loop); double-sweep lower bound
  as the scale path (Diameter.cpp estimatedRange uses the same idea).

Spark shape: ONE frontier DataFrame keyed by (s, id) runs ALL sources'
BFS simultaneously — each superstep is a single join + aggregation over
the arc table, so b sources cost the same number of supersteps as one
(diameter many), with b× the rows per shuffle. Exact variants enumerate
every source (O(n·m) work, same as the reference's loop-over-sources);
at web scale callers pass a sampled source set — closeness/harmonic
accept any `sources` DataFrame. The ANF state is k long-typed mask
COLUMNS aggregated with bit_or (JVM-side, whole-stage codegen); masks
never leave the executors.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame


# --------------------------------------------------------- BFS kernel
def _bfs_step(arcs: DataFrame, visited: DataFrame, depth: int,
              keys=(), aggs=()) -> tuple[DataFrame, int]:
    """One BFS level in ONE Spark action. The frontier is visited's
    level depth - 1; its out-neighbours over `arcs(src, dst)`, grouped by
    (*keys, id) with `aggs` (or distinct), minus visited on (*keys, id),
    tagged dist = depth, are materialized together with visited as the
    new visited set (the old one is released). Returns (visited, rows
    of the new level)."""
    keys = list(keys)
    frontier = visited.filter(F.col("dist") == depth - 1)
    hop = frontier.join(arcs, frontier.id == arcs.src)
    if aggs:
        level = hop.groupBy(*keys, F.col("dst").alias("id")).agg(*aggs)
    else:
        level = hop.select(*keys, F.col("dst").alias("id")).distinct()
    level = (
        level.join(visited.select(*keys, "id"), [*keys, "id"], "left_anti")
        .withColumn("dist", F.lit(depth).cast("long"))
    )
    # coalesce: the union would otherwise add the level's partitions to
    # visited's at every level
    width = int(visited.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    visited, seen = materialize(
        visited.unionByName(level).coalesce(width),
        {"new": F.count_if(F.col("dist") == depth)},
        release=visited,
    )
    return visited, seen["new"]


def _bfs_levels(arcs: DataFrame, seeds: DataFrame, keys=(), aggs=(),
                max_depth: int | None = None) -> tuple[DataFrame, int]:
    """Level-synchronous BFS from `seeds(*keys, id, *aggs)` over the cached
    `arcs(src, dst)`: every traversal in the engine is this loop (SURVEY.md
    §2.4, "BFS = repeated frontier semi-join"). `keys` run independent
    searches side by side (one per source s, or per root); `aggs` fold
    the frontier rows that reach a vertex (path counts, a parent), over
    the join of frontier and arc columns. Returns (visited, depth):
    visited = (*keys, id, *aggs, dist) for every reached vertex, one
    cached frame; depth = the last non-empty level.

    visited is re-materialized with each level in that level's one
    action, so its plan stays flat (one cached scan) however deep the
    search goes; a union of per-level caches would instead add a scan,
    and its tasks, per level."""
    visited = truncate(seeds.withColumn("dist", F.lit(0).cast("long")))
    depth = 0
    while max_depth is None or depth < max_depth:
        visited, rows = _bfs_step(arcs, visited, depth + 1, keys, aggs)
        if rows == 0:
            break
        depth += 1
    return visited, depth


def multi_source_bfs(
    graph: Graph,
    sources: DataFrame,
    max_depth: int | None = None,
) -> DataFrame:
    """(s, id, dist) hop distances from every source in `sources(s)` to
    every reachable vertex. Unreached pairs are absent (reference SSSP
    marks them infinity). One superstep per BFS level for ALL sources.
    Undirected edges are stored both ways, so `graph.edges` is the arc
    table for either kind of graph."""
    arcs = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    seeds = (
        sources.select(F.col("s").cast("long").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("id"))
    )
    visited, _ = _bfs_levels(arcs, seeds, keys=("s",), max_depth=max_depth)
    arcs.unpersist()
    return visited


# Exact all-sources distance state is O(n·m): above this vertex count the
# caller MUST pass a sampled `sources` set (or use the ANF/estimate
# variants) — the cutover the 100 TB deployment is expected to make.
ALL_SOURCES_CUTOVER = 200_000


def _all_sources(graph: Graph) -> DataFrame:
    import warnings

    n = graph.num_vertices()
    if n > ALL_SOURCES_CUTOVER:
        warnings.warn(
            f"exact all-sources distances over {n} vertices is O(n*m) state; "
            "pass sources= (sampled) or use the approximate variants "
            "(effective_diameter ANF / estimate_betweenness)",
            RuntimeWarning,
            stacklevel=3,
        )
    return graph.vertices().select(F.col("id").alias("s"))


# ----------------------------------------------------------------- closeness
STANDARD = "standard"
GENERALIZED = "generalized"


def closeness_centrality(
    graph: Graph,
    normalized: bool = False,
    variant: str = STANDARD,
    sources: DataFrame | None = None,
) -> DataFrame:
    """(id, score) per Closeness.hpp:84-100 (see module docstring).
    `sources` restricts which vertices get scores (sampling at scale);
    default = all vertices (the reference's exact loop)."""
    n = graph.num_vertices()
    src = sources if sources is not None else _all_sources(graph)
    dists = multi_source_bfs(graph, src)
    per_source = dists.groupBy(F.col("s").alias("id")).agg(
        F.sum("dist").cast("double").alias("sum_d"),
        F.count("*").cast("long").alias("reached"),  # includes self (dist 0)
    )
    if variant == STANDARD:
        # connectivity gate (Closeness.cpp:41-47) derived from the BFS
        # itself — a source reaching < n vertices proves disconnection,
        # no separate CC run needed
        min_reached = per_source.agg(F.min("reached")).first()[0] or 0
        if min_reached < n:
            raise ValueError(
                "standard closeness is undefined on disconnected graphs; "
                "use variant='generalized' (Closeness.cpp:41-47)"
            )
    if variant == STANDARD:
        score = F.when(F.col("sum_d") > 0, 1.0 / F.col("sum_d")).otherwise(0.0)
        if normalized:
            score = score * float(n - 1)
    else:
        score = F.when(
            F.col("sum_d") > 0,
            (F.col("reached") - 1) / F.col("sum_d") / float(n - 1),
        ).otherwise(0.0)
        if normalized:
            score = score * (
                F.when(F.col("sum_d") > 0, F.col("reached") - 1).otherwise(0.0)
            )
    return per_source.select("id", score.alias("score"))


def harmonic_closeness(
    graph: Graph,
    normalized: bool = False,
    sources: DataFrame | None = None,
) -> DataFrame:
    """(id, score) = Σ 1/d to every other reachable vertex
    (HarmonicCloseness.cpp:19-49); normalized ÷ (n−1)."""
    n = graph.num_vertices()
    src = sources if sources is not None else _all_sources(graph)
    dists = multi_source_bfs(graph, src)
    score = F.sum(F.when(F.col("dist") > 0, 1.0 / F.col("dist")).otherwise(0.0))
    if normalized:
        score = score / float(n - 1)
    return dists.groupBy(F.col("s").alias("id")).agg(score.alias("score"))


# ------------------------------------------------------------------ diameter
def eccentricities(graph: Graph, sources: DataFrame | None = None) -> DataFrame:
    """(id, ecc) = max hop distance to any reachable vertex."""
    src = sources if sources is not None else _all_sources(graph)
    dists = multi_source_bfs(graph, src)
    return dists.groupBy(F.col("s").alias("id")).agg(F.max("dist").alias("ecc"))


def diameter_exact(graph: Graph) -> int:
    """max eccentricity over all vertices (all-sources BFS — the test
    oracle; web-scale callers use diameter_double_sweep)."""
    row = eccentricities(graph).agg(F.max("ecc")).first()
    return int(row[0]) if row[0] is not None else 0


def diameter_double_sweep(graph: Graph) -> int:
    """Lower bound by double sweep: BFS from the smallest-id vertex, then
    from the farthest vertex found (the reference's estimatedRange lower
    bound, cpp/distance/Diameter.cpp). Two BFS instead of n."""
    first = graph.vertices().agg(F.min("id")).first()[0]
    if first is None:
        return 0
    spark = graph.edges.sparkSession
    d1 = multi_source_bfs(graph, local_frame(spark, [(int(first),)], "s long"))
    far = d1.orderBy(F.desc("dist"), F.asc("id")).first()
    d2 = multi_source_bfs(graph, local_frame(spark, [(int(far["id"]),)], "s long"))
    return int(d2.agg(F.max("dist")).first()[0])


# --------------------------------------------------------- effective diameter
def _require_connected_undirected(graph: Graph, what: str):
    """Connectivity gate: one BFS from the smallest vertex reaching all n
    vertices ⇔ connected (undirected) — cheaper than a CC convergence
    loop by a factor of the component structure."""
    if graph.directed:
        raise ValueError(f"{what} supports undirected graphs only")
    spark = graph.edges.sparkSession
    first = graph.vertices().agg(F.min("id")).first()[0]
    if first is None:
        return
    reached = multi_source_bfs(
        graph, local_frame(spark, [(int(first),)], "s long")
    ).count()
    if reached < graph.num_vertices():
        raise ValueError(f"{what} requires a connected graph")


def effective_diameter_exact(graph: Graph, ratio: float = 0.9) -> float:
    """EffectiveDiameter.cpp:28-92: mean over vertices of the smallest
    h ≥ 1 whose h-neighborhood holds ≥ ceil(ratio·n) vertices.

    Identity used: with dists(s, id, dist) from all-pairs BFS, h_s =
    max(1, the ceil(ratio·n)-th smallest distance from s) — the h at
    which the running reach count first crosses the threshold."""
    _require_connected_undirected(graph, "effective_diameter_exact")
    n = graph.num_vertices()
    threshold = int(math.ceil(ratio * n))
    dists = multi_source_bfs(graph, _all_sources(graph))
    w = Window.partitionBy("s").orderBy(F.asc("dist"))
    h_per_node = (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == threshold)
        .select("s", F.greatest(F.col("dist"), F.lit(1)).alias("h"))
    )
    return float(h_per_node.agg(F.avg("h")).first()[0])


def neighborhood_function(graph: Graph) -> DataFrame:
    """(dist, n_pairs): number of ordered vertex pairs within distance
    ≤ dist, for every distance realized (NeighborhoodFunction.cpp —
    exact variant; pairs exclude dist 0)."""
    _require_connected_undirected(graph, "neighborhood_function")
    dists = multi_source_bfs(graph, _all_sources(graph))
    per_d = (
        dists.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count("*").alias("cnt"))
    )
    # bounded-window: one row per realized hop distance (≤ diameter).
    w = (Window.partitionBy(F.pmod(F.col("dist"), F.lit(1)))
         .orderBy("dist").rowsBetween(Window.unboundedPreceding, 0))
    return per_d.select(
        "dist", F.sum("cnt").over(w).cast("long").alias("n_pairs")
    )


def effective_diameter_approx(
    graph: Graph,
    ratio: float = 0.9,
    k: int = 64,
    r: int = 7,
    seed: int = 42,
) -> float:
    """ANF approximation (EffectiveDiameterApproximation.cpp:24-127).

    Deterministic seeded init: the geometric bit position for (node, j)
    is the trailing-zero count of xxhash64(id, j, seed) — trailing
    zeros of a uniform word are exactly Geometric(1/2), the reference's
    ceil(log(rand)/log(0.5) − 1) distribution. Masks are k LONG COLUMNS;
    the neighborhood OR is groupBy(dst).agg(bit_or(m_j)) — all JVM-side.
    least-unset-bit(m) = bit_count(m XOR (m+1)) − 1 (flips the trailing
    ones run plus the first zero)."""
    _require_connected_undirected(graph, "effective_diameter_approx")
    n = graph.num_vertices()
    threshold = int(math.ceil(ratio * n))
    n_bits = int(math.ceil(math.log2(max(n, 2)))) + r

    sym = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()

    mask_cols = [f"m{j}" for j in range(k)]

    def init_mask(j: int):
        h = F.xxhash64("id", F.lit(j), F.lit(seed))
        # trailing zeros: bit_count(~h & (h-1)); h==0 impossible-ish but
        # guard to position 0
        pos = F.bit_count(F.bitwise_not(h).bitwiseAND(h - 1))
        # shiftleft() takes only a literal shift; 2^pos is exact in a
        # double for pos < 52 and n_bits ≤ log2(n)+r ≪ 52
        return F.when(pos < n_bits, F.pow(F.lit(2.0), pos).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    state = graph.vertices().select(
        "id", *[init_mask(j).alias(c) for j, c in enumerate(mask_cols)]
    )
    state = (
        state.withColumn("active", F.lit(True))
        .withColumn("done_h", F.lit(0).cast("long"))
    )
    state = truncate(state)

    # global maximum attainable mask per approximation j
    highest = state.agg(
        *[F.bit_or(c).alias(c) for c in mask_cols]
    ).first()

    h = 0
    while True:
        h += 1
        active_nodes = state.filter("active")
        if active_nodes.limit(1).count() == 0:
            break
        # gather: OR of neighbors' previous masks (only needed for active
        # dst nodes — semi-join pushes the filter below the aggregation)
        msgs = (
            sym.join(state.select(F.col("id").alias("src"), *mask_cols), "src")
            .join(
                active_nodes.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.bit_or(c).alias(f"g_{c}") for c in mask_cols])
        )
        merged = state.join(msgs, "id", "left")
        new_masks = [
            F.when(
                F.col("active"),
                F.col(c).bitwiseOR(F.coalesce(F.col(f"g_{c}"), F.lit(0))),
            )
            .otherwise(F.col(c))
            .alias(c)
            for c in mask_cols
        ]
        merged = merged.select("id", "active", "done_h", *new_masks)

        # b = mean least-unset-bit across the k masks
        b = sum(
            (F.bit_count(F.col(c).bitwiseXOR(F.col(c) + 1)) - 1) for c in mask_cols
        ) / float(k)
        est = F.pow(F.lit(2.0), b) / 0.77351
        saturated = None
        for c in mask_cols:
            cond = F.col(c) == F.lit(int(highest[c])).cast("long")
            saturated = cond if saturated is None else (saturated & cond)
        finishes = F.col("active") & ((est >= threshold) | saturated)
        state = truncate(
            merged.select(
                "id",
                *mask_cols,
                (F.col("active") & ~finishes).alias("active"),
                F.when(finishes, F.lit(h).cast("long"))
                .otherwise(F.col("done_h"))
                .alias("done_h"),
            ),
            release=state,
        )

    sym.unpersist()
    return float(state.agg(F.avg("done_h")).first()[0])


def neighborhood_function_approx(
    graph: Graph,
    k: int = 64,
    r: int = 7,
    seed: int = 42,
) -> list[int]:
    """ANF neighborhood function (NeighborhoodFunctionApproximation.cpp:
    38-141): result[h-1] = Σ over nodes of the ROUNDED reach estimate
    after h rounds (finished nodes keep their frozen estimate). Same
    seeded Flajolet–Martin masks as effective_diameter_approx; rounds
    run until every node's masks saturate the global maximum."""
    _require_connected_undirected(graph, "neighborhood_function_approx")
    n = graph.num_vertices()
    n_bits = int(math.ceil(math.log2(max(n, 2)))) + r

    sym = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()
    mask_cols = [f"m{j}" for j in range(k)]

    def init_mask(j: int):
        h = F.xxhash64("id", F.lit(j), F.lit(seed))
        pos = F.bit_count(F.bitwise_not(h).bitwiseAND(h - 1))
        return F.when(pos < n_bits, F.pow(F.lit(2.0), pos).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    state = graph.vertices().select(
        "id", *[init_mask(j).alias(c) for j, c in enumerate(mask_cols)]
    ).withColumn("active", F.lit(True))
    state = truncate(state)
    highest = state.agg(*[F.bit_or(c).alias(c) for c in mask_cols]).first()

    result: list[int] = []
    sum_removed = 0
    while True:
        active_nodes = state.filter("active")
        if active_nodes.limit(1).count() == 0:
            break
        msgs = (
            sym.join(state.select(F.col("id").alias("src"), *mask_cols), "src")
            .join(active_nodes.select(F.col("id").alias("dst")), "dst", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.bit_or(c).alias(f"g_{c}") for c in mask_cols])
        )
        merged = state.join(msgs, "id", "left").select(
            "id",
            "active",
            *[
                F.when(
                    F.col("active"),
                    F.col(c).bitwiseOR(F.coalesce(F.col(f"g_{c}"), F.lit(0))),
                )
                .otherwise(F.col(c))
                .alias(c)
                for c in mask_cols
            ],
        )
        b = sum(
            (F.bit_count(F.col(c).bitwiseXOR(F.col(c) + 1)) - 1) for c in mask_cols
        ) / float(k)
        est = F.round(F.pow(F.lit(2.0), b) / 0.77351).cast("long")
        saturated = None
        for c in mask_cols:
            cond = F.col(c) == F.lit(int(highest[c])).cast("long")
            saturated = cond if saturated is None else (saturated & cond)
        state = truncate(
            merged.withColumn("est", est).withColumn(
                "finished", F.col("active") & saturated
            ),
            release=state,
        )
        row = state.filter("active").agg(
            F.sum("est").alias("est_sum"),
            F.sum(F.when(F.col("finished"), F.col("est"))).alias("removed"),
        ).first()
        result.append(int(sum_removed + (row["est_sum"] or 0)))
        sum_removed += int(row["removed"] or 0)
        state = state.select(
            "id", *mask_cols, (F.col("active") & ~F.col("finished")).alias("active")
        )
    sym.unpersist()
    return result


def approx_closeness(
    graph: Graph,
    n_samples: int = 100,
    normalized: bool = False,
    seed: int = 42,
    sources: DataFrame | None = None,
) -> DataFrame:
    """(id, score) — sampled-source closeness estimate for EVERY vertex.

    Reference: ApproxCloseness (cpp/centrality/ApproxCloseness.cpp:29-60)
    estimates closeness for all nodes from nSamples pivots. The
    reference's estimator is Cohen et al.'s pivot/annotation scheme
    (sequential priority-queue machinery); the Spark-first substitute is
    the classic Eppstein–Wang uniform-sample estimator:

        closeness(v) ≈ 1 / (n/k · Σ_{s∈S} d(s, v))   [×(n−1) if normalized]

    with S a k-sample of vertices — one multi-source BFS (all samples
    advance together, one superstep per level), one groupBy(v). For
    directed graphs distances are accumulated on the TRANSPOSED graph so
    the sum at v is Σ d(v→s), matching outbound closeness
    (ApproxCloseness OUTBOUND). Vertices reaching no sample score 0 (the
    reference's unreachable convention). Sampling is hash-deterministic;
    an explicit `sources(s)` DataFrame overrides it (used by the driver
    oracle, which needs a SQL-replicable sample).
    """
    from networkit_spark.graphtools import transpose

    n = graph.num_vertices()
    if sources is not None:
        samples = sources.select(F.col("s").cast("long").alias("s")).distinct()
        k = samples.count()
    else:
        k = min(n_samples, n)
        # deterministic uniform k-sample: the k smallest xxhash64 values —
        # a two-phase rank over a 1-column table of n rows
        from networkit_spark.plans.ranking import global_row_numbers

        hashed = graph.vertices().select(
            "id", F.xxhash64(F.lit(seed), "id").alias("h")
        )
        samples = (
            global_row_numbers(hashed, "h", out_col="rn")
            .filter(F.col("rn") < k)
            .select(F.col("id").alias("s"))
        )

    bfs_graph = transpose(graph) if graph.directed else graph
    dists = multi_source_bfs(bfs_graph, samples)
    sums = dists.groupBy("id").agg(F.sum("dist").cast("double").alias("sum_d"))

    # same score convention as closeness_centrality: unnormalized =
    # 1/Σd with Σd estimated as (n/k)·(sampled sum); k=n reduces to the
    # exact standard score. normalized multiplies by (n-1).
    est = F.when(
        F.col("sum_d") > 0,
        1.0 / ((float(n) / k) * F.col("sum_d")),
    ).otherwise(0.0)
    if normalized:
        est = est * (n - 1.0)
    return (
        graph.vertices()
        .join(sums, "id", "left")
        .select("id", F.round(F.coalesce(est, F.lit(0.0)), 9).alias("score"))
    )


# ---------------------------------------------------------- algebraic distance
def algebraic_distance_loads(
    graph: Graph,
    num_systems: int = 10,
    num_iters: int = 30,
    omega: float = 0.5,
    seed: int = 1,
    checkpoint_every: int = 5,
    normalize: bool = True,
) -> DataFrame:
    """(id, sys, load) — normalized algebraic-distance test vectors.
    normalize=False returns the raw smoothed loads — the
    AlgebraicDistanceIndex (linkprediction) semantics, which skip the
    per-system min-max step.

    AlgebraicDistance.cpp:27-110 semantics (Chen & Safro): num_systems
    test vectors random-init in [0,1), num_iters Jacobi sweeps
    new[u] = (1-ω)·old[u] + ω·(Σ_v w(u,v)·old[v] / weightedDeg(u)),
    then per-system normalization load ← (min−load)/(min−max).

    Deviations (documented): init is a DETERMINISTIC md5-based hash of
    (seed, id, sys) instead of Aux::Random::real() — replicable in the
    DuckDB oracle and across runs; isolated nodes KEEP their init load
    (the reference's 0/0 produces NaN loads whose distances collapse to
    0 via its isnan guard — no finite information either way).

    Scale shape: the sweep is the PageRank gather plan (one shuffle join
    + one partial/final agg per sweep, num_systems rows per vertex);
    lineage truncated every `checkpoint_every` sweeps.
    """
    spark = graph.edges.sparkSession
    systems = spark.range(num_systems).select(F.col("id").cast("int").alias("sys"))
    loads = graph.vertices().crossJoin(F.broadcast(systems)).select(
        "id",
        "sys",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("ad"), F.lit(seed), "id", "sys")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(4294967296.0)
        ).alias("load"),
    )
    sym = graph.symmetrized_edges().persist(StorageLevel.MEMORY_AND_DISK)
    wdeg = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("wdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wdeg.count()

    state = truncate(loads)
    for it in range(num_iters):
        nbr = state.select(F.col("id").alias("dst"), "sys", F.col("load").alias("nl"))
        gathered = (
            sym.join(nbr, "dst")
            .groupBy(F.col("src").alias("id"), "sys")
            .agg(F.sum(F.col("weight") * F.col("nl")).alias("s"))
        )
        new = (
            state.join(gathered, ["id", "sys"], "left")
            .join(wdeg, "id", "left")
            .select(
                "id",
                "sys",
                F.when(
                    F.col("s").isNotNull(),
                    (1.0 - omega) * F.col("load")
                    + omega * (F.col("s") / F.col("wdeg")),
                )
                .otherwise(F.col("load"))
                .alias("load"),
            )
        )
        if (it + 1) % checkpoint_every == 0 or it == num_iters - 1:
            state = truncate(new, release=state)
        else:
            state = new

    if normalize:
        mm = state.groupBy("sys").agg(
            F.min("load").alias("mn"), F.max("load").alias("mx")
        )
        out = state.join(F.broadcast(mm), "sys").select(
            "id",
            "sys",
            F.when(F.col("mn") == F.col("mx"), F.lit(0.0))
            .otherwise((F.col("mn") - F.col("load")) / (F.col("mn") - F.col("mx")))
            .alias("load"),
        )
        out = truncate(out, release=state)
    else:
        out = state
    sym.unpersist()
    wdeg.unpersist()
    return out


def algebraic_distance_edge_scores(
    graph: Graph,
    num_systems: int = 10,
    num_iters: int = 30,
    omega: float = 0.5,
    norm: int = 0,
    seed: int = 1,
) -> DataFrame:
    """(u, v, ad) — algebraic distance per edge (withEdgeScores=true,
    AlgebraicDistance.cpp:112-119 + distance():121-146): norm=0 is the
    reference's MAX_NORM (L∞ over systems), norm=p is the p-norm. Each
    undirected edge scored once (u <= v), self-loops score 0 trivially."""
    loads = algebraic_distance_loads(graph, num_systems, num_iters, omega, seed)
    rep = graph.symmetrized_edges().filter(F.col("src") <= F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    lu = loads.select(F.col("id").alias("u"), "sys", F.col("load").alias("lu"))
    lv = loads.select(F.col("id").alias("v"), "sys", F.col("load").alias("lv"))
    diffs = rep.join(lu, "u").join(lv, ["v", "sys"]).select(
        "u", "v", "sys", F.abs(F.col("lu") - F.col("lv")).alias("d")
    )
    if norm == 0:
        agg = F.max("d")
    else:
        agg = F.pow(F.sum(F.pow("d", float(norm))), 1.0 / norm)
    return (
        diffs.groupBy("u", "v")
        .agg(F.coalesce(agg, F.lit(0.0)).alias("ad"))
        .select("u", "v", F.nanvl("ad", F.lit(0.0)).alias("ad"))
    )
