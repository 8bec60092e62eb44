"""Seeded distributed graph generators — Spark-native fixtures & bench
inputs (reference: networkit/cpp/generators/*, SURVEY.md §2.8).

All generators are pure column expressions over spark.range(...): no
driver-side loops, no Python UDFs, fully deterministic given (seed) —
the properties a 100 TB bench harness needs (any executor can regenerate
its partition independently; no shuffle until the caller asks for one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from networkit_spark.session import local_frame


def _h(seed: int, *cols) -> F.Column:
    """Deterministic uniform 64-bit hash of (seed, *cols), non-negative."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def erdos_renyi(spark: SparkSession, n: int, p: float, seed: int = 42,
                directed: bool = False) -> DataFrame:
    """G(n, p) via hash-thresholding every candidate pair — O(n²) candidate
    scan, embarrassingly parallel, no RNG state. Use for n ≤ ~10⁴ (tests);
    for bench-scale graphs use rmat() which is O(m)."""
    pairs = (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("long").alias("src"),
            (F.col("id") % n).alias("dst"),
        )
    )
    pairs = pairs.filter(
        F.col("src") < F.col("dst") if not directed else F.col("src") != F.col("dst")
    )
    scale = 1_000_000_000
    return (
        pairs.filter((_h(seed, "src", "dst") % scale) < int(p * scale))
        .withColumn("weight", F.lit(1.0))
    )


def rmat(spark: SparkSession, scale: int, edge_factor: int = 16, seed: int = 42,
         a: float = 0.57, b: float = 0.19, c: float = 0.19) -> DataFrame:
    """R-MAT power-law generator (Chakrabarti et al., SDM'04): n = 2^scale
    nodes, m = n·edge_factor directed edges. Per edge and per bit level,
    the quadrant is chosen by an independent hash draw — O(m) work, zero
    shuffle, partition-local regeneration.

    Returns (src, dst, weight) with multi-edges retained (dedup is the
    caller's choice, as in the reference's checkMultiEdge)."""
    n = 1 << scale
    m = n * edge_factor
    ab, abc = a + b, a + b + c
    scale_i = 1_000_000_000
    t_a, t_ab, t_abc = int(a * scale_i), int(ab * scale_i), int(abc * scale_i)

    df = spark.range(m)
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        draw = _h(seed + level, "id") % scale_i
        src_bit = F.when(draw < t_ab, F.lit(0)).otherwise(F.lit(1))
        dst_bit = (
            F.when(draw < t_a, F.lit(0))
            .when(draw < t_ab, F.lit(1))
            .when(draw < t_abc, F.lit(0))
            .otherwise(F.lit(1))
        )
        src = src * 2 + src_bit
        dst = dst * 2 + dst_bit
    return df.select(
        src.cast("long").alias("src"),
        dst.cast("long").alias("dst"),
        F.lit(1.0).alias("weight"),
    )


def planted_partition(spark: SparkSession, n: int, k: int, p_intra: float,
                      p_inter: float, seed: int = 42) -> DataFrame:
    """ClusteredRandomGraphGenerator semantics
    (ClusteredRandomGraphGenerator.cpp:24-50): node v belongs to cluster
    v % k; pair (u,v) gets an edge with p_intra if same cluster else
    p_inter. Degenerate (1.0, 0.0) → k disjoint cliques (the PLP planted
    fixture)."""
    pairs = (
        spark.range(n * n)
        .select(
            (F.col("id") / n).cast("long").alias("src"),
            (F.col("id") % n).alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
    )
    scale = 1_000_000_000
    same = (F.col("src") % k) == (F.col("dst") % k)
    thresh = F.when(same, F.lit(int(p_intra * scale))).otherwise(
        F.lit(int(p_inter * scale))
    )
    return (
        pairs.filter((_h(seed, "src", "dst") % scale) < thresh)
        .withColumn("weight", F.lit(1.0))
    )


# --------------------------------------------------------- preferential
def _uniform01(seed_key: int, *cols) -> F.Column:
    """Deterministic uniform double in [0, 1)."""
    scale = 1_000_000_000_000
    return (_h(seed_key, *cols) % scale) / F.lit(float(scale))


def _powerlaw_int(seed_key: int, exponent: float, x_min: int, x_max: int,
                  *cols) -> F.Column:
    """Truncated power-law integer draw via inverse-CDF of a continuous
    Pareto(exponent) on [x_min, x_max+1) (reference distribution:
    PowerlawDegreeSequence.cpp:80-93 uses the same inverse-transform on
    the discrete CDF; the continuous relaxation keeps the draw a pure
    column expression). exponent is the POSITIVE tail exponent (P(x)
    ~ x^-exponent), must be > 1."""
    one_minus = 1.0 - exponent
    lo = float(x_min) ** one_minus
    hi = float(x_max + 1) ** one_minus
    u = _uniform01(seed_key, *cols)
    x = F.pow(F.lit(lo) + u * F.lit(hi - lo), F.lit(1.0 / one_minus))
    return F.least(F.floor(x).cast("long"), F.lit(int(x_max)))


def barabasi_albert(spark: SparkSession, k: int, n_max: int, n0: int = 0,
                    seed: int = 42) -> DataFrame:
    """Barabási–Albert preferential attachment, distributed
    Batagelj–Brandes (reference: BarabasiAlbertGenerator.cpp:83-160
    'generateParallel' — the same virtual-edge-array formulation).

    The reference materializes the edge array and pointer-chases each
    draw sequentially per thread. Spark-first re-expression: every draw
    is an independent hash of its ARRAY POSITION, so the whole array is
    a DataFrame and unresolved draws (those that land on another draw's
    slot) resolve by ITERATED POINTER DOUBLING — each round substitutes
    ptr := target(ptr), chains halve, and the expected chain depth is
    O(log) whp, so a handful of self-equi-joins resolves everything.
    No driver-side state; each round is one distributed hash join.

    Deviations from the reference (documented, both vanish as v grows):
    self-loop draws are dropped (not re-drawn), and a node's k draws are
    deduplicated (not re-drawn), so degree-of-attachment is ≤ k rather
    than exactly k. The seed graph is the same n0-node ring
    (BarabasiAlbertGenerator.cpp:100-106).

    Returns canonical undirected (src < dst, weight 1.0)."""
    from networkit_spark.plans.iterative import truncate

    if k > n_max:
        raise ValueError("k may not be larger than n_max")
    n0 = max(n0, k)
    if n0 < 2:
        n0 = 2  # a ring needs two nodes

    S = 2 * n0                      # seed-array length (n0 ring edges)
    n_new = n_max - n0
    ring = spark.range(n0).select(
        F.when(F.col("id") < n0 - 1, F.col("id")).otherwise(F.lit(0)).alias("src"),
        F.when(F.col("id") < n0 - 1, F.col("id") + 1)
        .otherwise(F.lit(n0 - 1)).cast("long").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    if n_new <= 0:
        return ring

    def seed_val(pos: F.Column) -> F.Column:
        """Value of seed-array position pos (< S): ring edge pos//2."""
        j = (pos / 2).cast("long")
        even = pos % 2 == 0
        return (
            F.when(even & (j < n0 - 1), j)
            .when(even, F.lit(0))
            .when(j < n0 - 1, j + 1)
            .otherwise(F.lit(n0 - 1))
        ).cast("long")

    def gen_even_val(q: F.Column) -> F.Column:
        """Value of generated EVEN offset q (source slot): the attaching
        node of draw q//2."""
        return (F.lit(n0) + ((q / 2).cast("long") / k).cast("long")).cast("long")

    # one row per draw i: odd position S+2i+1 draws r uniform over all
    # strictly-earlier positions [0, S+2i+1) — the virtual edge array IS
    # the degree-proportional distribution (each node appears once per
    # incident edge endpoint).
    draws = spark.range(k * n_new).select(
        (F.lit(S) + 2 * F.col("id") + 1).alias("pos"),
        (_h(seed, "id") % (F.lit(S) + 2 * F.col("id") + 1)).alias("r"),
    )
    q = F.col("r") - S
    arr = draws.select(
        "pos",
        F.when(F.col("r") < S, seed_val(F.col("r")))
        .when(q % 2 == 0, gen_even_val(q))
        .alias("val"),
        F.when((F.col("r") >= S) & (q % 2 == 1), F.col("r")).alias("ptr"),
    )

    state = truncate(arr)
    while state.filter(F.col("ptr").isNotNull()).limit(1).count() > 0:
        target = state.select(
            F.col("pos").alias("tpos"),
            F.col("val").alias("tval"),
            F.col("ptr").alias("tptr"),
        )
        nxt = (
            state.join(target, state["ptr"] == target["tpos"], "left")
            .select(
                "pos",
                F.coalesce("val", "tval").alias("val"),
                F.when(F.col("val").isNull() & F.col("tval").isNull(),
                       F.col("tptr")).alias("ptr"),
            )
        )
        state = truncate(nxt, release=state)

    i = ((F.col("pos") - S - 1) / 2).cast("long")
    attach = state.select(
        (F.lit(n0) + (i / k).cast("long")).alias("v"),
        F.col("val").alias("u"),
    )
    new_edges = (
        attach.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("src"),
            F.greatest("u", "v").alias("dst"),
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    out = ring.unionByName(new_edges)
    state.unpersist()
    return out


# ----------------------------------------------------------------- LFR
def _pair_stubs(stubs: DataFrame, part_col: str) -> DataFrame:
    """Configuration-model pairing: order stubs within each `part_col`
    group by their random key and join consecutive pairs. One partitioned
    window — no global sort. Returns (src, dst) with src < dst, self-pair
    and duplicate edges dropped (LFR rewires; we drop — the expected
    degree shortfall is O(1/size) per group, stated in lfr())."""
    from pyspark.sql import Window

    w = Window.partitionBy(part_col).orderBy("key", "id", "stub")
    ranked = stubs.withColumn("rn", F.row_number().over(w))
    pairs = (
        ranked.withColumn("pair", ((F.col("rn") - 1) / 2).cast("long"))
        .groupBy(part_col, "pair")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("id").alias("a"),
            F.max("id").alias("b"),
        )
        .filter((F.col("cnt") == 2) & (F.col("a") != F.col("b")))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
    )
    return pairs


def lfr(
    spark: SparkSession,
    n: int,
    tau1: float = 2.5,
    tau2: float = 1.5,
    mu: float = 0.1,
    min_degree: int = 8,
    max_degree: int = 50,
    min_community: int = 20,
    max_community: int = 100,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """LFR-style planted-community benchmark graph (reference:
    LFRGenerator.cpp — power-law degrees tau1, power-law community sizes
    tau2, mixing parameter mu = fraction of each node's edges that leave
    its community). Returns (edges, communities): canonical undirected
    (src, dst, weight) and the planted (id, community) ground truth.

    Spark-first re-expression of the reference's sequential pipeline:

    1. degrees and community sizes are independent hash-draws from the
       truncated power laws (pure column expressions);
    2. community membership assigns node ids to consecutive size-ranges
       (exclusive prefix sums via plans.ranking.global_prefix_sums — no
       single-partition window), realized as a bounded posexplode
       (community sizes ≤ max_community) + an equi-join on id;
    3. edges are realized with a DISTRIBUTED CONFIGURATION MODEL: each
       node emits round((1-mu)·d) intra stubs keyed to its community and
       round(mu·d) inter stubs keyed to a hash bucket; stubs pair
       consecutively in random order within their group (partitioned
       window). The reference instead edge-switches a sequential
       realization (LFRGenerator.cpp uses EdgeSwitchingMarkovChain) —
       inherently serial; consecutive-random-stub pairing samples the
       same configuration-model family. Self-pairs and duplicate edges
       are dropped rather than rewired, so realized degree can fall
       short of the drawn degree by O(1/group-size).

    Determinism: every draw hashes (seed, purpose, id[, stub]); the
    pairing order key is itself a hash, so output is seed-stable."""
    from networkit_spark.plans.ranking import global_prefix_sums

    if n < min_community:
        raise ValueError("n must be at least min_community")

    # -- community sizes, clipped so they sum to exactly n
    max_k = n // min_community + 1
    csizes = spark.range(max_k).select(
        F.col("id").alias("community"),
        _powerlaw_int(seed + 1, tau2, min_community, max_community,
                      F.lit("csize"), "id").alias("size"),
    )
    csizes = global_prefix_sums(csizes, "community", "size", out_col="cum")
    csizes = (
        csizes.withColumn(
            "size_eff",
            F.least(F.col("size"), F.lit(n) - F.col("cum")),
        )
        .filter(F.col("size_eff") > 0)
        .select("community", "cum", "size_eff")
    )

    # -- membership: node id in [cum, cum+size_eff) -> community
    members = (
        csizes.withColumn("pos", F.explode(F.sequence(F.lit(0), F.col("size_eff") - 1)))
        .select("community", "size_eff", (F.col("cum") + F.col("pos")).alias("id"))
    )

    # degree is a hash of the node id alone, so drawing it directly on the
    # membership rows (ids are exactly 0..n-1) skips a join
    nv = members.withColumn(
        "deg",
        _powerlaw_int(seed + 2, tau1, min_degree, max_degree,
                      F.lit("deg"), "id"),
    ).select(
        "id",
        "community",
        # intra-degree bounded by what the community can host
        F.least(
            F.round(F.col("deg") * (1.0 - mu)).cast("long"),
            F.col("size_eff") - 1,
        ).alias("d_intra"),
        F.col("deg"),
    ).withColumn("d_inter", F.col("deg") - F.col("d_intra"))

    # -- intra edges: configuration model within each community
    intra_stubs = (
        nv.filter(F.col("d_intra") > 0)
        .withColumn("stub", F.explode(F.sequence(F.lit(1), F.col("d_intra"))))
        .select(
            "community", "id", "stub",
            _h(seed + 3, F.lit("is"), "id", "stub").alias("key"),
        )
    )
    intra = _pair_stubs(intra_stubs, "community")

    # -- inter edges: configuration model over hash buckets (a random
    # uniform bucket assignment makes consecutive-pair-within-bucket
    # equivalent to consecutive-pair-globally; per-bucket odd leftovers
    # are dropped — expected loss B/2 stubs out of ~mu*n*avg_deg)
    n_buckets = max(spark.sparkContext.defaultParallelism * 4, 8)
    inter_stubs = (
        nv.filter(F.col("d_inter") > 0)
        .withColumn("stub", F.explode(F.sequence(F.lit(1), F.col("d_inter"))))
        .select(
            "id", "stub",
            _h(seed + 4, F.lit("ib"), "id", "stub").alias("key"),
        )
        .withColumn("bucket", F.col("key") % n_buckets)
    )
    inter = _pair_stubs(inter_stubs, "bucket")

    edges = (
        intra.unionByName(inter)
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    communities = nv.select("id", "community")
    return edges, communities


# ----------------------------------------------------------- hyperbolic
def hyperbolic(
    spark: SparkSession,
    n: int,
    avg_degree: float = 6.0,
    gamma: float = 3.0,
    seed: int = 42,
    core_frac: float = 0.6,
) -> DataFrame:
    """Threshold random hyperbolic graph (reference:
    cpp/generators/HyperbolicGenerator.cpp, T=0 threshold mode): n points
    on the hyperbolic disk of radius R, angle uniform, radius with
    density alpha·sinh(alpha·r)/(cosh(alpha·R)-1) for
    alpha=(gamma-1)/2, edge iff hyperbolic distance
    cosh d = cosh r_u cosh r_v − sinh r_u sinh r_v cos(Δθ) ≤ cosh R.
    Power-law degree exponent gamma falls out of the geometry.

    Deviations (documented): the reference binary-searches
    HyperbolicSpace::getTargetRadius to hit avgDegree exactly; this uses
    the standard closed form R = 2·ln(8n / (π·avg_degree)) (exact for
    gamma=3, approximate otherwise — realized degree is asserted within
    a factor in tests, not to a decimal).

    Scale design — COMPLETE two-zone candidate blocking, exact filter:
    - zone split at tau = core_frac·R: P(r < tau) ≈ e^{alpha(tau−R)} is
      exponentially small, so the CORE (hub) set is tiny; it broadcast-
      joins against everyone (hubs connect broadly — no angular bound
      exists for them).
    - PERIPHERY pairs (both r ≥ tau) can only connect within
      Δθ ≤ θ_max(tau, tau) (the angular reach is monotone DECREASING in
      both radii, so the tau-tau bound dominates every periphery pair):
      cos θ_max = (cosh²tau − cosh R) / sinh²tau. Points land in
      ⌈2π/θ_max⌉ angular buckets; candidates = same-bucket ∪
      adjacent-bucket pairs (wrap-around included). Every candidate then
      passes the EXACT distance predicate, so blocking affects cost,
      never membership.
    The reference's refinement of the same idea is log-radial BANDS with
    per-band angular windows (von Looz et al., the generator's citation)
    — the two-zone split is the first band of that hierarchy and keeps
    the whole realization three DataFrame joins.

    Returns canonical undirected (src, dst, weight=1.0)."""
    import math

    if gamma <= 2.0:
        raise ValueError("gamma must be > 2 (finite mean degree)")
    alpha = (gamma - 1.0) / 2.0
    R = 2.0 * math.log(8.0 * n / (math.pi * avg_degree))
    pts = hyperbolic_points(spark, n, alpha, R, seed)
    return hyperbolic_edges_from_points(pts, R, core_frac)


def hyperbolic_points(
    spark: SparkSession, n: int, alpha: float, R: float, seed: int = 42
) -> DataFrame:
    """(id, theta, r) — HyperbolicSpace::fillPoints: angle uniform on
    [0, 2π), radius by the inverse CDF r = acosh(1 + u·(cosh(αR)−1))/α."""
    import math

    scale = 1_000_000_000_000
    u_theta = (_h(seed, F.lit("th"), "id") % scale) / float(scale)
    u_r = (_h(seed, F.lit("r"), "id") % scale) / float(scale)
    return spark.range(n).select(
        F.col("id"),
        (u_theta * (2.0 * math.pi)).alias("theta"),
        (
            F.acosh(1.0 + u_r * (math.cosh(alpha * R) - 1.0)) / alpha
        ).alias("r"),
    )


def hyperbolic_edges_from_points(
    points: DataFrame, R: float, core_frac: float = 0.6
) -> DataFrame:
    """The T=0 threshold edge rule (hyperbolic distance ≤ R) over an
    arbitrary (id, theta, r) point table — the two-zone blocking of
    `hyperbolic` extracted so DynamicHyperbolicGenerator can re-apply it
    to moved points each step."""
    import math

    tau = core_frac * R
    cosh_r = math.cosh(R)
    # periphery angular reach bound at (tau, tau)
    ct = (math.cosh(tau) ** 2 - cosh_r) / (math.sinh(tau) ** 2)
    theta_max = math.pi if ct <= -1.0 else (0.0 if ct >= 1.0 else math.acos(ct))
    n_buckets = max(int(2.0 * math.pi / theta_max) if theta_max > 0 else 1, 1)

    pts = points.select(
        "id", "theta", "r",
        F.cosh("r").alias("chr"), F.sinh("r").alias("shr"),
        F.floor(F.col("theta") / (2.0 * math.pi / n_buckets))
        .cast("long").alias("bucket"),
    )

    # self-join disambiguation by column RENAME (Spark cannot resolve
    # alias-qualified refs when both sides share one cached plan)
    def _side(df: DataFrame, p: str) -> DataFrame:
        return df.select(*(F.col(c).alias(p + c) for c in df.columns))

    def _edges(a: DataFrame, b: DataFrame, cond) -> DataFrame:
        pair = a.join(b, cond)
        dist_ok = (
            F.col("achr") * F.col("bchr")
            - F.col("ashr") * F.col("bshr")
            * F.cos(F.col("atheta") - F.col("btheta"))
        ) <= cosh_r
        return pair.filter(dist_ok).select(
            F.col("aid").alias("src"), F.col("bid").alias("dst")
        )

    core = pts.filter(F.col("r") < tau)
    peri = pts.filter(F.col("r") >= tau)

    # core side joins EVERY point (id-order-agnostic: a core hub must
    # pair with all ids, larger or smaller; canonicalization happens in
    # the final least/greatest + distinct)
    a = _side(pts, "a")
    core_b = _side(core, "b")
    core_pairs = _edges(a, core_b, F.col("aid") != F.col("bid"))
    pa, pb = _side(peri, "a"), _side(peri, "b")
    near = (
        (F.col("abucket") == F.col("bbucket"))
        | (F.pmod(F.col("abucket") + 1, F.lit(n_buckets)) == F.col("bbucket"))
        | (F.pmod(F.col("bbucket") + 1, F.lit(n_buckets)) == F.col("abucket"))
    )
    peri_pairs = _edges(pa, pb, near & (F.col("aid") < F.col("bid")))

    return (
        core_pairs.unionByName(peri_pairs)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def hyperbolic_soft_edges_from_points(
    points: DataFrame, R: float, T: float, seed: int = 42,
    eps_total: float = 1e-3, core_frac: float = 0.6,
) -> DataFrame:
    """The T > 0 Fermi–Dirac edge rule over an (id, theta, r) point
    table: each pair is an edge with probability
    p(d) = 1/(exp((d − R)/(2T)) + 1) (HyperbolicGenerator.cpp:231-235),
    realized by a seeded-hash uniform per canonical pair (the engine's
    RNG substitution — deterministic and SQL-replicable, replacing the
    quadtree's Aux::Random draws).

    Scale design — the same two-zone blocking as the threshold rule,
    widened to a TAIL CUTOFF: p decays exponentially past R, so pairs
    with d > d_cut = R + 2T·ln(n²/(2ε) − 1) carry total expected edge
    mass < ε (union bound over ≤ n²/2 pairs) and are never enumerated;
    every enumerated candidate gets the EXACT Bernoulli(p(d)) draw. The
    reference's quadtree sampler prunes with the same p(distance-bound)
    upper bounds (QuadNode.hpp getElementsProbabilistically) — adaptive
    per cell where this cutoff is global, the identical
    exponential-tail argument. Cost grows with T exactly as the
    reference's candidate count does (d_cut − R ∝ T·ln n; at T ≳ 1/2
    the band spans the disk and the rule is inherently near-all-pairs).
    """
    import math

    if T < 0:
        raise ValueError("Temperature cannot be negative.")
    if T == 0:
        return hyperbolic_edges_from_points(points, R, core_frac)

    n_est = points.count()
    d_cut = R + 2.0 * T * math.log(max(n_est * n_est / (2.0 * eps_total) - 1.0, 1.0))
    cosh_cut = math.cosh(d_cut)

    tau = core_frac * R
    # periphery angular reach bound at (tau, tau) against the WIDENED
    # candidate distance d_cut
    ct = (math.cosh(tau) ** 2 - cosh_cut) / (math.sinh(tau) ** 2)
    theta_max = math.pi if ct <= -1.0 else (0.0 if ct >= 1.0 else math.acos(ct))
    n_buckets = max(int(2.0 * math.pi / theta_max) if theta_max > 0 else 1, 1)

    pts = points.select(
        "id", "theta", "r",
        F.cosh("r").alias("chr"), F.sinh("r").alias("shr"),
        F.floor(F.col("theta") / (2.0 * math.pi / n_buckets))
        .cast("long").alias("bucket"),
    )

    def _side(df: DataFrame, p: str) -> DataFrame:
        return df.select(*(F.col(c).alias(p + c) for c in df.columns))

    scale = 1_000_000_000_000
    beta = 1.0 / T

    def _edges(a: DataFrame, b: DataFrame, cond) -> DataFrame:
        pair = a.join(b, cond)
        coshd = (
            F.col("achr") * F.col("bchr")
            - F.col("ashr") * F.col("bshr")
            * F.cos(F.col("atheta") - F.col("btheta"))
        )
        cand = pair.filter(coshd <= cosh_cut).select(
            F.least("aid", "bid").alias("src"),
            F.greatest("aid", "bid").alias("dst"),
            F.acosh(F.greatest(coshd, F.lit(1.0))).alias("d"),
        )
        u = (_h(seed, F.lit("fd"), "src", "dst") % scale) / float(scale)
        prob = 1.0 / (F.exp(F.lit(beta) * (F.col("d") - R) / 2.0) + 1.0)
        return cand.filter(u < prob).select("src", "dst")

    core = pts.filter(F.col("r") < tau)
    peri = pts.filter(F.col("r") >= tau)
    a = _side(pts, "a")
    core_b = _side(core, "b")
    core_pairs = _edges(a, core_b, F.col("aid") != F.col("bid"))
    pa, pb = _side(peri, "a"), _side(peri, "b")
    near = (
        (F.col("abucket") == F.col("bbucket"))
        | (F.pmod(F.col("abucket") + 1, F.lit(n_buckets)) == F.col("bbucket"))
        | (F.pmod(F.col("bbucket") + 1, F.lit(n_buckets)) == F.col("abucket"))
    )
    peri_pairs = _edges(pa, pb, near & (F.col("aid") < F.col("bid")))

    return (
        core_pairs.unionByName(peri_pairs)
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def hyperbolic_soft(
    spark: SparkSession,
    n: int,
    avg_degree: float = 6.0,
    gamma: float = 3.0,
    T: float = 0.1,
    seed: int = 42,
    core_frac: float = 0.6,
    eps_total: float = 1e-3,
) -> DataFrame:
    """Random hyperbolic graph at temperature T — the reference's
    generate(angles, radii, R, T) probabilistic mode
    (HyperbolicGenerator.cpp:199-257): same point distribution as
    `hyperbolic`, Fermi–Dirac edge probability instead of the hard
    threshold. T=0 degenerates to the threshold generator (the
    reference branches to generateCold identically); T<0 raises with
    the reference's message."""
    import math

    if gamma <= 2.0:
        raise ValueError("gamma must be > 2 (finite mean degree)")
    alpha = (gamma - 1.0) / 2.0
    R = 2.0 * math.log(8.0 * n / (math.pi * avg_degree))
    pts = hyperbolic_points(spark, n, alpha, R, seed)
    return hyperbolic_soft_edges_from_points(
        pts, R, T, seed=seed, eps_total=eps_total, core_frac=core_frac
    )


# ------------------------------------------------- ring lattice / small world
def regular_ring_lattice(spark: SparkSession, n: int, k: int) -> DataFrame:
    """RegularRingLatticeGenerator.cpp: every node connects to its k
    nearest neighbors on each side (degree 2k). Pure expression over
    spark.range(n*k) — no shuffle."""
    if k >= (n + 1) // 2:
        k = max((n - 1) // 2, 0)  # avoid wrap-around duplicates
    pairs = spark.range(n * k).select(
        (F.col("id") / k).cast("long").alias("src"),
        (F.col("id") % k + 1).alias("j"),
    )
    return pairs.select(
        F.least(F.col("src"), (F.col("src") + F.col("j")) % n).alias("src"),
        F.greatest(F.col("src"), (F.col("src") + F.col("j")) % n).alias("dst"),
        F.lit(1.0).alias("weight"),
    )


def watts_strogatz(spark: SparkSession, n: int, k: int, p: float,
                   seed: int = 42) -> DataFrame:
    """WattsStrogatzGenerator.cpp: regular ring lattice (k neighbors per
    side), then each lattice edge is rewired with probability p — the
    far endpoint is replaced by a uniform random node. Every decision is
    an independent hash draw of the edge's lattice position, so the
    whole generator is one expression over spark.range — no RNG state,
    no shuffle before the final dedup.

    Deviation (documented, same spirit as barabasi_albert): the
    reference re-draws targets that would create a self-loop or
    duplicate edge; here such rewires are DROPPED, so the edge count is
    n*k minus the (rare, O(p·k/n)-fraction) collisions."""
    if k >= (n + 1) // 2:
        raise ValueError("need k < n/2 for a simple ring lattice")
    scale = 1_000_000_000
    pairs = spark.range(n * k).select(
        (F.col("id") / k).cast("long").alias("u"),
        (F.col("id") % k + 1).alias("j"),
    )
    rewire = (_h(seed, "u", "j") % scale) < int(p * scale)
    target = F.when(rewire, _h(seed + 1, "u", "j") % n) \
              .otherwise((F.col("u") + F.col("j")) % n)
    return (
        pairs.select(
            F.least(F.col("u"), target).alias("src"),
            F.greatest(F.col("u"), target).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def dorogovtsev_mendes(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """DorogovtsevMendesGenerator.cpp: start from a triangle; every new
    node t picks a uniformly random EXISTING EDGE and connects to both
    of its endpoints (2n-3 edges, planar, power-law-ish).

    The reference grows sequentially. Spark-first: index edges by
    creation order — edge 0..2 = the triangle, node t >= 3 creates edges
    3+2(t-3) and 4+2(t-3). Node t's edge choice c_t = hash(t) mod
    (2t-3) is a CLOSED-FORM expression, and so is each edge's first
    endpoint (its creator). Only the second endpoint can chain through
    earlier draws (exactly when the chosen edge is a 'second' edge,
    probability ~1/2 per hop), so every row resolves by iterating a
    pure column expression — chains halve in expectation, O(log n)
    narrow map rounds, ZERO shuffles until the output union."""
    from networkit_spark.plans.iterative import truncate

    if n < 3:
        raise ValueError("DorogovtsevMendes needs n >= 3")
    tri = local_frame(
        spark, [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    if n == 3:
        return tri

    def creator(e):  # creator node of edge e (e >= 3)
        return ((e - 3) / 2).cast("long") + 3

    def choice(t):  # c_t = hash(t) % (2t-3): edges existing before node t
        return _h(seed, t) % (2 * t - 3)

    def e0(e):  # first endpoint: triangle lookup or creator — closed form
        return (
            F.when(e == 0, F.lit(0)).when(e == 1, F.lit(0))
            .when(e == 2, F.lit(1)).otherwise(creator(e))
        ).cast("long")

    # rows: one per node t >= 3; resolve A = E0(c_t) (one closed-form
    # step) and chase B = E1(c_t) through the b=1 chain.
    base = spark.range(3, n).select(F.col("id").alias("t"),
                                    choice(F.col("id")).alias("e"))

    def step(df):
        """One chase step for E1(cur): resolves triangle edges and b=0
        edges; b=1 edges advance cur := c_creator(cur)."""
        e = F.col("cur")
        b = (e - 3) % 2
        nxt_choice = choice(creator(e))  # c_i of the creator — closed form
        return df.select(
            "t", "a",
            F.when(F.col("val").isNotNull(), F.col("val"))
            .when(e == 0, F.lit(1)).when(e == 1, F.lit(2)).when(e == 2, F.lit(2))
            .when(b == 0, e0(nxt_choice))
            .cast("long").alias("val"),
            F.when(F.col("val").isNull() & (e >= 3) & (b == 1), nxt_choice)
            .alias("cur"),
        )

    state = truncate(base.select(
        "t", e0(F.col("e")).alias("a"),
        F.lit(None).cast("long").alias("val"), F.col("e").alias("cur"),
    ))
    while True:
        state = truncate(step(state), release=state)
        if state.filter(F.col("val").isNull()).limit(1).count() == 0:
            break
    new_edges = (
        state.select(F.col("t"), F.col("a").alias("x"))
        .unionByName(state.select(F.col("t"), F.col("val").alias("x")))
        .select(F.least("t", "x").alias("src"), F.greatest("t", "x").alias("dst"),
                F.lit(1.0).alias("weight"))
    )
    out = tri.unionByName(new_edges)
    state.unpersist()
    return out


def chung_lu(spark: SparkSession, weights: list[float], seed: int = 42) -> DataFrame:
    """ChungLuGenerator.cpp: expected-degree random graph — edge {u,v}
    present with probability min(w_u·w_v / S, 1), S = Σw. Same
    hash-threshold candidate scan as erdos_renyi (the reference's own
    loop is O(n²), ChungLuGenerator.cpp:30-44); for bench-scale graphs
    use the grouped Alam et al. formulation (weight-bucketed pair
    blocks) — test-scale here, like erdos_renyi."""
    n = len(weights)
    s = float(sum(weights))
    wdf = local_frame(
        spark, [(i, float(w)) for i, w in enumerate(weights)], "id long, w double"
    )
    pairs = (
        spark.range(n * n)
        .select((F.col("id") / n).cast("long").alias("src"),
                (F.col("id") % n).alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .join(wdf.select(F.col("id").alias("src"), F.col("w").alias("wu")), "src")
        .join(wdf.select(F.col("id").alias("dst"), F.col("w").alias("wv")), "dst")
    )
    scale = 1_000_000_000
    prob = F.least(F.col("wu") * F.col("wv") / s, F.lit(1.0))
    return (
        pairs.filter((_h(seed, "src", "dst") % scale) < (prob * scale).cast("long"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def stochastic_blockmodel(spark: SparkSession, n: int, k: int,
                          membership: list[int], probs: list[list[float]],
                          seed: int = 42) -> DataFrame:
    """StochasticBlockmodel.cpp: edge {u,v} with probability
    probs[block(u)][block(v)] — hash-threshold over the pair scan."""
    mdf = local_frame(
        spark, [(i, int(b)) for i, b in enumerate(membership)], "id long, blk int"
    )
    pdf = local_frame(
        spark, [(a, b, float(probs[a][b])) for a in range(k) for b in range(k)],
        "ba int, bb int, p double",
    )
    scale = 1_000_000_000
    pairs = (
        spark.range(n * n)
        .select((F.col("id") / n).cast("long").alias("src"),
                (F.col("id") % n).alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .join(mdf.select(F.col("id").alias("src"), F.col("blk").alias("ba")), "src")
        .join(mdf.select(F.col("id").alias("dst"), F.col("blk").alias("bb")), "dst")
        .join(F.broadcast(pdf), ["ba", "bb"])
    )
    return (
        pairs.filter((_h(seed, "src", "dst") % scale)
                     < (F.col("p") * scale).cast("long"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


# ------------------------------------------- power-law degree sequences
def powerlaw_expected_average(gamma: float, x_min: int, x_max: int) -> float:
    """PowerlawDegreeSequence.cpp:getExpectedAverageDegree — exact finite
    zeta-ratio sum over [x_min, x_max]."""
    num = sum(x ** (gamma + 1) for x in range(x_min, x_max + 1))
    den = sum(x ** gamma for x in range(x_min, x_max + 1))
    return num / den


def powerlaw_minimum_from_average(avg: float, gamma: float, x_max: int) -> int:
    """PowerlawDegreeSequence.cpp:setMinimumFromAverageDegree — smallest
    x_min whose expected average reaches `avg` (expected average grows
    monotonically with x_min)."""
    lo = 1
    while lo < x_max and powerlaw_expected_average(gamma, lo, x_max) < avg:
        lo += 1
    return lo


def powerlaw_degree_sequence(spark: SparkSession, n: int, gamma: float,
                             x_min: int, x_max: int, seed: int = 42) -> DataFrame:
    """(id, degree) — n i.i.d. draws from P(d) ∝ d^gamma on
    [x_min, x_max] (gamma < 0, the reference's sign convention —
    PowerlawDegreeSequence.hpp takes e.g. -2), inverse-CDF over a seeded
    uniform hash; the same draw primitive the LFR generator uses
    (_powerlaw_int wants the POSITIVE tail exponent)."""
    if gamma >= 0:
        raise ValueError("gamma must be negative (reference convention)")
    return spark.range(n).select(
        "id", _powerlaw_int(seed, -gamma, x_min, x_max, F.col("id")).alias("degree")
    )


def mocnik_points(spark: SparkSession, dim: int, n: int, seed: int = 42,
                  max_attempts: int = 64) -> DataFrame:
    """(id, x0..x{dim-1}) — n points uniform in the ball
    B_{1/2}(1/2,…,1/2), the MocnikGeneratorBasic node distribution
    (MocnikGeneratorBasic.cpp:53-65 rejection-samples the unit cube).
    Spark shape: each slot draws `max_attempts` candidates and keeps the
    FIRST inside the ball — a closed-form rejection as one column
    expression (at dim ≤ 4 the per-slot miss probability over 64
    attempts is < 1e-18; the residual miss falls back to the ball
    center, never observed in practice)."""
    ids = spark.range(n).select(F.col("id"))
    cand = F.transform(
        F.sequence(F.lit(0), F.lit(max_attempts - 1)),
        lambda t: F.struct(
            *[
                (_h(seed + 7 * j, F.col("id"), t) % 1_000_000_000_000
                 / F.lit(1.0e12)).alias(f"x{j}")
                for j in range(dim)
            ]
        ),
    )
    inball = F.filter(
        cand,
        lambda s: sum(
            ((s[f"x{j}"] - 0.5) * (s[f"x{j}"] - 0.5) for j in range(dim)),
            F.lit(0.0),
        )
        < F.lit(0.25),
    )
    first = F.coalesce(
        F.element_at(inball, 1),
        F.struct(*[F.lit(0.5).alias(f"x{j}") for j in range(dim)]),
    )
    return ids.select(
        "id", *[first[f"x{j}"].alias(f"x{j}") for j in range(dim)]
    )


def mocnik(spark: SparkSession, dim: int, n: int, k: float,
           seed: int = 42) -> DataFrame:
    """(src, dst, weight) DIRECTED — MocnikGeneratorBasic.cpp:67-90:
    edge (i, j) iff dist(i, j) ≤ k · min_{j'} dist(i, j'). The distance
    structure is the reference's own all-pairs quadratic, expressed as
    one self-join plus a per-source min window (squared distances — no
    sqrt needed since k scales both sides); a test-fixture generator,
    same O(n²) contract as the reference."""
    if k <= 1:
        raise ValueError("k must be > 1")
    pts = mocnik_points(spark, dim, n, seed)
    a = pts.select(F.col("id").alias("src"),
                   *[F.col(f"x{j}").alias(f"a{j}") for j in range(dim)])
    b = pts.select(F.col("id").alias("dst"),
                   *[F.col(f"x{j}").alias(f"b{j}") for j in range(dim)])
    sq = sum(
        ((F.col(f"a{j}") - F.col(f"b{j}")) * (F.col(f"a{j}") - F.col(f"b{j}"))
         for j in range(dim)),
        F.lit(0.0),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", sq.alias("d2"))
    )
    w = Window.partitionBy("src")
    return (
        pairs.withColumn("dmin2", F.min("d2").over(w))
        .filter(F.col("d2") <= F.lit(float(k * k)) * F.col("dmin2"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )


def mocnik_layers(spark: SparkSession, dim: int, ns: list, ks: list,
                  relative_weights: list | None = None, weighted: bool = False,
                  seed: int = 42) -> DataFrame:
    """(src, dst, weight) DIRECTED — the multi-layer MocnikGenerator
    (MocnikGenerator.cpp generate() :305-340 + addEdgesToGraph
    :229-301): ONE point set for max(ns) nodes; layer j applies the
    k=ks[j] edge rule restricted to the first ns[j] nodes; the base
    layer (j=0) contributes every edge, later layers only pairs not
    already present (:295), each at weight dist·relativeWeights[j] when
    weighted (:297). The reference's cell-grid is its sequential
    neighbor-search optimization of the same rule; this engine reuses
    the self-join + per-source-min plan of the single-layer generator
    (mocnik above) per layer — identical edge set by construction.
    Reference ctor assertions reproduced (:311-317)."""
    if not ns:
        raise ValueError("ns must be non-empty")
    if len(ks) != len(ns):
        raise ValueError("ks and ns must have the same length")
    if relative_weights is None:
        relative_weights = [1.0] * len(ns)
    if len(relative_weights) != len(ns):
        raise ValueError("relativeWeights and ns must have the same length")
    if any(n <= 1 for n in ns):
        raise ValueError("every layer size must be > 1")
    if any(k <= 1.0 for k in ks):
        raise ValueError("every k must be > 1")

    pts = mocnik_points(spark, dim, max(ns), seed)
    out = None
    for j, (n_j, k_j, rw) in enumerate(zip(ns, ks, relative_weights)):
        layer_pts = pts.filter(F.col("id") < n_j)
        a = layer_pts.select(F.col("id").alias("src"),
                             *[F.col(f"x{d}").alias(f"a{d}") for d in range(dim)])
        b = layer_pts.select(F.col("id").alias("dst"),
                             *[F.col(f"x{d}").alias(f"b{d}") for d in range(dim)])
        sq = sum(
            ((F.col(f"a{d}") - F.col(f"b{d}")) * (F.col(f"a{d}") - F.col(f"b{d}"))
             for d in range(dim)),
            F.lit(0.0),
        )
        pairs = (
            a.crossJoin(b)
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst", sq.alias("d2"))
        )
        w = Window.partitionBy("src")
        wcol = (
            (F.sqrt("d2") * F.lit(float(rw))) if weighted else F.lit(1.0)
        ).alias("weight")
        layer = (
            pairs.withColumn("dmin2", F.min("d2").over(w))
            .filter(F.col("d2") <= F.lit(float(k_j * k_j)) * F.col("dmin2"))
            .select("src", "dst", wcol)
        )
        if out is None:
            out = layer
        else:
            out = out.unionByName(
                layer.join(out.select("src", "dst"), ["src", "dst"], "left_anti")
            )
    return out


def _pubweb_areas(seed: int, num_dense_areas: int):
    """Dense-area (radii, centers) — PubWebGenerator.cpp:103-118 area
    bookkeeping (≤ dozens of values, driver-side seeded draws)."""
    import random as _random

    def _du(key: int, *vals) -> float:
        return _random.Random(f"{seed}:{key}:{vals}").random()

    radii = [
        0.2 * f * f / 25.0
        for f in (_du(1, a) * 5.0 + 1.0 for a in range(num_dense_areas))
    ]
    centers = [(_du(2, a), _du(3, a)) for a in range(num_dense_areas)]
    return radii, centers


def pubweb_points(spark: SparkSession, n: int, num_dense_areas: int,
                  seed: int = 42) -> DataFrame:
    """(id, x, y) — the PubWebGenerator node distribution
    (PubWebGenerator.cpp:103-142): per dense area an anti-quadratic
    radius rad = 0.2·f²/25 with f = u·5 + 1, cluster sizes ∝ rad^1.5
    scaled so the areas hold n·areas/(areas+2) nodes, polar placement
    inside each area, the rest uniform; all coordinates wrap into the
    unit torus. Area bookkeeping (≤ dozens of rows) runs on the driver;
    node placement is pure column expressions."""
    import math as _math

    rng_scale = 1_000_000_000_000

    radii, centers = _pubweb_areas(seed, num_dense_areas)
    scale = (n * (num_dense_areas / (num_dense_areas + 2.0))) / sum(
        r ** 1.5 for r in radii
    )
    num_per_area = [int(round(scale * r ** 1.5)) for r in radii]

    parts = []
    start = 0
    for area, cnt in enumerate(num_per_area):
        if cnt == 0:
            continue
        cx, cy = centers[area]
        rad = radii[area]
        angle = (
            _h(seed + 11, F.col("id"), F.lit(0)) % rng_scale / F.lit(1.0e12)
        ) * (2.0 * _math.pi)
        dist = (
            _h(seed + 13, F.col("id"), F.lit(0)) % rng_scale / F.lit(1.0e12)
        ) * rad
        parts.append(
            spark.range(start, start + cnt).select(
                "id",
                F.pmod(F.lit(cx) + F.cos(angle) * dist, F.lit(1.0)).alias("x"),
                F.pmod(F.lit(cy) + F.sin(angle) * dist, F.lit(1.0)).alias("y"),
            )
        )
        start += cnt
    if start < n:
        parts.append(
            spark.range(start, n).select(
                "id",
                (_h(seed + 17, F.col("id"), F.lit(0)) % rng_scale
                 / F.lit(1.0e12)).alias("x"),
                (_h(seed + 19, F.col("id"), F.lit(0)) % rng_scale
                 / F.lit(1.0e12)).alias("y"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pubweb(spark: SparkSession, n: int, num_dense_areas: int = 10,
           neighborhood_radius: float = 0.1, max_neighbors: int = 4,
           seed: int = 42) -> DataFrame:
    """(src, dst, weight) canonical undirected — PubWebGenerator
    determineNeighbors (PubWebGenerator.cpp:47-85): each node ranks its
    in-torus-radius neighbors by squared distance and keeps the
    `max_neighbors` closest; an edge materializes iff BOTH endpoints
    keep it (the reference's eligible-then-insert bookkeeping is exactly
    mutual selection, order-independent); weight = 0.01 / sqdist.

    Scale shape: candidate pairs come from a torus cell grid (cell width
    ≥ radius, 9-cell neighborhood join) — no all-pairs; per-node ranking
    is a partitioned window."""
    pts = pubweb_points(spark, n, num_dense_areas, seed)
    return pubweb_edges_from_points(pts, neighborhood_radius, max_neighbors)


def pubweb_edges_from_points(
    pts: DataFrame, neighborhood_radius: float = 0.1, max_neighbors: int = 4
) -> DataFrame:
    """The PubWeb mutual-top-k edge rule over an arbitrary (id, x, y)
    torus point table (extracted so DynamicPubWebGenerator can re-apply
    it to the churned node set each step)."""
    ncell = max(1, int(1.0 / neighborhood_radius))
    cw = 1.0 / ncell
    cells = pts.select(
        "id", "x", "y",
        F.floor(F.col("x") / cw).cast("long").alias("cx"),
        F.floor(F.col("y") / cw).cast("long").alias("cy"),
    )
    # left side exploded into its 9-cell torus neighborhood
    probe = cells.select(
        F.col("id").alias("u"), F.col("x").alias("ux"), F.col("y").alias("uy"),
        F.explode(
            F.array(*[
                F.struct(
                    F.pmod(F.col("cx") + dx, F.lit(ncell)).alias("cx"),
                    F.pmod(F.col("cy") + dy, F.lit(ncell)).alias("cy"),
                )
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            ])
        ).alias("cell"),
    ).select("u", "ux", "uy", F.col("cell.cx").alias("cx"),
             F.col("cell.cy").alias("cy")).dropDuplicates(["u", "cx", "cy"])
    cand = probe.join(
        cells.select(F.col("id").alias("v"), F.col("x").alias("vx"),
                     F.col("y").alias("vy"), "cx", "cy"),
        ["cx", "cy"],
    ).filter(F.col("u") != F.col("v"))

    def torus_d(a, b):
        raw = F.abs(a - b)
        return F.least(raw, 1.0 - raw)

    dxs = torus_d(F.col("ux"), F.col("vx"))
    dys = torus_d(F.col("uy"), F.col("vy"))
    sq = (dxs * dxs + dys * dys).alias("d2")
    inr = cand.select("u", "v", sq).filter(
        F.col("d2") <= F.lit(float(neighborhood_radius) ** 2)
    )
    wv = Window.partitionBy("u").orderBy(
        "d2", F.least("u", "v"), F.greatest("u", "v")
    )
    top = inr.withColumn("rn", F.row_number().over(wv)).filter(
        F.col("rn") <= max_neighbors
    )
    return (
        top.select(F.least("u", "v").alias("src"),
                   F.greatest("u", "v").alias("dst"), "d2")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"), F.min("d2").alias("d2"))
        .filter(F.col("c") == 2)  # mutual selection
        .select("src", "dst", (F.lit(0.01) / F.col("d2")).alias("weight"))
    )


# ------------------------------------------------------ dynamic (events)
# Reference cpp/generators/Dynamic*.cpp emit std::vector<GraphEvent>
# streams. The engine's event form is a DataFrame
# (step, seq, type, u, v, weight) with type in NODE_ADDITION /
# EDGE_ADDITION / TIME_STEP (GraphEvent.hpp parity) and (step, seq) the
# stream order — directly consumable by streaming/edge_stream.py.


def growth_events(edges: DataFrame, initial_nodes: int) -> DataFrame:
    """GraphEvent stream for any ATTACHMENT-style generator whose edge
    table satisfies creator = greatest(src, dst) (every new node
    connects only to older nodes — BarabasiAlbert, DorogovtsevMendes,
    DynamicPath; reference Dynamic*Generator.cpp streams). Step 1 emits
    the `initial_nodes` seed block and its induced edges; creator c then
    lands at step c − initial_nodes + 2 with its NODE_ADDITION first,
    its edges next (ordered by the older endpoint), and one TIME_STEP
    row (seq = 1<<20) closes every step."""
    spark = edges.sparkSession
    canon = edges.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        F.col("weight"),
    )
    first = F.lit(1).cast("long")
    init_nodes = spark.range(initial_nodes).select(
        first.alias("step"), F.col("id").alias("seq"),
        F.lit("NODE_ADDITION").alias("type"), F.col("id").alias("u"),
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("double").alias("weight"),
    )
    # bounded-window: the seed block is O(1) rows (3 for DM, n0 for BA);
    # pmod(a, 1) is a column-derived constant key — a literal would be
    # constant-folded out of the partition spec and WindowExec would warn
    w_init = Window.partitionBy(F.pmod(F.col("a"), F.lit(1))).orderBy("a", "b")
    init_edges = (
        canon.filter(F.col("b") < initial_nodes)
        .select(
            first.alias("step"),
            (F.lit(initial_nodes) + F.row_number().over(w_init) - 1).alias("seq"),
            F.lit("EDGE_ADDITION").alias("type"),
            F.col("a").alias("u"), F.col("b").alias("v"), "weight",
        )
    )
    grow = canon.filter(F.col("b") >= initial_nodes)
    gstep = (F.col("b") - initial_nodes + 2).alias("step")
    grow_nodes = (
        grow.select("b").distinct()
        .select(gstep, F.lit(0).cast("long").alias("seq"),
                F.lit("NODE_ADDITION").alias("type"), F.col("b").alias("u"),
                F.lit(None).cast("long").alias("v"),
                F.lit(None).cast("double").alias("weight"))
    )
    w_grow = Window.partitionBy("b").orderBy("a")
    grow_edges = grow.select(
        gstep, F.row_number().over(w_grow).cast("long").alias("seq"),
        F.lit("EDGE_ADDITION").alias("type"),
        F.col("b").alias("u"), F.col("a").alias("v"), "weight",
    )
    all_steps = (
        init_nodes.select("step").unionByName(grow_nodes.select("step")).distinct()
    )
    ticks = all_steps.select(
        "step", F.lit(1 << 20).cast("long").alias("seq"),
        F.lit("TIME_STEP").alias("type"),
        F.lit(None).cast("long").alias("u"), F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("double").alias("weight"),
    )
    return (
        init_nodes.unionByName(init_edges).unionByName(grow_nodes)
        .unionByName(grow_edges).unionByName(ticks)
    )


def dynamic_path_events(spark: SparkSession, n_steps: int) -> DataFrame:
    """DynamicPathGenerator.cpp:12-29: one new node and one edge to its
    predecessor per step."""
    edges = spark.range(n_steps).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    return growth_events(edges, initial_nodes=1)


def dynamic_dorogovtsev_mendes_events(spark: SparkSession, n_steps: int,
                                      seed: int = 42) -> DataFrame:
    """DynamicDorogovtsevMendesGenerator.cpp:14-45: step 1 emits the
    seed triangle, every later step one new node with edges to both
    endpoints of a (hash-)chosen existing edge — the engine's static
    closed-form DM growth replayed as events (nodes = n_steps + 2,
    edges = 2·n_steps + 1, matching the reference's step count)."""
    if n_steps < 1:
        raise ValueError("n_steps must be >= 1")
    return growth_events(
        dorogovtsev_mendes(spark, n_steps + 2, seed=seed), initial_nodes=3
    )


def dynamic_barabasi_albert_events(spark: SparkSession, k: int, n_max: int,
                                   n0: int = 0, seed: int = 42) -> DataFrame:
    """DynamicBarabasiAlbertGenerator-class stream: the engine's
    distributed Batagelj–Brandes BA edge table replayed as attachment
    events (each new node's ≤ k edges land in its step)."""
    init = n0 if n0 > 0 else k
    return growth_events(
        barabasi_albert(spark, k, n_max, n0=n0, seed=seed), initial_nodes=init
    )


def graph_from_events(events: DataFrame, up_to_step: int | None = None) -> DataFrame:
    """(src, dst, weight) — apply a GraphEvent stream's additions up to
    and including `up_to_step` (None = all): the replay half of the
    reference's DynamicGraphSource contract."""
    ev = events
    if up_to_step is not None:
        ev = ev.filter(F.col("step") <= up_to_step)
    return ev.filter(F.col("type") == "EDGE_ADDITION").select(
        F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst"),
        "weight",
    )


def graph_from_events_full(
    events: DataFrame, up_to_step: int | None = None
) -> DataFrame:
    """(src, dst, weight) — full GraphEvent replay supporting removals
    and weight updates (churn streams like dynamic_pubweb_events):
    an edge is present iff the LAST event for its canonical pair (in
    (step, seq) order) is an addition or weight update, carrying that
    event's weight — one distributed max_by aggregation, no sequential
    driver replay."""
    ev = events
    if up_to_step is not None:
        ev = ev.filter(F.col("step") <= up_to_step)
    ed = ev.filter(
        F.col("type").isin("EDGE_ADDITION", "EDGE_REMOVAL",
                           "EDGE_WEIGHT_UPDATE")
    ).select(
        F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst"),
        "step", "seq", "type", "weight",
    )
    last = ed.groupBy("src", "dst").agg(
        F.max_by(
            F.struct("type", "weight"), F.struct("step", "seq")
        ).alias("ev")
    )
    return last.filter(F.col("ev.type") != "EDGE_REMOVAL").select(
        "src", "dst", F.col("ev.weight").alias("weight")
    )


def dynamic_forest_fire_events(
    spark: SparkSession, n_steps: int, p: float, seed: int = 42
) -> DataFrame:
    """DynamicForestFireGenerator.cpp:20-138 (undirected): per step a new
    node v picks a uniform ambassador, burns through the existing graph
    BFS-style (per processed node a geometric(p) count of uniformly
    chosen unvisited neighbors — the same one-draw inverse-CDF + hash
    k-subset substitution as operators/forestfire.py), and connects to
    EVERY burned node; one TIME_STEP closes each step.

    Each step's burn depends on all previously added edges, so the
    generator is sequential by construction (the reference's own shape);
    it runs driver-side on the shared seeded hash draws — deterministic
    in (n_steps, p, seed) — and returns the engine's GraphEvent
    DataFrame (pytest-scale policy, like DFS / Havel–Hakimi). The
    directed p·r backward-burn variant is not implemented (engine
    dynamics operate on the undirected link graph)."""
    import math as _math

    M = 1_000_000_007
    A, B, C, D = 2654435761, 40503, 97, 1000003

    def h3(fire, node, cand, step, sd):
        h1 = (fire * A + node * B + cand * C + step * 1315423911 + sd * D) % M
        h2 = (h1 * h1 + A * h1 + B) % M
        return (h2 * h2 + C * h2 + D) % M

    def u01(fire, node, cand, step):
        return (h3(fire, node, cand, step, seed) + 1) / (M + 1)

    adj: dict[int, set] = {0: set()}
    rows = [(1, 0, "NODE_ADDITION", 0, None, None),
            (1, 1 << 20, "TIME_STEP", None, None, None)]
    for t in range(2, n_steps + 1):
        v = t - 1
        nodes = sorted(adj)
        a = nodes[_math.floor(u01(t, 0, 0, 0) * len(nodes))]
        visited = {a}
        queue = [a]
        burned = [a]
        while queue:
            w = queue.pop(0)
            cands = sorted(x for x in adj[w] if x not in visited)
            if cands:
                g = _math.floor(
                    _math.log(u01(t, w, w, 1)) / _math.log(p)
                ) if p != 0.5 else _math.floor(
                    _math.log2((M + 1) // (h3(t, w, w, 1, seed) + 1))
                )
                k = min(g, len(cands))
                picked = sorted(cands, key=lambda x: (u01(t, w, x, 1), x))[:k]
                for x in picked:
                    visited.add(x)
                    queue.append(x)
                    burned.append(x)
        rows.append((t, 0, "NODE_ADDITION", v, None, None))
        sq = 1
        for w in burned:
            rows.append((t, sq, "EDGE_ADDITION", v, w, 1.0))
            sq += 1
            adj[w].add(v)
            adj.setdefault(v, set()).add(w)
        adj.setdefault(v, set())
        rows.append((t, 1 << 20, "TIME_STEP", None, None, None))
    return local_frame(
        spark, rows, "step long, seq long, type string, u long, v long, weight double"
    )


def dynamic_pubweb_events(
    spark: SparkSession,
    n: int,
    n_steps: int,
    num_dense_areas: int = 10,
    neighborhood_radius: float = 0.1,
    max_neighbors: int = 4,
    seed: int = 42,
    write_initial: bool = True,
) -> DataFrame:
    """DynamicPubWebGenerator.cpp:24-170 as a GraphEvent stream: per
    step, 5% of the current nodes are deleted (incident EDGE_REMOVALs
    first, then NODE_REMOVALs), 5% new nodes are inserted at
    cluster-drawn torus coordinates (NODE_ADDITIONs; cluster pick over
    num_dense_areas + 2 outcomes, the reference's integer(areas+1)
    inclusive draw, the +2 tail = uniform noise, :77-94), the
    mutual-top-k edge rule is recomputed over the churned node set, and
    the diff is emitted exactly as the reference does (:106-160):
    EDGE_WEIGHT_UPDATE for EVERY surviving edge (the reference refreshes
    the weight unconditionally), EDGE_REMOVAL for no-longer-eligible
    edges, EDGE_ADDITION for new ones; TIME_STEP closes the step.
    Deleted node ids are never reused (G.addNode() semantics).

    Every draw is the engine's seeded hash (the reference's global URNG
    is run-to-run nondeterministic), so the stream is a pure function of
    the parameters. The edge rule and set diffs run distributed
    (pubweb_edges_from_points, anti-joins); only the bounded event rows
    are collected, in (category, id) order — the event stream is the
    sequential deliverable, the same policy as the DGS writer."""
    import math as _math

    rng_scale = 1_000_000_000_000
    radii, centers = _pubweb_areas(seed, num_dense_areas)

    pts = pubweb_points(spark, n, num_dense_areas, seed).persist()
    edges = pubweb_edges_from_points(
        pts, neighborhood_radius, max_neighbors
    ).persist()

    rows = []
    step = 1
    if write_initial:
        sq = 0
        for r in sorted(pts.collect(), key=lambda r: r["id"]):
            rows.append((step, sq, "NODE_ADDITION", r["id"], None, None))
            sq += 1
        for e in sorted(edges.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_ADDITION", e["src"], e["dst"],
                         float(e["weight"])))
            sq += 1
        rows.append((step, 1 << 20, "TIME_STEP", None, None, None))
        step += 1

    next_id = n
    for t in range(n_steps):
        n_t = pts.count()
        churn = int(n_t * 0.05)
        sq = 0

        # --- deletions: the churn smallest seeded-hash ranks
        del_df = (
            pts.select("id", _h(seed + 31, F.col("id"), F.lit(t)).alias("h"))
            .orderBy("h", "id").limit(churn).select("id")
        ).persist()
        gone = (
            edges.join(del_df.withColumnRenamed("id", "src"), "src",
                       "left_semi")
            .unionByName(
                edges.join(del_df.withColumnRenamed("id", "dst"), "dst",
                           "left_semi").select(edges.columns))
            .dropDuplicates(["src", "dst"])
        ).persist()
        for e in sorted(gone.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_REMOVAL", e["src"], e["dst"], None))
            sq += 1
        del_ids = sorted(r["id"] for r in del_df.collect())
        for u in del_ids:
            rows.append((step, sq, "NODE_REMOVAL", u, None, None))
            sq += 1

        # --- insertions: cluster-drawn coordinates
        new_ids = spark.range(next_id, next_id + churn).select("id")
        c_pick = _h(seed + 37, F.col("id"), F.lit(t)) % (num_dense_areas + 2)
        angle = (
            _h(seed + 41, F.col("id"), F.lit(t)) % rng_scale / F.lit(1.0e12)
        ) * (2.0 * _math.pi)
        unit = (
            _h(seed + 43, F.col("id"), F.lit(t)) % rng_scale / F.lit(1.0e12)
        )
        x_expr = unit  # noise default: uniform x
        y_expr = (
            _h(seed + 47, F.col("id"), F.lit(t)) % rng_scale / F.lit(1.0e12)
        )
        for a in range(num_dense_areas):
            cx, cy = centers[a]
            dist = unit * radii[a]
            x_expr = F.when(
                c_pick == a, F.pmod(F.lit(cx) + F.cos(angle) * dist, F.lit(1.0))
            ).otherwise(x_expr)
            y_expr = F.when(
                c_pick == a, F.pmod(F.lit(cy) + F.sin(angle) * dist, F.lit(1.0))
            ).otherwise(y_expr)
        new_pts = new_ids.select(
            "id", x_expr.alias("x"), y_expr.alias("y")
        )
        for u in range(next_id, next_id + churn):
            rows.append((step, sq, "NODE_ADDITION", u, None, None))
            sq += 1
        next_id += churn

        # --- recompute the rule over the churned node set, diff
        pts2 = (
            pts.join(del_df, "id", "left_anti").unionByName(new_pts)
        ).persist()
        pts2.count()
        edges2 = pubweb_edges_from_points(
            pts2, neighborhood_radius, max_neighbors
        ).persist()
        prev2 = edges.join(gone, ["src", "dst"], "left_anti")
        survivors = edges2.join(prev2, ["src", "dst"], "left_semi")
        removed = prev2.join(edges2, ["src", "dst"], "left_anti")
        added = edges2.join(prev2, ["src", "dst"], "left_anti")
        for e in sorted(survivors.collect(),
                        key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_WEIGHT_UPDATE", e["src"], e["dst"],
                         float(e["weight"])))
            sq += 1
        for e in sorted(removed.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_REMOVAL", e["src"], e["dst"], None))
            sq += 1
        for e in sorted(added.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_ADDITION", e["src"], e["dst"],
                         float(e["weight"])))
            sq += 1
        rows.append((step, 1 << 20, "TIME_STEP", None, None, None))
        step += 1

        for df in (pts, edges, del_df, gone):
            df.unpersist()
        pts, edges = pts2, edges2

    pts.unpersist()
    edges.unpersist()
    return local_frame(
        spark, rows, "step long, seq long, type string, u long, v long, weight double"
    )


def dynamic_hyperbolic_events(
    spark: SparkSession,
    n: int,
    n_steps: int,
    avg_degree: float = 6.0,
    gamma: float = 3.0,
    move_each_step: float = 0.3,
    move_distance: float = 0.1,
    seed: int = 42,
    write_initial: bool = True,
) -> DataFrame:
    """DynamicHyperbolicGenerator.cpp:152-371 (T = 0 threshold mode) as
    a GraphEvent stream: per step each node wiggles with probability
    move_each_step; a wiggled node moves radially in cosh-cdf space
    (newcosh = cosh(αr) + α·radialMovement, bouncing off the boundary
    and crossing the center with a π angular flip, :176-221) and
    angularly by angularMovement/newRadius; the threshold edge rule is
    re-evaluated and the canonical-pair diff is emitted (the reference
    canonicalizes, sorts, and dedupes its per-node neighborhood diffs,
    :355-366 — identical to the full-edge-set diff, since an edge
    between two unmoved nodes never changes). Movement vectors persist
    across steps and FLIP SIGN on bounce (initializeMovement: angular ~
    U(−d, d), radial ~ U(−10d, 10d), :77-85); every draw is the
    engine's seeded hash. The moved point set and the edge rule stay
    distributed (hyperbolic_edges_from_points); only the bounded event
    rows are collected — the stream is the sequential deliverable."""
    import math as _math

    from networkit_spark.plans.iterative import truncate

    if gamma <= 2.0:
        raise ValueError("gamma must be > 2 (finite mean degree)")
    alpha = (gamma - 1.0) / 2.0
    R = 2.0 * _math.log(8.0 * n / (_math.pi * avg_degree))
    maxcdf = _math.cosh(alpha * R)
    two_pi = 2.0 * _math.pi
    scale = 1_000_000_000_000

    def u01(key, *cols):
        return (_h(seed + key, *cols) % scale) / F.lit(float(scale))

    pts = hyperbolic_points(spark, n, alpha, R, seed).select(
        "id", "theta", "r",
        ((u01(61, "id") * 2.0 - 1.0) * move_distance).alias("am"),
        ((u01(67, "id") * 2.0 - 1.0) * (10.0 * move_distance)).alias("rm"),
    ).persist()
    edges = hyperbolic_edges_from_points(pts, R).persist()

    rows = []
    step = 1
    if write_initial:
        sq = 0
        for i in range(n):
            rows.append((step, sq, "NODE_ADDITION", i, None, None))
            sq += 1
        for e in sorted(edges.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_ADDITION", e["src"], e["dst"], 1.0))
            sq += 1
        rows.append((step, 1 << 20, "TIME_STEP", None, None, None))
        step += 1

    for t in range(n_steps):
        wig = u01(71, "id", F.lit(t)) < move_each_step
        c0 = F.cosh(F.col("r") * alpha) + alpha * F.col("rm")
        over = c0 > maxcdf
        c1 = F.when(over, c0 - 2.0 * (c0 - maxcdf)).otherwise(c0)
        rm1 = F.when(over, -F.col("rm")).otherwise(F.col("rm"))
        under = c1 < 1.0
        c2 = F.when(under, c1 + 2.0 * (1.0 - c1)).otherwise(c1)
        rm2 = F.when(under, -rm1).otherwise(rm1)
        phi1 = F.when(
            under,
            F.when(F.col("theta") > _math.pi, F.col("theta") - _math.pi)
            .otherwise(F.col("theta") + _math.pi),
        ).otherwise(F.col("theta"))
        newr = F.least(F.acosh(c2) / alpha, F.lit(R - 1e-12))
        phi2 = phi1 + F.col("am") / newr
        phi3 = (
            F.when(phi2 < 0,
                   phi2 + (F.floor(-phi2 / two_pi) + 1) * two_pi)
            .when(phi2 > two_pi, phi2 - F.floor(phi2 / two_pi) * two_pi)
            .otherwise(phi2)
        )
        pts2 = truncate(pts.select(
            "id",
            F.when(wig, phi3).otherwise(F.col("theta")).alias("theta"),
            F.when(wig, newr).otherwise(F.col("r")).alias("r"),
            "am",
            F.when(wig, rm2).otherwise(F.col("rm")).alias("rm"),
        ))
        edges2 = hyperbolic_edges_from_points(pts2, R).persist()
        removed = edges.join(edges2, ["src", "dst"], "left_anti")
        added = edges2.join(edges, ["src", "dst"], "left_anti")
        sq = 0
        for e in sorted(removed.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_REMOVAL", e["src"], e["dst"], None))
            sq += 1
        for e in sorted(added.collect(), key=lambda e: (e["src"], e["dst"])):
            rows.append((step, sq, "EDGE_ADDITION", e["src"], e["dst"], 1.0))
            sq += 1
        rows.append((step, 1 << 20, "TIME_STEP", None, None, None))
        step += 1
        pts.unpersist()
        edges.unpersist()
        pts, edges = pts2, edges2

    pts.unpersist()
    edges.unpersist()
    return local_frame(
        spark, rows, "step long, seq long, type string, u long, v long, weight double"
    )
