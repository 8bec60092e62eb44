"""Local-max weighted matching.

Reference: cpp/matching/LocalMaxMatcher.cpp:20-72 — repeat until no
edges remain: every edge that is strictly heavier than both endpoints'
current candidates becomes the candidate of both; edges whose endpoints
mutually agree are matched; edges touching matched nodes drop out. The
reference breaks weight ties with random noise (:27); this engine uses
a deterministic total order (weight desc, then canonical endpoint pair
asc), so with UNIQUE weights the result equals the sequential greedy
matching exactly, and with ties it is one deterministic member of the
same 1/2-approximation family.

Spark shape per round: the candidate step is a window argmax over each
endpoint view of the live edge table (two rows per edge); the mutual
check is a self-join of the two chosen sides; removal is a semi-join
against the matched-vertex set. Locally-dominant edges always include
the globally heaviest live edge, so every round matches at least one
edge — O(log) rounds in practice, hard-bounded by max_rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame


def local_max_matching(graph: Graph, max_rounds: int = 64) -> DataFrame:
    """Matching edges (u, v, weight) with u < v; no vertex appears twice."""
    spark = graph.edges.sparkSession
    live = (
        graph.simple_undirected_edges()
        .join(
            graph.symmetrized_edges().select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                "weight",
            ),
            ["u", "v"],
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    live = truncate(live)
    matched_pieces: list[DataFrame] = []

    for _ in range(max_rounds):
        if live.limit(1).count() == 0:
            break
        sides = live.select(F.col("u").alias("node"), "u", "v", "weight").unionByName(
            live.select(F.col("v").alias("node"), "u", "v", "weight")
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("weight"), F.asc("u"), F.asc("v")
        )
        chosen = (
            sides.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("node", "u", "v", "weight")
        )
        # mutual agreement: the same edge chosen from both endpoints
        mutual = (
            chosen.groupBy("u", "v", "weight")
            .agg(F.count("*").alias("sides"))
            .filter("sides = 2")
            .select("u", "v", "weight")
        )
        mutual, seen = materialize(mutual)
        if seen["rows"] == 0:
            break
        matched_pieces.append(mutual)

        matched_nodes = mutual.select(F.col("u").alias("id")).unionByName(
            mutual.select(F.col("v").alias("id"))
        )
        live = truncate(
            live.join(matched_nodes.withColumnRenamed("id", "u"), "u", "left_anti")
            .join(matched_nodes.withColumnRenamed("id", "v"), "v", "left_anti")
            .select("u", "v", "weight"),
            release=live,
        )

    if not matched_pieces:
        return local_frame(spark, [], "u long, v long, weight double")
    out = matched_pieces[0]
    for p in matched_pieces[1:]:
        out = out.unionByName(p)
    return out


def suitor_matching(graph: Graph, max_rounds: int = 256) -> DataFrame:
    """Matching edges (u, v, weight), u < v — SuitorMatcher.cpp:55-146.

    DOCUMENTED SUBSTITUTION: the reference seeds each proposal scan with
    a self-floor (heaviest = ws[current], partner = suitor[current],
    :59-60) whose `v < partner` tie-break blocks re-proposing to your own
    suitor; that makes its output depend on the forNodes processing
    order. Proof instance: weights {0-1: 1, 0-2: 2} — processing 0,1,2
    yields matching {(0,1)} (weight 1), processing 2 first yields
    {(0,2)} (weight 2); both pass the reference's own proper+maximal
    assertions. A faithful distributed replay would be a sequential
    chain replay (DFS-class). This engine therefore implements the
    CLASSIC suitor algorithm (Manne & Halappanavar, no self-floor) with
    deterministic tie-breaks (heavier weight, then smaller other
    endpoint, then smaller proposer): its fixed point is unique, order-
    independent, and equals the greedy matching over the total edge
    order (weight desc, canonical pair asc) — the same matching the
    engine's local_max_matching converges to, and a member of the same
    1/2-approximation family the reference certifies.

    Spark shape per round: active nodes pick their best admissible
    target (one gather join + struct-argmax), targets accept their best
    incoming proposal (one struct-argmax), displaced suitors and
    rejected proposers re-enter the active set. ws starts at 0 and
    suitor at none like the reference (:126-127), so zero-weight edges
    are proposable and negative-weight edges never are. Rounds are
    bounded by the longest displacement chain (O(log) on random weights;
    hard cap max_rounds).
    """
    if graph.directed:
        raise ValueError("SuitorMatcher does not support directed graphs")
    if graph.number_of_self_loops():
        raise ValueError("SuitorMatcher does not support self-loops")
    NONE = (1 << 62)  # stands for the reference's `none` in comparisons
    sym = graph.symmetrized_edges().select("src", "dst", "weight").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()
    spark = sym.sparkSession
    # state: best proposal each node HOLDS (ws, suitor); reference init
    state = truncate(
        graph.vertices().select(
            "id", F.lit(0.0).alias("ws"), F.lit(NONE).alias("suitor")
        )
    )
    active = truncate(graph.vertices().select("id"))
    for _ in range(max_rounds):
        if active.limit(1).count() == 0:
            break
        sv = state.select(
            F.col("id").alias("dst"),
            F.col("ws").alias("ws_v"),
            F.col("suitor").alias("s_v"),
        )
        cand = (
            sym.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(sv, "dst")
            .filter(
                (F.col("weight") > F.col("ws_v"))
                | ((F.col("weight") == F.col("ws_v")) & (F.col("src") < F.col("s_v")))
            )
        )
        # each active node proposes to its best admissible target
        proposals = (
            cand.groupBy("src")
            .agg(F.max(F.struct(F.col("weight"), (-F.col("dst")).alias("nd"), F.col("dst")))
                 .alias("pick"))
            .select(
                F.col("src").alias("prop"),
                F.col("pick.dst").alias("tgt"),
                F.col("pick.weight").alias("w"),
            )
        )
        proposals, seen = materialize(proposals)
        if seen["rows"] == 0:
            break
        # targets accept their best incoming proposal
        accepted = (
            proposals.groupBy("tgt")
            .agg(F.max(F.struct(F.col("w"), (-F.col("prop")).alias("np"), F.col("prop")))
                 .alias("win"))
            .select(
                F.col("tgt").alias("id"),
                F.col("win.w").alias("new_ws"),
                F.col("win.prop").alias("new_suitor"),
            )
        )
        new_state = truncate(
            state.join(accepted, "id", "left").select(
                "id",
                F.coalesce("new_ws", "ws").alias("ws"),
                F.coalesce("new_suitor", "suitor").alias("suitor"),
            ),
            release=state,
        )
        # displaced previous suitors + proposers whose proposal lost
        displaced = (
            state.join(accepted, "id", "left_semi")
            .filter(F.col("suitor") != NONE)
            .select(F.col("suitor").alias("id"))
        )
        winners = accepted.select(F.col("new_suitor").alias("prop"))
        rejected = proposals.join(winners, "prop", "left_anti").select(
            F.col("prop").alias("id")
        )
        active = truncate(displaced.unionByName(rejected).distinct(), release=active)
        state = new_state
    matched = (
        state.filter(F.col("suitor") != NONE)
        .select(F.col("id").alias("a"), F.col("suitor").alias("b"))
    )
    mutual = (
        matched.alias("x")
        .join(
            matched.select(F.col("a").alias("b"), F.col("b").alias("a")).alias("y"),
            ["a", "b"],
            "left_semi",
        )
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    out = mutual.join(
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v"), "weight"),
        ["u", "v"],
        "left",
    ).select("u", "v", "weight")
    out = out.persist()
    out.count()
    sym.unpersist()
    return out


def b_suitor_matching(
    graph: Graph,
    b: int | DataFrame = 1,
    max_rounds: int = 256,
) -> DataFrame:
    """b-matching edges (u, v, weight), u < v; vertex x appears in at most
    b(x) matched edges — BSuitorMatcher.cpp run()/findSuitors/makeSuitor
    (Khan et al., "Efficient Approximation Algorithms For Weighted
    B-Matching", SISC 38(5), 2016) and the BMatching validity contract
    (BMatching.cpp isProper: capacity respected, edges real).

    DOCUMENTED SUBSTITUTION (same policy as suitor_matching above): the
    reference's sequential proposal cascade breaks weight ties by
    per-endpoint neighbor id (BSuitorMatcher.hpp MatchingNode::operator<=>),
    which makes tied outcomes depend on the findSuitors processing order.
    This engine uses the deterministic total edge order (weight desc,
    canonical pair asc). Khan et al. (Thm. 2/4) prove the b-suitor fixed
    point equals the SEQUENTIAL GREEDY b-matching over any consistent
    total order, so with unique weights this operator, the reference, and
    greedy all coincide exactly (locked in tests/test_bsuitor.py against
    both a transcribed reference replica and greedy); with ties it is one
    deterministic member of the same 1/2-approximation family.

    Spark shape per round (the parallel "locally dominant" formulation of
    b-suitor): every live edge is viewed from both endpoints; each
    endpoint keeps its top-r(x) live incident edges (r = residual
    capacity) under the total order — one row_number window per side;
    edges chosen from BOTH sides are matched (the globally heaviest live
    edge with free endpoints is always mutual, so every round matches at
    least one edge); residuals decrement, saturated vertices drop their
    remaining edges. State per round = live edges + (id, residual):
    linear, no per-source fan-out; rounds are O(log m) in practice on
    random weights, hard-capped by max_rounds.

    b: a uniform int capacity, or a DataFrame (id, b) with one row per
    vertex (reference ctor contract: "number of b values must match the
    number of nodes"; missing vertices raise).
    """
    if graph.directed:
        raise ValueError("BSuitorMatcher does not support directed graphs")
    if graph.number_of_self_loops():
        raise ValueError("BSuitorMatcher does not support graphs with self-loops")
    spark = graph.edges.sparkSession

    verts = graph.vertices().select("id")
    if isinstance(b, DataFrame):
        bdf = b.select("id", F.col("b").cast("long").alias("b"))
        n_missing = verts.join(bdf, "id", "left_anti").count()
        if n_missing:
            raise ValueError(
                "The number of b values does not match the number of nodes "
                f"in this graph ({n_missing} vertices without a b value)"
            )
        residual = verts.join(bdf, "id").select("id", F.col("b").alias("r"))
    else:
        if b < 0:
            raise ValueError("b must be non-negative")
        residual = verts.select("id", F.lit(int(b)).cast("long").alias("r"))

    live = (
        graph.simple_undirected_edges()
        .join(
            graph.symmetrized_edges().select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                "weight",
            ),
            ["u", "v"],
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    live = truncate(live)
    residual = truncate(residual)
    matched_pieces: list[DataFrame] = []

    for _ in range(max_rounds):
        # drop edges with a saturated endpoint; join residuals in for the
        # per-endpoint rank bound
        ru = residual.select(F.col("id").alias("u"), F.col("r").alias("r_u"))
        rv = residual.select(F.col("id").alias("v"), F.col("r").alias("r_v"))
        bounded = (
            live.join(ru, "u")
            .join(rv, "v")
            .filter((F.col("r_u") > 0) & (F.col("r_v") > 0))
        )
        sides = bounded.select(
            F.col("u").alias("node"), F.col("r_u").alias("cap"), "u", "v", "weight"
        ).unionByName(
            bounded.select(
                F.col("v").alias("node"), F.col("r_v").alias("cap"), "u", "v", "weight"
            )
        )
        w = Window.partitionBy("node").orderBy(F.desc("weight"), F.asc("u"), F.asc("v"))
        chosen = (
            sides.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.col("cap"))
            .select("node", "u", "v", "weight")
        )
        mutual = (
            chosen.groupBy("u", "v", "weight")
            .agg(F.count("*").alias("sides"))
            .filter("sides = 2")
            .select("u", "v", "weight")
        )
        mutual, seen = materialize(mutual)
        if seen["rows"] == 0:
            mutual.unpersist()
            break
        matched_pieces.append(mutual)

        used = (
            mutual.select(F.col("u").alias("id"))
            .unionByName(mutual.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("used"))
        )
        residual = truncate(
            residual.join(used, "id", "left").select(
                "id", (F.col("r") - F.coalesce("used", F.lit(0))).alias("r")
            ),
            release=residual,
        )
        live = truncate(
            live.join(mutual.select("u", "v"), ["u", "v"], "left_anti"),
            release=live,
        )

    residual.unpersist()
    live.unpersist()
    if not matched_pieces:
        return local_frame(spark, [], "u long, v long, weight double")
    out = matched_pieces[0]
    for p in matched_pieces[1:]:
        out = out.unionByName(p)
    out = out.persist()
    out.count()
    for p in matched_pieces:
        p.unpersist()
    return out


def dynamic_b_suitor_matching(
    graph: Graph,
    events: DataFrame,
    b: int | DataFrame = 1,
    max_rounds: int = 256,
) -> tuple[Graph, DataFrame]:
    """Dynamic b-matching under a batch of edge events — the engine's
    dynamics-policy realization of DynamicBSuitorMatcher
    (cpp/matching/DynamicBSuitorMatcher.cpp).

    Reference semantics: update()/updateBatch() (:17-33) accept ONLY
    EDGE_ADDITION / EDGE_REMOVAL events (anything else throws) and
    repair the suitor fixed point per event via trackUpdatePath
    cascades (:62-115). Khan et al. (SISC 2016, Thm. 2/4) prove the
    b-suitor fixed point is UNIQUE on unique weights (= the sequential
    greedy b-matching), so per-event repair and recompute-on-the-
    updated-graph land on the IDENTICAL matching — which is exactly
    this engine's batch-dynamics policy (COVERAGE.md dynamics note):
    apply the whole event batch to the edge table, then recompute with
    the order-independent distributed b-suitor. No per-event sequential
    cascade survives at 10¹²-edge scale; the batch formulation is the
    scale-correct equivalent, exact by the uniqueness theorem (locked
    against per-batch greedy recompute in tests/test_bsuitor.py).

    events: (type, u, v, w [, step, seq]) with type in EDGE_ADDITION /
    EDGE_REMOVAL (GraphEvent.hpp names, as produced by the engine's
    dynamic generators and graphdiff). When ordering columns are
    present, the LAST event per canonical pair wins (batch-prefix
    semantics); otherwise each pair must appear once.

    Returns (updated_graph, matching) — matching as b_suitor_matching
    (u, v, weight with u < v).
    """
    allowed = {"EDGE_ADDITION", "EDGE_REMOVAL", "edge_addition", "edge_removal"}
    bad = (
        events.select(F.col("type"))
        .distinct()
        .filter(~F.col("type").isin(*allowed))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            "Event type not allowed. Edge insertions and removals only."
        )
    canon = events.select(
        F.upper("type").alias("type"),
        F.least("u", "v").alias("u"),
        F.greatest("u", "v").alias("v"),
        (F.col("w") if "w" in events.columns else F.lit(1.0))
        .cast("double").alias("w"),
        *[F.col(c) for c in ("step", "seq") if c in events.columns],
    )
    if "step" in canon.columns or "seq" in canon.columns:
        order = [F.col(c) for c in ("step", "seq") if c in canon.columns]
        wlast = Window.partitionBy("u", "v").orderBy(*[c.desc() for c in order])
        canon = (
            canon.withColumn("rn", F.row_number().over(wlast))
            .filter("rn = 1")
            .drop("rn")
        )
    adds = canon.filter(F.upper("type") == "EDGE_ADDITION").select(
        F.col("u").alias("src"), F.col("v").alias("dst"),
        F.col("w").alias("weight"),
    )
    removes = canon.filter(F.upper("type") == "EDGE_REMOVAL").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    # upsert: every touched pair leaves the table first, additions
    # re-enter at their event weight (a re-add of a live edge is a
    # setWeight in reference terms, not a multi-edge)
    touched = removes.unionByName(adds.select("src", "dst"))
    updated = graph.remove_edges(touched).add_edges(adds)
    return updated, b_suitor_matching(updated, b=b, max_rounds=max_rounds)
