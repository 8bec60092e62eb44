"""Spanning forests: maximum-weight spanning forest (Borůvka) and the
plain spanning forest.

Reference surface:
- UnionMaximumSpanningForest.cpp / KruskalMSF.cpp: maximum-weight
  spanning forest via sorted-edge union-find — inherently sequential.
- SpanningForest.cpp:15-31: BFS forest per component (any spanning
  forest; the reference test checks edge count / connectivity, not a
  specific tree).

Spark translation: BORŮVKA — the classic parallel MSF. Each round every
component picks its best incident outgoing edge (max weight, ties toward
the lexicographically smallest canonical endpoint pair — deterministic),
picked edges join the forest, touched components contract (hash-min over
the picked component-level edges), repeat. Component count at least
halves per round → O(log n) rounds of join+window+agg; the contraction
loop runs on component-sized data (≪ edges).

Equivalence to the reference: with DISTINCT weights the maximum spanning
forest is unique, so Borůvka here ≡ Kruskal union-find there, edge for
edge (tests/test_spanning.py proves it against a Kruskal oracle); with
ties both return *a* maximum forest of equal total weight — exactly the
guarantee the sequential reference gives (its result depends on sort
order among equal weights)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame


def _simple_weighted_undirected(graph: Graph) -> DataFrame:
    """(u, v, weight) with u < v, multi-edges collapsed to the max."""
    return (
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
        .agg(F.max("weight").alias("weight"))  # multi-edge: keep best
    )


def maximum_spanning_forest(
    graph: Graph,
    max_rounds: int = 64,
    minimize: bool = False,
    tiebreak_seed: int | None = None,
) -> DataFrame:
    """Forest edges (u, v, weight) with u < v; union over components of a
    maximum-weight spanning tree. Undirected semantics (symmetrized
    edges; self-loops never qualify).

    minimize=True flips the ordering to a MINIMUM spanning forest
    (KruskalMSF.cpp / PrimMSF.cpp semantics — both compute the min
    forest; with distinct weights all three sequential variants and this
    Borůvka return the identical unique forest).
    tiebreak_seed, when set, replaces the lexicographic (u, v) tie-break
    among equal weights by a seeded hash order —
    RandomMaximumSpanningForest.cpp's randomized tie handling."""
    spark = graph.edges.sparkSession
    und = _simple_weighted_undirected(graph).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    und.count()

    labels = truncate(
        graph.vertices().select("id", F.col("id").alias("comp"))
    )
    forest_pieces: list[DataFrame] = []

    weight_order = F.asc("weight") if minimize else F.desc("weight")
    if tiebreak_seed is None:
        tie = [F.asc("u"), F.asc("v")]
    else:
        tie = [
            F.asc(
                F.xxhash64(
                    F.col("u"), F.col("v"), F.lit(int(tiebreak_seed))
                )
            ),
            F.asc("u"),
            F.asc("v"),
        ]

    for _ in range(max_rounds):
        lu = labels.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        lv = labels.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        el = und.join(lu, "u").join(lv, "v").filter(F.col("cu") != F.col("cv"))
        if el.limit(1).count() == 0:
            break

        # each component's best outgoing edge, from both sides
        sides = el.select(F.col("cu").alias("comp"), "u", "v", "weight", "cu", "cv").unionByName(
            el.select(F.col("cv").alias("comp"), "u", "v", "weight", "cu", "cv")
        )
        w = Window.partitionBy("comp").orderBy(weight_order, *tie)
        chosen = (
            sides.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("u", "v", "weight", "cu", "cv")
            .dropDuplicates(["u", "v"])
        )
        chosen = truncate(chosen)
        forest_pieces.append(chosen.select("u", "v", "weight"))

        # contract: exact connected components of the picked
        # component-level edges (reuses the engine's pointer-doubling
        # hash-min — O(log chain) supersteps even when the per-component
        # choices form long chains, e.g. uniform weights on a path)
        from networkit_spark.operators.components import connected_components

        comp_graph = Graph.from_edges(
            chosen.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
            directed=False,
        )
        mapping = connected_components(comp_graph).labels.select(
            F.col("id").alias("comp"), F.col("label").alias("root")
        )
        labels = truncate(
            labels.join(mapping, "comp", "left").select(
                "id", F.coalesce("root", F.col("comp")).alias("comp")
            ),
            release=labels,
        )

    und.unpersist()
    if not forest_pieces:
        return local_frame(spark, [], "u long, v long, weight double")
    out = forest_pieces[0]
    for p in forest_pieces[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["u", "v"])


def spanning_forest(graph: Graph) -> DataFrame:
    """SpanningForest.cpp:15-31 equivalent: any spanning forest, one tree
    per connected component — Borůvka on unit weights (deterministic
    through the same tie-breaks)."""
    unit = Graph.from_edges(
        graph.symmetrized_edges().select("src", "dst"),
        directed=False,
        already_symmetrized=True,
        vertices=graph.vertices(),
    )
    return maximum_spanning_forest(unit).select("u", "v")


def minimum_spanning_forest(graph: Graph, max_rounds: int = 64) -> DataFrame:
    """KruskalMSF.cpp:18-49 / PrimMSF.cpp run() semantics: the
    minimum-weight spanning forest (one tree per component) and, via
    sum(weight), the reference's totalWeight. Borůvka with ascending
    weight ordering; with distinct weights the min forest is unique so
    this equals both sequential algorithms edge-for-edge, with ties the
    total weight and component structure still match (the sequential
    results themselves depend on sort order among equal weights).
    Unweighted graphs fall back to spanning_forest, as both cpp files do.
    """
    if not graph.weighted:
        return spanning_forest(graph).withColumn("weight", F.lit(1.0))
    return maximum_spanning_forest(graph, max_rounds=max_rounds, minimize=True)


def random_spanning_forest(graph: Graph, seed: int = 1) -> DataFrame:
    """RandomSpanningForest.cpp:18-50 surface: a seed-randomized spanning
    forest (one random tree per connected component), columns (u, v).

    The reference runs a sequential random walk per component and keeps
    first-entry edges (Aldous–Broder). A driver-side walk is the one
    thing that cannot be distributed, so the Spark-native substitute is
    RANDOM-WEIGHT BORŮVKA: iid seeded-hash weights per undirected edge,
    then the (unique) max spanning forest of those weights. Contract
    parity with the reference's test surface (SpanningForest edge count
    n − #components, acyclicity, per-component connectivity, seed
    sensitivity) is exact; the tree DISTRIBUTION differs (random-weight
    MSF is not the uniform spanning tree — documented substitution; the
    reference GTest checks structure, not distribution)."""
    rnd = graph.simple_undirected_edges().select(
        "u",
        "v",
        (
            F.pmod(
                F.xxhash64(F.col("u"), F.col("v"), F.lit(int(seed))),
                F.lit(2**40),
            ).cast("double")
            + F.lit(1.0)
        ).alias("weight"),
    )
    g = Graph.from_edges(
        rnd.select(F.col("u").alias("src"), F.col("v").alias("dst"), "weight"),
        directed=False,
        weighted=True,
        vertices=graph.vertices(),
    )
    return maximum_spanning_forest(g).select("u", "v")


def random_maximum_spanning_forest(
    graph: Graph,
    seed: int = 1,
    scores: DataFrame | None = None,
    attribute: bool = False,
) -> DataFrame:
    """RandomMaximumSpanningForest.cpp run()/run(attribute): ONE maximum
    spanning forest with randomized tie-breaking among equal weights
    (the reference shuffles equal-weight edges via its sort; here the
    tie-break key is a seeded hash — same guarantee: a max forest whose
    identity among ties depends on the seed).

    scores, when given ((u, v, score) with u < v), replaces the edge
    weights — the reference's run(attribute) overload used by
    sparsification pipelines. attribute=True returns every simple
    undirected edge with an in_msf flag (the reference's msfAttribute /
    inMSF surface) instead of just the forest edges."""
    if scores is not None:
        base = scores.select(
            "u", "v", F.col("score").cast("double").alias("weight")
        )
        g = Graph.from_edges(
            base.select(
                F.col("u").alias("src"), F.col("v").alias("dst"), "weight"
            ),
            directed=False,
            weighted=True,
            vertices=graph.vertices(),
        )
    else:
        g = graph
    forest = maximum_spanning_forest(g, tiebreak_seed=seed)
    if not attribute:
        return forest
    return (
        _simple_weighted_undirected(graph)
        .join(
            forest.select("u", "v", F.lit(True).alias("in_msf")),
            ["u", "v"],
            "left",
        )
        .select("u", "v", "weight", F.coalesce("in_msf", F.lit(False)).alias("in_msf"))
    )


def union_maximum_spanning_forest(
    graph: Graph,
    scores: DataFrame | None = None,
    level_cap: int = 256,
) -> DataFrame:
    """UnionMaximumSpanningForest.cpp:12-90 EXACT semantics: the union of
    ALL maximum spanning forests — edge (u, v, w) belongs iff u and v
    are in different components of the subgraph of STRICTLY heavier
    edges (equivalently: no u–v path whose every edge outweighs w).
    Columns (u, v, weight).

    Plan: Kruskal by weight CLASS, distributed. Process distinct weight
    levels in descending order; at each level every edge whose endpoint
    components (under the contraction of all heavier levels) differ is a
    member, then ALL of this level's cross edges contract at once (CC on
    component-level data). Rounds = #distinct weight levels — the loop
    only grows when the weight vocabulary does, and a large vocabulary
    means few ties: when every weight is globally unique the UMSF *is*
    the unique max forest, so that case short-circuits to one Borůvka
    run. level_cap guards the mixed pathological case (documented)."""
    if scores is not None:
        base = scores.select(
            "u", "v", F.col("score").cast("double").alias("weight")
        )
        g = Graph.from_edges(
            base.select(
                F.col("u").alias("src"), F.col("v").alias("dst"), "weight"
            ),
            directed=False,
            weighted=True,
            vertices=graph.vertices(),
        )
    else:
        g = graph

    spark = g.edges.sparkSession
    und = _simple_weighted_undirected(g).persist(StorageLevel.MEMORY_AND_DISK)
    stats = und.agg(
        F.countDistinct("weight").alias("nlvl"), F.count("*").alias("m")
    ).collect()[0]
    if stats["m"] == 0:
        und.unpersist()
        return local_frame(spark, [], "u long, v long, weight double")
    if stats["nlvl"] == stats["m"]:
        # every weight unique -> the max forest is unique -> UMSF == MSF
        out = maximum_spanning_forest(g)
        und.unpersist()
        return out
    if stats["nlvl"] > level_cap:
        raise ValueError(
            f"union_maximum_spanning_forest: {stats['nlvl']} distinct "
            f"weight levels exceeds level_cap={level_cap} and ties exist; "
            "raise the cap or bucket the scores"
        )
    levels = [
        r["weight"]
        for r in und.select("weight").distinct().orderBy(F.desc("weight")).collect()
    ]

    from networkit_spark.operators.components import connected_components

    labels = truncate(g.vertices().select("id", F.col("id").alias("comp")))
    member_pieces: list[DataFrame] = []
    for w in levels:
        lu = labels.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        lv = labels.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        lvl = (
            und.filter(F.col("weight") == F.lit(w))
            .join(lu, "u")
            .join(lv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        lvl, seen = materialize(lvl)
        if seen["rows"] == 0:
            continue  # level fully inside existing components
        member_pieces.append(lvl.select("u", "v", "weight"))
        comp_graph = Graph.from_edges(
            lvl.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
            directed=False,
        )
        mapping = connected_components(comp_graph).labels.select(
            F.col("id").alias("comp"), F.col("label").alias("root")
        )
        labels = truncate(
            labels.join(mapping, "comp", "left").select(
                "id", F.coalesce("root", F.col("comp")).alias("comp")
            ),
            release=labels,
        )

    und.unpersist()
    if not member_pieces:
        return local_frame(spark, [], "u long, v long, weight double")
    out = member_pieces[0]
    for p in member_pieces[1:]:
        out = out.unionByName(p)
    return out
