"""Degree-preserving graph randomization (null models).

Reference: networkit/cpp/randomization/ — DegreePreservingShuffle.cpp
(random id permutation within equal-degree classes; directed degrees
compare as (in, out) pairs), EdgeSwitching.cpp:10-50 (Markov chain of
2-swaps: pick two edges, rewire (s1,t1),(s2,t2) → (s1,t2),(s2,t1),
reject self-loops and multi-edges). Their tests assert the invariants —
degree sequence preserved exactly, graph stays simple, and the edge set
actually randomizes (CurveballGTest/DegreePreservingShuffleGTest/
EdgeSwitchingGTest) — randomized output has no exact contract.

Determinism: every draw is the engine's shared seeded quadratic hash
(operators/embedding.py arithmetic), so both operators are pure
functions of (graph, seed) and the shuffle's DuckDB oracle replays
bit-identically.

Spark shapes:
- shuffle: nodes keyed by degree class; WITHIN each class two ranks —
  by hashed key and by id — are zipped (rank-join) to form the
  permutation. All groupBy/window work is per-class
  (Window.partitionBy(class)), fully parallel.
- edge switching: the reference chain is one swap at a time (inherently
  sequential). The batched substitute pairs DISJOINT edges per round
  (hash-bucketed pairing — each edge in at most one proposal), proposes
  the 2-swap with a hash-chosen orientation, and rejects any proposal
  that (a) forms a self-loop, (b) collides with an existing edge, or
  (c) collides with another proposal's new edge in the same batch
  (keep-none on conflict — conservative rejection keeps every accepted
  batch a valid sequence of reference swaps, so the invariants hold by
  construction; acceptance-rate differences only change mixing speed).
  Per round: one per-bucket pairing window, one anti-join against the
  edge set, one self-collision groupBy — all edge-table-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.embedding import WALK_HASH_M, _A, _B, _C, _D
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame


def _mix(*cols):
    """Seeded quadratic hash → BIGINT in [0, M) — shared arithmetic with
    operators/embedding.py (SQL-replicable, exact int64)."""
    m = F.lit(WALK_HASH_M)
    coeffs = [_A, _B, _C, _D]
    h1 = F.lit(0)
    for i, c in enumerate(cols):
        h1 = h1 + c * F.lit(coeffs[i % 4])
    h1 = F.pmod(h1, m)
    h2 = F.pmod(h1 * h1 + F.lit(_A) * h1 + F.lit(_B), m)
    return F.pmod(h2 * h2 + F.lit(_C) * h2 + F.lit(_D), m)


def degree_preserving_shuffle(graph: Graph, seed: int = 1) -> DataFrame:
    """(id, new_id) — a permutation that reassigns ids uniformly within
    equal-degree classes (DegreePreservingShuffle.cpp: undirected class
    = degree; directed class = (in, out) pair). Applying it relabels the
    graph while provably preserving every degree."""
    if graph.directed:
        outd = graph.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("od")
        )
        ind = graph.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("ind")
        )
        cls = (
            graph.vertices()
            .join(outd, "id", "left")
            .join(ind, "id", "left")
            .select(
                "id",
                F.concat_ws(
                    "_",
                    F.coalesce("ind", F.lit(0)).cast("string"),
                    F.coalesce("od", F.lit(0)).cast("string"),
                ).alias("cls"),
            )
        )
    else:
        deg = graph.symmetrized_edges().groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d")
        )
        cls = (
            graph.vertices()
            .join(deg, "id", "left")
            .select("id", F.coalesce("d", F.lit(0)).cast("string").alias("cls"))
        )
    # Skew guard: the low-degree classes hold most of a power-law graph
    # (billions of degree-1 nodes at web scale → one window partition).
    # Classes above `class_cap` are hash-split into subclasses permuted
    # independently — a random partition composed with within-part
    # permutations is still a valid degree-preserving shuffle (every
    # reassignment stays inside one degree class); only the mixing is
    # slightly coarser on the split giants.
    class_cap = 1_000_000
    sizes = cls.groupBy("cls").agg(F.count("*").alias("csz"))
    keyed = (
        cls.join(sizes, "cls")
        .select(
            "id",
            F.concat_ws(
                "#",
                "cls",
                F.when(F.col("csz") <= class_cap, F.lit(0))
                .otherwise(
                    F.pmod(
                        _mix(F.col("id"), F.lit(seed + 1)),
                        F.ceil(F.col("csz") / F.lit(class_cap)).cast("long"),
                    )
                )
                .cast("string"),
            ).alias("cls"),
            _mix(F.col("id"), F.lit(seed)).alias("k"),
        )
    )
    # two ranks per (sub)class: hashed order ↔ id order; zip them
    w_hash = Window.partitionBy("cls").orderBy("k", "id")
    w_id = Window.partitionBy("cls").orderBy("id")
    a = keyed.select("id", "cls", F.row_number().over(w_hash).alias("r"))
    b = keyed.select(F.col("id").alias("new_id"), "cls", F.row_number().over(w_id).alias("r"))
    return a.join(b, ["cls", "r"]).select("id", "new_id")


def shuffled_graph(graph: Graph, seed: int = 1) -> Graph:
    """The relabeled graph (DegreePreservingShuffle::getPermutation
    applied, as its callers do)."""
    perm = degree_preserving_shuffle(graph, seed)
    e = (
        graph.edges.join(perm.withColumnRenamed("id", "src"), "src")
        .select(F.col("new_id").alias("src"), "dst", "weight")
        .join(perm.withColumnRenamed("id", "dst"), "dst")
        .select("src", F.col("new_id").alias("dst"), "weight")
    )
    return Graph.from_edges(
        e,
        directed=graph.directed,
        weighted=graph.weighted,
        vertices=graph.vertices(),
        already_symmetrized=not graph.directed,
    )


def _curveball_round(
    edges: DataFrame, vertices: DataFrame, rnd: int, seed: int, n_buckets: int
) -> DataFrame:
    """One parallel global trade over canonical (u < v) edges.

    Pairing: nodes keyed by the seeded hash, hash-bucketed, consecutive
    ranks within a bucket paired (≤ n_buckets leftovers sit the round
    out — the reference pairs all-but-one; only mixing speed differs).
    Trade semantics are in _trade_round. Ownership: each edge is traded by exactly ONE incident pair — the
    trading endpoint with the smaller seeded score (uv-edges, i.e. both
    endpoints in the same pair, are kept — GlobalCurveballImpl.hpp:150).
    Commonality is computed on FULL current neighborhoods (a member w of
    pair {u,v} is common iff w is adjacent to the owner's partner), so a
    pool (movable) member is by construction NOT adjacent to the target
    it may move to. That yields the conflict proof:

    * a created edge {t,w} requires w ∉ N(t) pre-round, so it can never
      collide with any surviving original edge — only with another
      CREATED edge (necessarily created by the other endpoint's pair);
    * reverting every pair involved in such a created/created collision
      restores original edges, which (same argument) cannot collide with
      any remaining creation — so ONE detect+revert pass restores
      simplicity exactly, and a reverted trade is the identity trade
      (still in the chain's support; the conditioning bias is the same
      disclosed trade-off as edge_switching's keep-none rejection).

    Per-pair degree preservation is by quota: side s receives exactly as
    many pool members as it contributed. Every draw is the shared seeded
    quadratic hash, so the round is a pure function of (edges, rnd,
    seed) and the DuckDB oracle replays it bit-identically.
    """
    keyed = vertices.select(
        "id", _mix(F.col("id"), F.lit(rnd), F.lit(seed)).alias("k")
    ).withColumn("bkt", F.pmod(F.col("k"), F.lit(n_buckets)))
    wb = Window.partitionBy("bkt").orderBy("k", "id")
    p = keyed.select(
        "id", "bkt", (F.row_number().over(wb) - 1).alias("rn")
    ).select(
        "id",
        "bkt",
        F.floor(F.col("rn") / 2).alias("pair"),
        F.pmod(F.col("rn"), F.lit(2)).alias("side"),
    )
    wide = (
        p.groupBy("bkt", "pair")
        .agg(
            F.count("*").alias("c"),
            F.min(F.when(F.col("side") == 0, F.col("id"))).alias("id0"),
            F.min(F.when(F.col("side") == 1, F.col("id"))).alias("id1"),
        )
        .filter(F.col("c") == 2)
        .select(
            (F.col("pair") * F.lit(n_buckets) + F.col("bkt")).alias("pid"),
            "id0",
            "id1",
        )
    )
    return _trade_round(edges, wide, rnd, seed)


def _trade_round(
    edges: DataFrame, wide: DataFrame, rnd: int, seed: int
) -> DataFrame:
    """Apply one batch of DISJOINT trades `wide` (pid, id0, id1) to the
    canonical (u < v) edge table — the shared core of global_curveball
    and curveball; semantics and the conflict-revert proof are in
    _curveball_round's docstring."""
    M = F.lit(WALK_HASH_M)
    pr = wide.select(
        F.col("id0").alias("x"), "pid", F.lit(0).alias("side")
    ).unionByName(wide.select(F.col("id1").alias("x"), "pid", F.lit(1).alias("side")))

    e = edges.join(
        pr.select(
            F.col("x").alias("u"),
            F.col("pid").alias("pid_u"),
            F.col("side").alias("side_u"),
        ),
        "u",
        "left",
    ).join(
        pr.select(
            F.col("x").alias("v"),
            F.col("pid").alias("pid_v"),
            F.col("side").alias("side_v"),
        ),
        "v",
        "left",
    )
    su = _mix(F.col("u"), F.lit(rnd), F.lit(seed + 7))
    sv = _mix(F.col("v"), F.lit(rnd), F.lit(seed + 7))
    e = e.withColumn(
        "owner",
        F.when(F.col("pid_u").isNull() & F.col("pid_v").isNull(), F.lit(None).cast("int"))
        .when(F.col("pid_v").isNull(), F.lit(0))
        .when(F.col("pid_u").isNull(), F.lit(1))
        .when(F.col("pid_u") == F.col("pid_v"), F.lit(2))
        .when(su < sv, F.lit(0))
        .when(su > sv, F.lit(1))
        .otherwise(F.lit(0)),  # score tie: canonical u (< v) owns
    )
    fixed = e.filter(F.col("owner").isNull() | (F.col("owner") == 2)).select("u", "v")
    owned = (
        e.filter(F.col("owner").isin(0, 1))
        .select(
            "u",
            "v",
            F.when(F.col("owner") == 0, F.col("pid_u"))
            .otherwise(F.col("pid_v"))
            .alias("pid"),
            F.when(F.col("owner") == 0, F.col("side_u"))
            .otherwise(F.col("side_v"))
            .alias("side_o"),
            F.when(F.col("owner") == 0, F.col("v")).otherwise(F.col("u")).alias("w"),
        )
        .join(wide, "pid")
        .withColumn(
            "partner",
            F.when(F.col("side_o") == 0, F.col("id1")).otherwise(F.col("id0")),
        )
    )
    sym = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    is_common = (F.col("partner") == F.col("a")) & (F.col("w") == F.col("b"))
    common = owned.join(sym, is_common, "left_semi").select("u", "v")
    pool = owned.join(sym, is_common, "left_anti")
    q0 = pool.groupBy("pid").agg(
        F.sum(F.when(F.col("side_o") == 0, 1).otherwise(0)).alias("q0")
    )
    wp = Window.partitionBy("pid").orderBy("hw", "w")
    pool2 = (
        pool.withColumn(
            "hw",
            _mix(F.pmod(F.col("pid"), M), F.col("w"), F.lit(rnd), F.lit(seed + 13)),
        )
        .withColumn("rn2", F.row_number().over(wp))
        .join(q0, "pid")
        .withColumn(
            "side_new",
            F.when(F.col("rn2") <= F.col("q0"), F.lit(0)).otherwise(F.lit(1)),
        )
    )
    tgt_new = F.when(F.col("side_new") == 0, F.col("id0")).otherwise(F.col("id1"))
    conflicted = (
        pool2.filter(F.col("side_new") != F.col("side_o"))
        .select(
            "pid",
            F.least(tgt_new, F.col("w")).alias("cu"),
            F.greatest(tgt_new, F.col("w")).alias("cv"),
        )
        .groupBy("cu", "cv")
        .agg(F.collect_set("pid").alias("ps"), F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select(F.explode("ps").alias("pid"))
        .distinct()
        .withColumn("rev", F.lit(True))
    )
    pool3 = pool2.join(conflicted, "pid", "left").withColumn(
        "side_fin",
        F.when(F.col("rev").isNotNull(), F.col("side_o")).otherwise(F.col("side_new")),
    )
    tgt = F.when(F.col("side_fin") == 0, F.col("id0")).otherwise(F.col("id1"))
    traded = pool3.select(
        F.least(tgt, F.col("w")).alias("u"), F.greatest(tgt, F.col("w")).alias("v")
    )
    return fixed.unionByName(common).unionByName(traded)


def global_curveball(
    graph: Graph, n_global_trades: int = 5, seed: int = 1, n_buckets: int = 64
) -> Graph:
    """GlobalCurveball (GlobalCurveball.cpp, EM-GCB of Carstens et al.,
    ESA 2018): degree-preserving randomization of a SIMPLE UNDIRECTED
    graph by global curveball trades — per round, nodes are paired and
    each pair uniformly redistributes its disjoint neighbors while
    common neighbors stay.

    The reference processes a round's pairs sequentially via a
    time-forward queue (an edge re-enters later trades of the same
    round, GlobalCurveballImpl.hpp:205-210). The Spark-native round
    trades all pairs SIMULTANEOUSLY on the round-start graph with
    unique edge ownership + a provably-single-pass collision revert
    (see _curveball_round) — the reference's own contract
    (GlobalCurveballGTest: exact per-node degrees, simplicity) holds by
    construction; per-round mixing is slightly slower, compensated with
    extra rounds. Scale: per round one bucketed pairing window, three
    edge-table joins and two per-pair windows (pair groups are degree-
    bounded) — no all-pairs, no driver state."""
    if graph.directed:
        raise ValueError("global_curveball operates on undirected graphs")
    edges = truncate(
        graph.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    verts = graph.vertices()
    for r in range(n_global_trades):
        edges = truncate(
            _curveball_round(edges, verts, r, seed, n_buckets), release=edges
        )
    out = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1.0).alias("weight")
    )
    return Graph.from_edges(
        out, directed=False, weighted=graph.weighted, vertices=verts
    )


def uniform_trades(n_nodes: int, num_trades: int, seed: int = 1) -> list:
    """UniformTradeGenerator analog (randomization/Curveball.hpp callers):
    a deterministic seeded list of (u, v) node pairs, u != v, drawn by
    the engine's shared quadratic hash. Trade lists are O(num_trades)
    driver metadata (node ids only), never data-sized."""

    def mix(*xs):
        h1 = sum(int(x) * (_A, _B, _C, _D)[i % 4] for i, x in enumerate(xs)) % WALK_HASH_M
        h2 = (h1 * h1 + _A * h1 + _B) % WALK_HASH_M
        return (h2 * h2 + _C * h2 + _D) % WALK_HASH_M

    out = []
    for t in range(num_trades):
        u = mix(t, seed, 1) % n_nodes
        v = mix(t, seed, 2) % n_nodes
        if u == v:
            v = (v + 1 + mix(t, seed, 3) % (n_nodes - 1)) % n_nodes
        out.append((u, v))
    return out


def curveball(graph: Graph, trades: list, seed: int = 1) -> Graph:
    """Curveball (Curveball.cpp + CurveballUniformTradeGenerator): apply
    an EXPLICIT trade sequence — each trade (u, v) redistributes the
    disjoint neighborhoods of u and v while common neighbors stay.

    The reference replays trades strictly sequentially
    (CurveballImpl.cpp trade loop). Spark-native: the sequence is split
    greedily into maximal batches of node-disjoint trades (driver-side —
    the trade list is metadata, not data) and each batch is applied as
    one simultaneous _trade_round; trades inside a batch touch disjoint
    adjacency lists, so batching changes only which graph state later
    trades observe — the same parallel-vs-sequential substitution (and
    identical invariant contract: exact degrees, simplicity) as
    global_curveball. Every draw is the shared seeded hash, so the
    result is a pure function of (graph, trades, seed)."""
    if graph.directed:
        raise ValueError("curveball operates on undirected graphs")
    spark = graph.edges.sparkSession
    edges = truncate(
        graph.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # greedy split into node-disjoint batches, preserving order
    batches, used = [[]], set()
    for u, v in trades:
        u, v = int(u), int(v)
        if u == v:
            continue
        if u in used or v in used:
            batches.append([])
            used = set()
        used.update((u, v))
        batches[-1].append((u, v))
    for rnd, batch in enumerate(b for b in batches if b):
        wide = local_frame(
            spark, [(i, min(u, v), max(u, v)) for i, (u, v) in enumerate(batch)],
            "pid long, id0 long, id1 long",
        )
        edges = truncate(
            _trade_round(edges, F.broadcast(wide), rnd, seed), release=edges
        )
    out = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1.0).alias("weight")
    )
    return Graph.from_edges(
        out, directed=False, weighted=graph.weighted, vertices=graph.vertices()
    )


def edge_switching(
    graph: Graph,
    switches_per_edge: float = 10.0,
    seed: int = 1,
    n_buckets: int = 64,
) -> Graph:
    """Batched 2-swap randomization of a SIMPLE UNDIRECTED graph; see
    module docstring for the substitution vs the sequential chain.
    Rounds ≈ 2·switches_per_edge (each round proposes ~|E|/2 swaps)."""
    if graph.directed:
        raise ValueError("edge_switching operates on undirected graphs")
    edges = truncate(
        graph.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).distinct()
    )
    m = edges.count()
    rounds = max(1, int(round(2.0 * switches_per_edge)))

    for r in range(rounds):
        keyed = edges.select(
            "u",
            "v",
            _mix(F.col("u"), F.col("v"), F.lit(r), F.lit(seed)).alias("k"),
        ).withColumn("bkt", F.pmod(F.col("k"), F.lit(n_buckets)))
        wb = Window.partitionBy("bkt").orderBy("k", "u", "v")
        ranked = keyed.withColumn("rn", F.row_number().over(wb))
        pairs = (
            ranked.withColumn("pair", F.floor((F.col("rn") - 1) / 2))
            .withColumn("side", F.pmod(F.col("rn") - 1, F.lit(2)))
        )
        lhs = pairs.filter(F.col("side") == 0).select(
            "bkt", "pair", F.col("u").alias("a"), F.col("v").alias("b"), "k"
        )
        rhs = pairs.filter(F.col("side") == 1).select(
            "bkt", "pair", F.col("u").alias("c"), F.col("v").alias("d")
        )
        prop = lhs.join(rhs, ["bkt", "pair"])
        # orientation by hash bit: (a,d)+(c,b) or (a,c)+(b,d)
        flip = F.pmod(F.col("k"), F.lit(2)) == 0
        prop = prop.select(
            "bkt", "pair", "a", "b", "c", "d",
            F.when(flip, F.col("d")).otherwise(F.col("c")).alias("nb1"),
            F.when(flip, F.col("c")).otherwise(F.col("d")).alias("nb2"),
        ).select(
            "bkt", "pair", "a", "b", "c", "d",
            F.least("a", "nb1").alias("e1u"), F.greatest("a", "nb1").alias("e1v"),
            F.least("b", "nb2").alias("e2u"), F.greatest("b", "nb2").alias("e2v"),
        )
        # reject self-loops and degenerate overlaps
        ok = prop.filter(
            (F.col("e1u") != F.col("e1v"))
            & (F.col("e2u") != F.col("e2v"))
            & ~(
                (F.col("e1u") == F.col("e2u")) & (F.col("e1v") == F.col("e2v"))
            )
        )
        # reject collisions with surviving edges (conservative: full set)
        new_edges = ok.select(
            "bkt", "pair",
            F.explode(
                F.array(
                    F.struct(F.col("e1u").alias("u"), F.col("e1v").alias("v")),
                    F.struct(F.col("e2u").alias("u"), F.col("e2v").alias("v")),
                )
            ).alias("e"),
        ).select("bkt", "pair", F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        hit_existing = (
            new_edges.join(edges, ["u", "v"], "left_semi")
            .select("bkt", "pair")
            .distinct()
        )
        dup_within = (
            new_edges.groupBy("u", "v")
            .agg(F.count("*").alias("c"), F.collect_set(F.struct("bkt", "pair")).alias("ps"))
            .filter(F.col("c") > 1)
            .select(F.explode("ps").alias("p"))
            .select(F.col("p.bkt").alias("bkt"), F.col("p.pair").alias("pair"))
            .distinct()
        )
        rejected = hit_existing.unionByName(dup_within).distinct()
        accepted = ok.join(rejected, ["bkt", "pair"], "left_anti")

        removed = accepted.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                    ),
                    F.struct(
                        F.least("c", "d").alias("u"), F.greatest("c", "d").alias("v")
                    ),
                )
            ).alias("e")
        ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        added = accepted.select(
            F.explode(
                F.array(
                    F.struct(F.col("e1u").alias("u"), F.col("e1v").alias("v")),
                    F.struct(F.col("e2u").alias("u"), F.col("e2v").alias("v")),
                )
            ).alias("e")
        ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        edges = truncate(
            edges.join(removed, ["u", "v"], "left_anti").unionByName(added),
            release=edges,
        )

    assert edges.count() == m  # 2-swaps never change the edge count
    out = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1.0).alias("weight")
    )
    return Graph.from_edges(
        out, directed=False, weighted=graph.weighted, vertices=graph.vertices()
    )
