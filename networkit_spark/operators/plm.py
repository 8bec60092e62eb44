"""PLM — parallel Louvain method (multi-level modularity maximization).

Reference: networkit/cpp/community/PLM.cpp:30-316 / PLM.hpp:38-39
(defaults refine=False, gamma=1.0, maxIter=32, recurse=True).
Semantics reproduced:

- node volume vol(u) = weightedDegree(u) + w(u,u) — self-loop counted
  twice (PLM.cpp:47-51); community volume = Σ vol(u) (PLM.cpp:54-58).
- affinity(u→C) = Σ weights of edges from u to neighbors v≠u with
  label C (self-loops excluded — `if (u != v)`, PLM.cpp:100-116).
- modularity gain of moving u from its community C to neighbor
  community D (PLM.cpp:135-143):
      Δ = (aff_D − aff_C) / ω(E)
        + γ · (vol(C∖u) − vol(D)) · vol(u) / (2·ω(E)²)
  move iff Δ > 0; best D wins, ties toward the SMALLEST community id
  (std::map ascending order + strict `>` keeps the first maximum,
  PLM.cpp:147-178).
- move phase repeats sweeps until no node moves or maxIter sweeps
  (PLM.cpp:199-224); then coarsen by the partition
  (ParallelPartitionCoarsening — operators/coarsening.py), recurse on
  the coarse graph, prolong the coarse partition back (PLM.cpp:235-268,
  305-316), and optionally run a refinement move phase (refine=True,
  PLM.cpp:269-290).

Determinism: the reference's parallel move phase applies moves
asynchronously under OpenMP (atomics on community volumes) and is
nondeterministic run-to-run; its own tests assert only proper-clustering
and quality (CommunityGTest.cpp:284-305). This engine runs SYNCHRONOUS
sweeps with a seeded hash gate: in sweep t only nodes with
xxhash64(id, t) mod 8 != 0 (p = 7/8) may apply their best move. A fixed
gate oscillates (two always-gated neighbors can keep swapping forever,
each seeing the other's stale label); varying the gated subset per sweep
breaks every such cycle — exactly one of the pair moves with probability
2·p·(1−p) = 7/32 per sweep — so moves decay geometrically and the run is
still fully deterministic. p was tuned empirically on the 20k-node
mu=0.1 LFR benchmark: p = 7/8 reaches NMI 0.9323 in 4 sweeps where
p = 3/4 needed 6 for 0.9316 (denser sweeps converge faster; a fully
ungated first sweep was also tried and LOWERED final NMI — early
oscillation noise); per-sweep cost is identical (the gate is a column
filter). Convergence = two consecutive sweeps with zero moves (bounded
by max_iter).

Size gating: once a (coarse) graph is below `local_threshold` arcs, the
remaining recursion runs AS LOCAL PYTHON on the driver with the
reference's own sequential semantics (PLM parallelism="none": in-order
asynchronous moves, PLM.cpp:204-205). At 10^12-edge scale the fine
level — where all the data is — runs distributed; the contracted tail
is a few thousand supernodes where per-superstep job latency (not data)
dominates, and a driver-local solve is the right physical plan on a
real cluster too. Set local_threshold=0 to force the distributed path
end-to-end (the cross-implementation equivalence tests do).

Spark plan per sweep (all built-ins, no UDFs; the arc cache carries a
zero-affinity self row per vertex and the node volume — see
_move_phase):
    aff   = arc_cache ⋈ bcast(labels on dst) →
            groupBy(src, label).agg(Σw, own-flag, vol)   [exchange-free:
            the cache is hash(src)-partitioned]
    volC  = state.groupBy(label).sum(vol)                [tiny exchange]
    best  = aff ⋈ bcast(volC) → per-candidate score →
            groupBy(id) struct-max argmax (score desc, D asc; Δ ordering
            is score ordering + a per-node constant; own affinity, own
            community and its volume fall out of the same aggregation
            via the self row) → exact Δ for the winner →
            filter Δ > 0 ∧ gate
    state ⋈ best on id (exchange-free sort-merge) → checkpoint + counts
The per-sweep shuffle is ONLY the communities-sized volC rollup plus
the vertex-sized state re-sort; the edge-table-sized affinity
aggregation rides the cache's hash(src) layout. Coarse levels shrink
geometrically (and drop their pinned partition count with m_arcs), so
the recursion's total work is dominated by the first level.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans import local_guard
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame

# Move-gate density: in sweep t a node may apply its best move iff
# xxhash64(id, t) mod _GATE_MOD != 0 (p = 7/8). See the module docstring.
_GATE_MOD = 8


@dataclass
class PLMResult:
    labels: DataFrame  # (id: long, label: long)
    levels: int  # coarsening levels used (≥1)
    sweeps: list = field(default_factory=list)  # per-level sweep/move history

    def number_of_communities(self) -> int:
        return self.labels.select("label").distinct().count()


def _node_volumes(graph: Graph) -> DataFrame:
    """(id, vol) with vol = weightedDegree + self-loop weight again
    (PLM.cpp:47-51); 0 for isolated vertices."""
    sym = graph.symmetrized_edges()
    vols = sym.groupBy(F.col("src").alias("id")).agg(
        (
            F.sum("weight")
            + F.coalesce(
                F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))),
                F.lit(0.0),
            )
        ).alias("vol")
    )
    return (
        graph.vertices()
        .join(vols, "id", "left")
        .select("id", F.coalesce("vol", F.lit(0.0)).alias("vol"))
    )


def _move_phase(
    graph: Graph,
    labels: DataFrame | None,
    total: float,
    gamma: float,
    max_iter: int,
    m_arcs: int | None = None,
    return_arcs: bool = False,
) -> tuple:
    """Parity-gated synchronous local-move sweeps until convergence.
    Returns (labels, any_move_happened, moves_per_sweep); with
    return_arcs=True additionally returns the still-persisted arc cache
    (src, dst, w, vol) — real weights, one zero-or-self-loop-weight self
    row per non-isolated vertex — so the caller can contract the graph
    off it without rescanning the raw edge table (caller unpersists).

    labels=None means identity init (every node its own community) over
    the vertex set DERIVED from the edge table — the state then builds
    straight from the cached arc table's self rows, skipping the
    vertex-distinct + join. Only valid when the caller wants exactly the
    non-isolated vertex set (isolated vertices have no candidates and no
    self rows; callers with explicit vertex sets pass a labels frame).

    m_arcs (symmetrized arc count, if the caller already knows it) scales
    the pinned partition count to the data — ~50k arcs per partition,
    floor 8, capped at spark.sql.shuffle.partitions — so coarse levels
    don't schedule conf-many near-empty tasks per sweep. The labels are
    partition-count-invariant (exact aggregations, deterministic
    tie-breaks, hash gate)."""
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if m_arcs:
        n_part = max(8, min(n_part, (m_arcs + 49_999) // 50_000))
    # One-time arc-table assembly, hash-partitioned by src and cached.
    # Two loop-invariant columns are folded in so the per-sweep plan
    # needs only TWO references to the state (neighbor labels + community
    # volumes) instead of four:
    #   * a zero-affinity SELF row (src=dst, aff_w=0) per vertex — after
    #     the label join its group in the affinity aggregation is exactly
    #     the node's OWN community, so own label c, own affinity aff_C,
    #     and own community volume vol_C all fall out of the same
    #     aggregation that scores the candidates (no state self-join);
    #     real self-loops fold into the self row with aff_w=0 (affinity
    #     skips self-loops, PLM.cpp:100-116) but full weight for vols.
    #   * vol(src) attached per arc (volumes never change in a phase).
    # Single pass over the symmetrized table: one exchange keys it by
    # src, the per-src rollup (colocated, exchange-free) yields
    # vol(u) = weightedDegree + self-loop weight again (PLM.cpp:47-51),
    # the self rows derive from that same rollup (every non-isolated node
    # appears as src in the symmetrized table; isolated nodes have no
    # candidates and need no self row), and the final repartition pins
    # hash(src) onto the cache so every per-sweep aggregation reuses it:
    # groupBy(src, nc) is satisfied by hash(src), and its output (keyed
    # src→id) in turn satisfies groupBy(id).
    base = graph.symmetrized_edges().repartition(n_part, "src")
    per_src = base.groupBy("src").agg(
        (
            F.sum("weight")
            + F.coalesce(
                F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))),
                F.lit(0.0),
            )
        ).alias("vol"),
        F.coalesce(
            F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))),
            F.lit(0.0),
        ).alias("sw"),
    )
    # w = real weight (the self row carries the node's self-loop weight,
    # 0 if none); affinity uses w only where src != dst.
    arcs = (
        base.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.col("weight").alias("w"))
        .join(per_src.select("src", "vol"), "src")
        .unionByName(
            per_src.select(
                "src",
                F.col("src").alias("dst"),
                F.col("sw").alias("w"),
                "vol",
            )
        )
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # State carries (id, label, vol): vol is loop-invariant; keeping it in
    # the state makes the community-volume rollup a single aggregation of
    # the (cached, vertex-sized) state. The hash(id) layout matches arcs'
    # hash(src) and survives the per-sweep localCheckpoint (LogicalRDD
    # keeps outputPartitioning), so the state⋈best merge never exchanges.
    # The state checkpoint is the first action — it populates the arc
    # cache as a side effect (no separate fill job).
    self_rows = arcs.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("id"), "vol"
    )
    if labels is None:
        # identity init: the self rows ARE the vertex list — no vertex
        # distinct, no join. The explicit repartition pins hash(id) onto
        # the checkpointed state (the filter/project chain off the arc
        # cache does not advertise it), so the per-sweep merge join and
        # every successor state stay exchange-free.
        state = truncate(
            self_rows.select("id", F.col("id").alias("label"), "vol")
            .repartition(n_part, "id")
        )
    else:
        # Left join: isolated vertices (no arcs, vol 0) stay in the state.
        state = truncate(
            labels.join(self_rows, "id", "left")
            .select("id", "label", F.coalesce("vol", F.lit(0.0)).alias("vol"))
            .repartition(n_part, "id")
        )
    change = False
    moves_history: list[int] = []
    idle_sweeps = 0
    sweep = 0
    import os as _os
    import time as _time
    _dbg = _os.environ.get("PLM_DEBUG_SWEEPS")
    while sweep < max_iter and idle_sweeps < 1:
        _t0 = _time.perf_counter()
        if _dbg:
            spark.sparkContext.setJobGroup(f"plm-sweep-{sweep}", "")
        # affinity(u→C): weight from u to each neighboring community.
        # The self row marks u's own community's group (own=true) and
        # contributes 0 weight, so aff_c needs no coalesce and c/vol_cc
        # need no extra join.
        nbr_labels = state.select(F.col("id").alias("dst"), F.col("label").alias("nc"))
        vol_comm = state.groupBy("label").agg(F.sum("vol").alias("vol_d"))

        # Within one node, Δ(nc) = [aff/ω − γ·vol·vol_D/(2ω²)] + const(id)
        # (aff_C, vol, vol_C∖u are the same for every candidate of u), so
        # the per-node argmax reduces to a SCORE over (aff, vol_D) alone
        # — one hash aggregation with a lexicographic struct-max replaces
        # the window sort-shuffle and the aff_own self-join. The full Δ
        # (same formula as PLM.cpp:135-143) is recomputed for the winner
        # to apply the Δ>0 gate exactly.
        aff = (
            arcs.join(nbr_labels, "dst")
            .groupBy(F.col("src").alias("id"), F.col("nc"))
            .agg(
                F.sum(
                    F.when(F.col("src") != F.col("dst"), F.col("w")).otherwise(
                        F.lit(0.0)
                    )
                ).alias("aff"),
                F.max(F.col("src") == F.col("dst")).alias("own"),
                F.max("vol").alias("vol"),
            )
        )
        scored = aff.join(
            F.broadcast(vol_comm.withColumnRenamed("label", "nc")), "nc"
        ).withColumn(
            "score",
            F.col("aff") / total
            - gamma * F.col("vol") * F.col("vol_d") / (2.0 * total * total),
        )
        per_node = scored.groupBy("id").agg(
            F.max(F.when(F.col("own"), F.col("nc"))).alias("c"),
            F.max(F.when(F.col("own"), F.col("aff"))).alias("aff_c"),
            F.max(F.when(F.col("own"), F.col("vol_d"))).alias("vol_cc"),
            F.max("vol").alias("vol"),
            F.max(
                F.when(
                    ~F.col("own"),
                    F.struct(
                        F.col("score"),
                        (-F.col("nc")).alias("neg_nc"),  # ties → smallest nc
                        F.col("nc"),
                        F.col("aff").alias("aff_d"),
                        F.col("vol_d"),
                    ),
                )
            ).alias("best"),
        )
        # `improvable` = ungated candidate (Δ>0 best); the xxhash parity
        # gate only throttles which half MOVES this sweep. Idleness is
        # judged on the UNGATED set: a sweep where every improvable node
        # happened to hash odd must not terminate the phase (the
        # reference converges only when NO node can improve).
        best = (
            per_node.filter(F.col("best").isNotNull())
            .withColumn(
                "delta",
                (F.col("best.aff_d") - F.col("aff_c")) / total
                + gamma
                * ((F.col("vol_cc") - F.col("vol")) - F.col("best.vol_d"))
                * F.col("vol")
                / (2.0 * total * total),
            )
            .filter(F.col("delta") > 0)
            .withColumn(
                "gate",
                F.pmod(F.xxhash64("id", F.lit(sweep)), _GATE_MOD) != 0,
            )
            .select("id", F.col("best.nc").alias("new_label"), "gate")
        )

        # best inherits hash(id) from the affinity aggregation (id is an
        # alias of src), so the merge is an exchange-free sort-merge join
        # that FUSES with the candidate chain into one stage graph — a
        # broadcast here would add a sequential collect barrier instead.
        merged = state.join(best, "id", "left").select(
            "id",
            F.when(F.col("gate"), F.col("new_label"))
            .otherwise(F.col("label"))
            .alias("label"),
            "vol",
            F.coalesce("gate", F.lit(False)).alias("moved"),
            F.col("new_label").isNotNull().alias("improvable"),
        )
        if _dbg and sweep == 0 and _os.environ.get("PLM_EXPLAIN"):
            merged.explain("formatted")
        # One job computes the sweep, truncates lineage, populates the
        # cache and counts the convergence counters. (A plain persist
        # would preserve the merge join's partitioning/ordering for the
        # next sweep — but un-truncated per-sweep plans grow
        # exponentially in analysis cost; measured: 4 plain-persist
        # sweeps ran 8× slower than 4 checkpointed ones. The checkpoint
        # costs one 20k-row exchange + sort per sweep instead.)
        merged, counts = materialize(
            merged,
            {"nm": F.count_if("moved"), "ni": F.count_if("improvable")},
            release=state,
        )
        n_moved, n_improvable = counts["nm"], counts["ni"]
        # The whole materialized frame stays the state (every use selects
        # its columns), so the next sweep's release really frees it.
        state = merged
        moves_history.append(n_moved)
        if _dbg:
            tracker = spark.sparkContext.statusTracker()
            jobs = tracker.getJobIdsForGroup(f"plm-sweep-{sweep}")
            n_stages = sum(
                len(tracker.getJobInfo(j).stageIds) for j in jobs
            )
            print(
                f"    sweep {sweep}: {_time.perf_counter() - _t0:.2f}s"
                f" moved={n_moved} jobs={len(jobs)} stages={n_stages}",
                flush=True,
            )
            spark.sparkContext.setJobGroup("", "")
        if n_moved > 0:
            change = True
        if n_improvable > 0:
            idle_sweeps = 0
        else:
            # No node can improve → the state is a local optimum; one
            # idle sweep is conclusive (the next sweep would recompute
            # the identical candidate set from the identical state).
            idle_sweeps += 1
        sweep += 1

    if return_arcs:
        return state.select("id", "label"), change, moves_history, arcs
    arcs.unpersist()
    return state.select("id", "label"), change, moves_history


# --------------------------------------------------------------- local tail
def _local_louvain(
    arcs: list[tuple[int, int, float]],
    node_ids: list[int],
    gamma: float,
    max_iter: int,
    refine: bool,
) -> dict[int, int]:
    """Reference-faithful sequential Louvain on a collected arc list
    (PLM.cpp with parallelism="none": in-order asynchronous moves,
    smallest-community tie-break, Δ>0 gate, coarsen+recurse+prolong).
    `arcs` is the symmetrized table: both directions per undirected edge,
    self-loops once."""
    adj: dict[int, dict[int, float]] = {u: {} for u in node_ids}
    total = 0.0
    for u, v, w in arcs:
        adj.setdefault(u, {})
        adj.setdefault(v, {})
        adj[u][v] = adj[u].get(v, 0.0) + w
        total += w if u == v else w / 2.0
    if total <= 0:
        return {u: u for u in adj}

    vol = {
        u: sum(nbrs.values()) + nbrs.get(u, 0.0) for u, nbrs in adj.items()
    }  # self-loop twice (PLM.cpp:47-51)
    label = {u: u for u in adj}
    vol_comm = dict(vol)
    divisor = 2.0 * total * total

    def move_phase() -> bool:
        change = False
        moved = True
        it = 0
        order = sorted(adj)
        # it < max_iter: same sweep bound as the distributed _move_phase
        # and PLM.cpp's maxIter.
        while moved and it < max_iter:
            moved = False
            for u in order:
                c = label[u]
                aff: dict[int, float] = {}
                for v, w in adj[u].items():
                    if v != u:
                        d = label[v]
                        aff[d] = aff.get(d, 0.0) + w
                aff_c = aff.get(c, 0.0)
                vol_u = vol[u]
                vol_c_minus = vol_comm[c] - vol_u
                best, delta_best = None, -1.0
                for d in sorted(aff):  # ascending = std::map order
                    if d == c:
                        continue
                    delta = (aff[d] - aff_c) / total + gamma * (
                        (vol_c_minus - vol_comm[d]) * vol_u
                    ) / divisor
                    if delta > delta_best:
                        delta_best, best = delta, d
                if best is not None and delta_best > 0:
                    label[u] = best
                    vol_comm[c] -= vol_u
                    vol_comm[best] = vol_comm.get(best, 0.0) + vol_u
                    moved = True
                    change = True
            it += 1
        return change

    change = move_phase()
    if change and len(set(label.values())) < len(adj):
        # coarsen: supernode per community (intra once + self-loops once)
        coarse_arcs: dict[tuple[int, int], float] = {}
        for u, nbrs in adj.items():
            cu = label[u]
            for v, w in nbrs.items():
                cv = label[v]
                if cu != cv:
                    coarse_arcs[(cu, cv)] = coarse_arcs.get((cu, cv), 0.0) + w
                else:
                    coarse_arcs[(cu, cu)] = coarse_arcs.get((cu, cu), 0.0) + (
                        w if u == v else w / 2.0
                    )
        coarse_ids = sorted(set(label.values()))
        sub = _local_louvain(
            [(u, v, w) for (u, v), w in coarse_arcs.items()],
            coarse_ids,
            gamma,
            max_iter,
            refine=False,
        )
        label = {u: sub[c] for u, c in label.items()}  # prolong
        if refine:
            vol_comm.clear()
            for u in adj:
                vol_comm[label[u]] = vol_comm.get(label[u], 0.0) + vol[u]
            move_phase()
    return label


def plm(
    graph: Graph,
    refine: bool = False,
    gamma: float = 1.0,
    max_iter: int = 32,
    base_labels: DataFrame | None = None,
    local_threshold: int = 100_000,
    local_max_bytes: int = local_guard.DEFAULT_MAX_LOCAL_BYTES,
    _depth: int = 0,
) -> PLMResult:
    """Multi-level Louvain (PLM.cpp run(), defaults per PLM.hpp:38-39).
    Labels in the result are fine-graph community ids (arbitrary longs,
    canonical under relabeling like the reference's Partition ids).

    The driver-local tail engages only when the arc count is under
    `local_threshold` AND the estimated driver payload (2× arcs for the
    symmetrization, Row overhead included) fits in `local_max_bytes`;
    otherwise the distributed path runs regardless of row count, and
    every engagement is logged (networkit_spark.local_tail)."""
    spark = graph.edges.sparkSession
    m_arcs = graph.edges.count() if local_threshold else None
    if (
        local_threshold
        and m_arcs <= local_threshold
        and 2 * m_arcs * local_guard.ARC_ROW_BYTES <= local_max_bytes
    ):
        local_guard.log_local_tail(
            "plm", 2 * m_arcs, 2 * m_arcs * local_guard.ARC_ROW_BYTES
        )
        sym = graph.symmetrized_edges()
        arcs = [(r["src"], r["dst"], r["weight"]) for r in sym.collect()]
        node_ids = [r["id"] for r in graph.vertices().collect()]
        if base_labels is None:
            result = _local_louvain(arcs, node_ids, gamma, max_iter, refine)
        else:
            # base clustering: contract by it first, solve, prolong
            base = {r["id"]: r["label"] for r in base_labels.collect()}
            coarse_arcs: dict[tuple[int, int], float] = {}
            for u, v, w in arcs:
                cu, cv = base[u], base[v]
                if cu != cv:
                    coarse_arcs[(cu, cv)] = coarse_arcs.get((cu, cv), 0.0) + w
                else:
                    coarse_arcs[(cu, cu)] = coarse_arcs.get((cu, cu), 0.0) + (
                        w if u == v else w / 2.0
                    )
            sub = _local_louvain(
                [(u, v, w) for (u, v), w in coarse_arcs.items()],
                sorted(set(base.values())),
                gamma,
                max_iter,
                refine,
            )
            result = {u: sub[c] for u, c in base.items()}
        labels_df = local_frame(
            spark, [(int(u), int(l)) for u, l in sorted(result.items())], "id long, label long"
        )
        return PLMResult(labels=labels_df, levels=1, sweeps=[["local"]])

    total = graph.total_edge_weight()
    if total <= 0:
        # Edgeless graph: singletons (no move can ever have positive gain).
        return PLMResult(
            labels=graph.vertices().select("id", F.col("id").alias("label")),
            levels=1,
            sweeps=[[]],
        )

    if base_labels is not None:
        init = base_labels.select("id", "label")
    elif graph._vertices is not None:
        init = graph.vertices().select("id", F.col("id").alias("label"))
    else:
        init = None  # identity init straight off the arc cache

    labels, change, moves, arcs = _move_phase(
        graph, init, total, gamma, max_iter, m_arcs=m_arcs, return_arcs=True
    )
    sweeps = [moves]
    levels = 1

    if change and _depth < 32:
        # contracted ⇔ #communities < #labeled vertices; one aggregation
        # of the (cached) move-phase state.
        stats = labels.agg(
            F.count_distinct("label").alias("k"), F.count(F.lit(1)).alias("n")
        ).first()
        contracted = int(stats["k"]) < int(stats["n"])
    else:
        contracted = False
    if change and contracted and _depth < 32:
        # Internal contraction for the recursion: coarse node ids are the
        # RAW label values (no Partition::compact rank — the recursion
        # doesn't need dense ids, and the exposed `coarsen` operator keeps
        # the reference-faithful compaction for its own callers), and the
        # fine→coarse mapping IS the labels frame, already materialized by
        # the move phase. The arc cache from the move phase supplies real
        # weights, so the contraction never rescans the raw edge table;
        # its synthetic zero-weight self rows contribute nothing. Each
        # fine undirected edge appears twice (half weight each), fine
        # self-loops once — ParallelPartitionCoarsening.cpp:43 semantics.
        cu = labels.select(F.col("id").alias("src"), F.col("label").alias("cu"))
        cv = labels.select(F.col("id").alias("dst"), F.col("label").alias("cv"))
        coarse_edges = truncate(
            arcs.join(cu, "src")
            .join(cv, "dst")
            .groupBy(F.col("cu").alias("src"), F.col("cv").alias("dst"))
            .agg(
                F.sum(
                    F.when(F.col("cu") != F.col("cv"), F.col("w")).otherwise(
                        F.when(
                            F.col("src") == F.col("dst"), F.col("w")
                        ).otherwise(F.col("w") / 2.0)
                    )
                ).alias("weight")
            )
        )
        arcs.unpersist()
        coarse_graph = Graph.from_edges(
            coarse_edges,
            directed=False,
            weighted=True,
            already_symmetrized=True,
        )
        sub = plm(coarse_graph, refine=False, gamma=gamma, max_iter=max_iter,
                  local_threshold=local_threshold,
                  local_max_bytes=local_max_bytes, _depth=_depth + 1)
        levels += sub.levels
        sweeps.extend(sub.sweeps)
        # Prolong: fine label = coarse community of the fine label's
        # supernode. LEFT join + coalesce keeps vertices whose singleton
        # supernode was isolated on the coarse graph (absent from its
        # derived vertex set): they keep their own label, which no other
        # community can have adopted (community ids are member node ids).
        sub_map = sub.labels.select(
            F.col("id").alias("label"), F.col("label").alias("sub_label")
        )
        labels = labels.join(sub_map, "label", "left").select(
            "id", F.coalesce("sub_label", "label").alias("label")
        )
        if refine:
            labels, _, refine_moves = _move_phase(
                graph, labels, total, gamma, max_iter, m_arcs=m_arcs
            )
            sweeps.append(refine_moves)
        labels = truncate(labels)
        coarse_edges.unpersist()
    else:
        arcs.unpersist()

    return PLMResult(labels=labels.select("id", "label"), levels=levels, sweeps=sweeps)
