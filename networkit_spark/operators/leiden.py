"""Leiden community detection (Louvain + refinement guaranteeing
internally connected communities).

Reference: networkit/cpp/community/ParallelLeiden.cpp (Traag et al.
2019, "From Louvain to Leiden"). Its own test asserts only
isProperClustering (CommunityGTest.cpp:306-328); this engine asserts
that plus the algorithm's defining guarantee — every community induces a
CONNECTED subgraph — and planted-structure recovery.

Phases per level:
1. MOVE: modularity local-move sweeps (exactly PLM's move phase —
   operators/plm.py, same gain formula PLM.cpp:135-143).
2. REFINE: within each move-phase community, restart from singletons and
   let each node merge AT MOST ONCE into a refined sub-community of a
   neighbor IN THE SAME parent community, taking the best positive
   modularity gain (deterministic ascending node order; the reference
   randomizes). Because every merge follows an incident intra-parent
   edge and refined communities only ever grow (a community that has
   absorbed a merge LOCKS its root in place — only still-singleton
   nodes move), each refined community is connected by construction —
   the Leiden property. _connectify additionally enforces the guarantee
   on the final labels unconditionally.
3. CONTRACT by the refined partition (operators/coarsening.py) and
   recurse with the parent community of each supernode as the coarse
   level's starting partition (Leiden keeps P as the initial partition
   of the aggregate graph).

Spark shape: the refinement is `applyInPandas` over parent communities —
each group holds one parent community's intra-edges plus its nodes'
global volumes, so the sequential single-pass merge runs vectorized per
group while all parents refine in parallel (grouped-map over the
partition key = the reference's per-community parallelism). Global
quantities (total edge weight, node volumes) ride along as columns, so
gains are computed against the FULL graph's modularity functional, not
per-group approximations. The move phase and contraction reuse the
audited PLM plans (one edge-table shuffle per sweep, broadcast
community tables)."""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.coarsening import coarsen, prolong
from networkit_spark.operators.plm import _local_louvain, _move_phase, _node_volumes
from networkit_spark.plans import local_guard
from networkit_spark.plans.iterative import truncate
from networkit_spark.session import local_frame


@dataclass
class LeidenResult:
    labels: DataFrame  # (id: long, label: long)
    levels: int
    sweeps: list = field(default_factory=list)

    def number_of_communities(self) -> int:
        return self.labels.select("label").distinct().count()


def _refine_group(pdf: pd.DataFrame, gamma: float, total: float) -> pd.DataFrame:
    """Single-pass constrained merge for ONE parent community.

    Input rows: one per intra-parent arc (u, v, w) plus one (u, u, 0)
    marker per node so isolated-within-parent nodes appear; columns
    vol_u = global volume of u. Returns (id, refined) labels."""
    nodes: dict[int, float] = {}
    adj: dict[int, dict[int, float]] = {}
    for u, v, w, vol_u in zip(
        pdf["u"].to_numpy(), pdf["v"].to_numpy(), pdf["w"].to_numpy(),
        pdf["vol_u"].to_numpy(),
    ):
        u, v = int(u), int(v)
        nodes.setdefault(u, float(vol_u))
        adj.setdefault(u, {})
        if u != v or w > 0:
            if v != u:
                adj[u][v] = adj[u].get(v, 0.0) + float(w)

    label = {u: u for u in nodes}
    vol_comm = dict(nodes)  # refined-community volume, starts singleton
    # A community that has absorbed a merge is LOCKED: its root node may
    # no longer move away (Leiden only moves nodes that are still
    # singletons in the refined partition). Without the lock, a root
    # leaving after absorbing members could strand them in a community
    # that is no longer internally connected.
    locked: set[int] = set()
    divisor = 2.0 * total * total
    for u in sorted(nodes):
        if u in locked or label[u] != u:
            continue
        # affinity to each refined community among intra-parent neighbors
        aff: dict[int, float] = {}
        for v, w in adj.get(u, {}).items():
            d = label[v]
            aff[d] = aff.get(d, 0.0) + w
        c = label[u]
        aff_c = aff.get(c, 0.0)
        vol_u = nodes[u]
        vol_c_minus = vol_comm[c] - vol_u
        best, delta_best = None, 0.0
        for d in sorted(aff):
            if d == c:
                continue
            delta = (aff[d] - aff_c) / total + gamma * (
                (vol_c_minus - vol_comm[d]) * vol_u
            ) / divisor
            if delta > delta_best:
                delta_best, best = delta, d
        if best is not None:
            vol_comm[c] -= vol_u
            vol_comm[best] += vol_u
            label[u] = best
            locked.add(best)
    return pd.DataFrame(
        {"id": list(label.keys()), "refined": list(label.values())}
    )


# One refine group (a move-phase parent community's intra-edges) must fit
# in a single executor's memory for the grouped-map kernel. Parents above
# this node count are hash-split into sub-parents refined independently —
# a stricter merge constraint (still a valid Leiden refinement: every
# merge follows an intra-group edge, so connectivity-by-construction
# holds; quality can only degrade gracefully on the split giants).
REFINE_GROUP_CAP = 2_000_000


def _refine(
    graph: Graph,
    labels: DataFrame,
    gamma: float,
    total: float,
    group_cap: int = REFINE_GROUP_CAP,
) -> DataFrame:
    """(id, refined) — grouped-map refinement over parent communities
    (hash-split above group_cap nodes so one giant move-phase community
    can't exceed executor memory)."""
    vol_node = _node_volumes(graph)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("psize"))
    nl = labels.join(sizes, "label").select(
        "id",
        F.col("label").alias("parent"),
        F.when(F.col("psize") <= group_cap, F.lit(0))
        .otherwise(
            F.pmod(
                F.xxhash64("id"),
                F.ceil(F.col("psize") / F.lit(group_cap)).cast("long"),
            )
        )
        .cast("long")
        .alias("salt"),
    )
    lab_u = nl.select(F.col("id").alias("u"), "parent", F.col("salt").alias("su"))
    lab_v = nl.select(
        F.col("id").alias("v"), F.col("parent").alias("pv"), F.col("salt").alias("sv")
    )
    sym = graph.symmetrized_edges().filter(F.col("src") != F.col("dst"))
    intra = (
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("weight").alias("w"))
        .join(lab_u, "u")
        .join(lab_v, "v")
        .filter((F.col("parent") == F.col("pv")) & (F.col("su") == F.col("sv")))
        .select("parent", F.col("su").alias("salt"), "u", "v", "w")
    )
    markers = nl.select(
        "parent",
        "salt",
        F.col("id").alias("u"),
        F.col("id").alias("v"),
        F.lit(0.0).alias("w"),
    )
    rows = intra.unionByName(markers).join(
        vol_node.select(F.col("id").alias("u"), F.col("vol").alias("vol_u")), "u"
    )

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _refine_group(pdf, gamma, total)

    return rows.groupBy("parent", "salt").applyInPandas(
        apply_fn, schema="id long, refined long"
    )


def _connectify(graph: Graph, labels: DataFrame) -> DataFrame:
    """Split every community into its intra-edge connected parts (labels
    = hash-min CC of the community-induced subgraph). Enforces the
    Leiden guarantee unconditionally, and never lowers modularity:
    coverage is unchanged while the Σ(vol/2m)² penalty strictly shrinks
    when a disconnected community splits."""
    from networkit_spark.operators.components import connected_components

    lu = labels.select(F.col("id").alias("src"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("dst"), F.col("label").alias("lv"))
    intra = (
        graph.symmetrized_edges()
        .join(lu, "src")
        .join(lv, "dst")
        .filter(F.col("lu") == F.col("lv"))
        .select("src", "dst")
    )
    sub = Graph.from_edges(
        intra, directed=False, already_symmetrized=True,
        vertices=labels.select("id"),
    )
    return connected_components(sub).labels


def leiden(
    graph: Graph,
    gamma: float = 1.0,
    max_iter: int = 32,
    local_threshold: int = 100_000,
    local_max_bytes: int = local_guard.DEFAULT_MAX_LOCAL_BYTES,
    _depth: int = 0,
) -> LeidenResult:
    """Deterministic Leiden; labels canonical up to relabeling.

    Driver-local tail engages only under BOTH the arc-count threshold
    and the `local_max_bytes` estimated-payload cap, and logs when it
    does (see plans/local_guard.py)."""
    total = graph.total_edge_weight()
    if total <= 0:
        return LeidenResult(
            labels=graph.vertices().select("id", F.col("id").alias("label")),
            levels=1,
        )

    m_arcs = graph.edges.count() if local_threshold else None
    if (
        local_threshold
        and m_arcs <= local_threshold
        and 2 * m_arcs * local_guard.ARC_ROW_BYTES <= local_max_bytes
    ):
        # driver-local tail: Louvain move + the same single-pass
        # constrained refinement, sequential (reference-style semantics)
        local_guard.log_local_tail(
            "leiden", 2 * m_arcs, 2 * m_arcs * local_guard.ARC_ROW_BYTES
        )
        sym = graph.symmetrized_edges()
        arcs = [(r["src"], r["dst"], r["weight"]) for r in sym.collect()]
        node_ids = [r["id"] for r in graph.vertices().collect()]
        label = _local_leiden(arcs, node_ids, gamma, max_iter)
        spark = graph.edges.sparkSession
        labels_df = local_frame(
            spark, [(int(u), int(l)) for u, l in sorted(label.items())],
            "id long, label long",
        )
        if _depth == 0:
            labels_df = _connectify(graph, labels_df)
        return LeidenResult(labels=labels_df, levels=1, sweeps=[["local"]])

    init = graph.vertices().select("id", F.col("id").alias("label"))
    labels, change, moves = _move_phase(graph, init, total, gamma, max_iter)
    sweeps = [moves]
    levels = 1

    refined = truncate(_refine(graph, labels, gamma, total))
    n_refined = refined.select("refined").distinct().count()
    if change and n_refined < graph.num_vertices() and _depth < 32:
        coarse_graph, mapping = coarsen(
            graph, refined.select("id", F.col("refined").alias("label"))
        )
        mapping = truncate(mapping)
        # Snapshot the coarse level: its edge table feeds the recursion's
        # size gate plus either the arc collect (local tail) or the next
        # move phase — uncached, each replays the contraction shuffle.
        coarse_graph = replace(
            coarse_graph,
            edges=truncate(coarse_graph.edges),
            _vertices=truncate(coarse_graph.vertices()),
        )
        # the aggregate level restarts its move phase from singletons (a
        # simplification vs Traag's keep-P initialization; the
        # connectivity guarantee and contraction monotonicity hold — the
        # move phase can only improve modularity from any start)
        sub = leiden(coarse_graph, gamma=gamma, max_iter=max_iter,
                     local_threshold=local_threshold,
                     local_max_bytes=local_max_bytes, _depth=_depth + 1)
        levels += sub.levels
        sweeps.extend(sub.sweeps)
        labels = truncate(prolong(sub.labels, mapping), release=mapping)
        coarse_graph.edges.unpersist()
        coarse_graph.vertices().unpersist()

    labels = labels.select("id", "label")
    if _depth == 0:
        labels = _connectify(graph, labels)
    return LeidenResult(labels=labels, levels=levels, sweeps=sweeps)


def _local_leiden(arcs, node_ids, gamma: float, max_iter: int) -> dict[int, int]:
    """Driver-local Leiden level loop (move → refine → contract)."""
    adj: dict[int, dict[int, float]] = {u: {} for u in node_ids}
    total = 0.0
    for u, v, w in arcs:
        adj.setdefault(u, {})
        adj.setdefault(v, {})
        adj[u][v] = adj[u].get(v, 0.0) + w
        total += w if u == v else w / 2.0
    if total <= 0:
        return {u: u for u in adj}

    vol = {u: sum(n.values()) + n.get(u, 0.0) for u, n in adj.items()}
    divisor = 2.0 * total * total

    # move phase: reuse the sequential Louvain single level (no recursion)
    parent = _louvain_move_local(adj, vol, total, gamma, max_iter)

    # refine: singletons, merge once, constrained to parent; a community
    # that absorbed a merge is locked (its root may not move away).
    refined = {u: u for u in adj}
    vol_ref = dict(vol)
    locked: set[int] = set()
    for u in sorted(adj):
        if u in locked or refined[u] != u:
            continue
        aff: dict[int, float] = {}
        for v, w in adj[u].items():
            if v != u and parent[v] == parent[u]:
                d = refined[v]
                aff[d] = aff.get(d, 0.0) + w
        c = refined[u]
        aff_c = aff.get(c, 0.0)
        vol_c_minus = vol_ref[c] - vol[u]
        best, delta_best = None, 0.0
        for d in sorted(aff):
            if d == c:
                continue
            delta = (aff[d] - aff_c) / total + gamma * (
                (vol_c_minus - vol_ref[d]) * vol[u]
            ) / divisor
            if delta > delta_best:
                delta_best, best = delta, d
        if best is not None:
            vol_ref[c] -= vol[u]
            vol_ref[best] += vol[u]
            refined[u] = best
            locked.add(best)

    n_ref = len(set(refined.values()))
    if n_ref == len(adj):
        return parent  # no contraction possible — the move result stands

    # contract by refined; coarse initial partition = parent of supernode
    coarse_arcs: dict[tuple[int, int], float] = {}
    for u, nbrs in adj.items():
        cu = refined[u]
        for v, w in nbrs.items():
            cv = refined[v]
            if cu != cv:
                coarse_arcs[(cu, cv)] = coarse_arcs.get((cu, cv), 0.0) + w
            else:
                coarse_arcs[(cu, cu)] = coarse_arcs.get((cu, cu), 0.0) + (
                    w if u == v else w / 2.0
                )
    sub = _local_leiden(
        [(a, b, w) for (a, b), w in coarse_arcs.items()],
        sorted(set(refined.values())),
        gamma,
        max_iter,
    )
    return {u: sub[refined[u]] for u in adj}


def _louvain_move_local(adj, vol, total, gamma, max_iter) -> dict[int, int]:
    """One sequential Louvain move phase (PLM.cpp parallelism="none")."""
    label = {u: u for u in adj}
    vol_comm = dict(vol)
    divisor = 2.0 * total * total
    moved_any = True
    it = 0
    # it < max_iter: same sweep bound as _move_phase and PLM.cpp maxIter.
    while moved_any and it < max_iter:
        moved_any = False
        for u in sorted(adj):
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
            for d in sorted(aff):
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
                moved_any = True
        it += 1
    return label
