"""GedWalk group centrality (Angriman et al., ALENEX'20).

Reference: cpp/centrality/GedWalk.cpp, include/.../GedWalk.hpp.
Score of a group S:  GED(S) = Σ_{ℓ≥1} α^ℓ · φ_ℓ(S),  φ_ℓ(S) = number of
(weighted) length-ℓ walks that visit S. Computed by the hit/miss
recursion over walk endpoints (GedWalk.cpp:298-345):
  hit_ℓ[u]  = Σ_{v→u} w · (hit_{ℓ-1}[v] + miss_{ℓ-1}[v]·[u∈S])
              + Σ_{v→u} w · hit_{ℓ-1}[v]·[u∉S]     (folded below)
  miss_ℓ[u] = [u∉S] · Σ_{v→u} w · miss_{ℓ-1}[v]
truncated at nLevels with a geometric tail bound
  bound = score + α^{L+1}·γ·W_L,  γ = degInMax/(1−α·degInMax)
(GEOMETRIC) or γ' = (degOutMax+degInMax)/(1−α·(degOutMax+degInMax))
applied to the group's own walk count (ADAPTIVE_GEOMETRIC)
(GedWalk.cpp:375-385). The greedy grows S to k nodes with lazy
marginal-gain evaluation and ε-separation, giving the standard
(1−1/e)·OPT − ε guarantee (GedWalk.cpp:548-662).

Spark shape
-----------
Every expensive primitive is a whole-graph SpMV sweep — exactly the
engine's Katz/PageRank gather: one `arcs ⋈ state` join + groupBy-sum
per level, per-node state only.
- evaluate_group / graph walk counts: (u, hit, miss, acc) DataFrame,
  L supersteps.
- marginal gains are evaluated for a BATCH of candidates in ONE
  multi-candidate sweep — state (z, u, hit, miss, acc) keyed by
  candidate, the repo's multi-source batching pattern (the reference
  evaluates one candidate per sweep, GedWalk.cpp:347-406; batching
  changes scheduling, not semantics — every accepted node still passes
  the same exact ε-separation test).
- the initial gain estimates (prefix×suffix walk products,
  GedWalk.cpp:149-243) stay distributed; only the top-C candidates by
  bound are pulled to the driver. Candidates never pulled are covered
  by the separation check against the C-th bound (cutoff); if the
  winner cannot separate from the cutoff, the level count grows
  (tightening estimates and tail) until it can — at web scale the
  driver holds O(C), never O(n).

SPECTRAL bound (σmax power iteration) is not implemented — GEOMETRIC
(the reference default) and ADAPTIVE_GEOMETRIC are; passing
"spectral" raises.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame

_MAX_LEVELS = 60


def _degree_maxima(graph: Graph) -> tuple[float, float]:
    """(degOutMax, degInMax) — unweighted degrees like GraphTools::
    maxDegree (GedWalk.cpp:92-93)."""
    out_max = (
        graph.edges.groupBy("src").count().agg(F.max("count")).first()[0] or 0
    )
    if graph.directed:
        in_max = (
            graph.edges.groupBy("dst").count().agg(F.max("count")).first()[0]
            or 0
        )
    else:
        in_max = out_max
    return float(out_max), float(in_max)


def _resolve_alpha(
    alpha: float | None, bound_strategy: str, out_max: float, in_max: float
) -> float:
    if bound_strategy not in ("geometric", "adaptive_geometric"):
        raise ValueError(
            "bound_strategy must be 'geometric' or 'adaptive_geometric' "
            "(the spectral bound's sigma-max iteration is not implemented)"
        )
    if alpha is not None and alpha > 0:
        return float(alpha)
    if bound_strategy == "geometric":
        return 1.0 / (1.0 + in_max)  # GedWalk.cpp:122
    return 1.0 / (1.0 + out_max + in_max)  # GedWalk.cpp:125


def _gamma(bound_strategy: str, alpha: float, out_max: float, in_max: float) -> float:
    if bound_strategy == "geometric":
        return in_max / (1.0 - alpha * in_max)  # GedWalk.cpp:223
    s = out_max + in_max
    return s / (1.0 - alpha * s)  # computeGamma, GedWalk.cpp:143-146


class _Sweeper:
    """Shared join machinery over the persisted arc/vertex tables."""

    def __init__(self, graph: Graph):
        self.graph = graph
        self.arcs = graph.edges.select(
            "src", "dst",
            (F.col("weight") if graph.weighted else F.lit(1.0)).alias("w"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self.arcs.count()
        self.vertices = graph.vertices().persist(StorageLevel.MEMORY_AND_DISK)
        self.vertices.count()
        self.spark = graph.edges.sparkSession

    def close(self) -> None:
        self.arcs.unpersist()
        self.vertices.unpersist()

    # ------------------------------------------------------------ kernels
    def graph_walks_w(self, levels: int) -> float:
        """evaluateGraph().w — total weighted walk count of length
        `levels` (GedWalk.cpp:246-295)."""
        state = self.vertices.select(
            F.col("id").alias("u"), F.lit(1.0).alias("h")
        )
        for _ in range(levels):
            state = (
                self.arcs.join(state, self.arcs.src == state.u)
                .groupBy(F.col("dst").alias("nu"))
                .agg(F.sum(F.col("w") * F.col("h")).alias("h"))
                .select(F.col("nu").alias("u"), "h")
            )
        return float(state.agg(F.sum("h")).first()[0] or 0.0)

    def group_eval(
        self, group: set[int], levels: int, alphas: list[float]
    ) -> tuple[float, float]:
        """evaluateGroup (GedWalk.cpp:298-345): (score, w) of the fixed
        group at `levels` levels."""
        in_g = F.col("id").isin(*group) if group else F.lit(False)
        state = self.vertices.select(
            F.col("id").alias("u"),
            F.when(in_g, 1.0).otherwise(0.0).alias("hit"),
            F.when(in_g, 0.0).otherwise(1.0).alias("miss"),
            F.lit(0.0).alias("acc"),
        )
        prev = None
        for i in range(1, levels + 1):
            msgs = (
                self.arcs.join(state, self.arcs.src == state.u)
                .groupBy(F.col("dst").alias("nu"))
                .agg(
                    F.sum(F.col("w") * F.col("hit")).alias("hit_in"),
                    F.sum(F.col("w") * F.col("miss")).alias("miss_in"),
                )
            )
            nin_g = F.col("nu").isin(*group) if group else F.lit(False)
            nxt = (
                state.join(msgs, state.u == msgs.nu, "left")
                .select(
                    "u",
                    F.when(
                        nin_g,
                        F.coalesce("hit_in", F.lit(0.0))
                        + F.coalesce("miss_in", F.lit(0.0)),
                    )
                    .otherwise(F.coalesce("hit_in", F.lit(0.0)))
                    .alias("hit"),
                    F.when(nin_g, F.lit(0.0))
                    .otherwise(F.coalesce("miss_in", F.lit(0.0)))
                    .alias("miss"),
                    "acc",
                )
                .withColumn("acc", F.col("acc") + F.lit(alphas[i]) * F.col("hit"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            nxt.count()
            if prev is not None:
                prev.unpersist()
            prev = nxt
            state = nxt
        row = state.agg(
            F.sum("acc").alias("score"), F.sum("hit").alias("w")
        ).first()
        if prev is not None:
            prev.unpersist()
        return float(row["score"] or 0.0), float(row["w"] or 0.0)

    def batched_gains(
        self,
        group: set[int],
        cands: list[int],
        levels: int,
        alphas: list[float],
    ) -> dict[int, tuple[float, float]]:
        """computeMarginalGain for a whole candidate batch in one
        multi-candidate sweep: {z: (score(S∪{z}), w(S∪{z}))}."""
        cdf = F.broadcast(
            local_frame(self.spark, [(c,) for c in cands], "z long")
        )
        in_g = (
            (F.col("id").isin(*group) if group else F.lit(False))
            | (F.col("id") == F.col("z"))
        )
        state = self.vertices.crossJoin(cdf).select(
            "z",
            F.col("id").alias("u"),
            F.when(in_g, 1.0).otherwise(0.0).alias("hit"),
            F.when(in_g, 0.0).otherwise(1.0).alias("miss"),
            F.lit(0.0).alias("acc"),
        )
        prev = None
        for i in range(1, levels + 1):
            msgs = (
                self.arcs.join(state, self.arcs.src == state.u)
                .groupBy(F.col("z").alias("nz"), F.col("dst").alias("nu"))
                .agg(
                    F.sum(F.col("w") * F.col("hit")).alias("hit_in"),
                    F.sum(F.col("w") * F.col("miss")).alias("miss_in"),
                )
            )
            nin_g = (
                (F.col("nu").isin(*group) if group else F.lit(False))
                | (F.col("nu") == F.col("nz"))
            )
            u_in_g = (
                (F.col("u").isin(*group) if group else F.lit(False))
                | (F.col("u") == state.z)
            )
            _ = nin_g
            nxt = (
                state.join(
                    msgs,
                    (state.z == msgs.nz) & (state.u == msgs.nu),
                    "left",
                )
                .select(
                    state.z.alias("z"),
                    "u",
                    F.when(
                        u_in_g,
                        F.coalesce("hit_in", F.lit(0.0))
                        + F.coalesce("miss_in", F.lit(0.0)),
                    )
                    .otherwise(F.coalesce("hit_in", F.lit(0.0)))
                    .alias("hit"),
                    F.when(u_in_g, F.lit(0.0))
                    .otherwise(F.coalesce("miss_in", F.lit(0.0)))
                    .alias("miss"),
                    "acc",
                )
                .withColumn("acc", F.col("acc") + F.lit(alphas[i]) * F.col("hit"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            nxt.count()
            if prev is not None:
                prev.unpersist()
            prev = nxt
            state = nxt
        rows = (
            state.groupBy("z")
            .agg(F.sum("acc").alias("score"), F.sum("hit").alias("w"))
            .collect()
        )
        if prev is not None:
            prev.unpersist()
        return {
            int(r["z"]): (float(r["score"] or 0.0), float(r["w"] or 0.0))
            for r in rows
        }

    def estimate_gains(
        self,
        group: set[int],
        levels: int,
        alphas: list[float],
        top_c: int,
    ) -> tuple[list[tuple[int, float, float, float]], float]:
        """estimateGains (GedWalk.cpp:149-243): per-node prefix×suffix
        walk products avoiding the group → (score_est, w) upper bounds.
        Returns the top_c rows by raw score estimate plus the (top_c+1)-th
        score estimate as the cutoff for never-pulled candidates (the
        bound is finished driver-side per strategy). Distributed: the
        per-level out/in vectors are array columns; only top_c rows are
        collected."""
        in_g = F.col("id").isin(*group) if group else F.lit(False)
        base = F.when(in_g, 0.0).otherwise(1.0)
        persisted: list[DataFrame] = []
        outs = self.vertices.select(
            F.col("id").alias("u"), F.array(base).alias("outs")
        )
        for i in range(1, levels + 1):
            lastv = outs.select(
                "u", F.element_at("outs", -1).alias("val")
            )
            # out-walks extend u→v: gather over OUT-edges
            agg = (
                self.arcs.join(lastv, self.arcs.dst == lastv.u)
                .groupBy(F.col("src").alias("nu"))
                .agg(F.sum(F.col("w") * F.col("val")).alias("nxt"))
            )
            nin_g = F.col("u").isin(*group) if group else F.lit(False)
            outs = (
                outs.join(agg, outs.u == agg.nu, "left")
                .select(
                    "u",
                    F.concat(
                        "outs",
                        F.array(
                            F.when(nin_g, 0.0).otherwise(
                                F.coalesce("nxt", F.lit(0.0))
                            )
                        ),
                    ).alias("outs"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            outs.count()
            persisted.append(outs)
        if self.graph.directed:
            ins = self.vertices.select(
                F.col("id").alias("u"), F.array(base).alias("ins")
            )
            for i in range(1, levels + 1):
                lastv = ins.select(
                    "u", F.element_at("ins", -1).alias("val")
                )
                agg = (
                    self.arcs.join(lastv, self.arcs.src == lastv.u)
                    .groupBy(F.col("dst").alias("nu"))
                    .agg(F.sum(F.col("w") * F.col("val")).alias("nxt"))
                )
                nin_g = F.col("u").isin(*group) if group else F.lit(False)
                ins = (
                    ins.join(agg, ins.u == agg.nu, "left")
                    .select(
                        "u",
                        F.concat(
                            "ins",
                            F.array(
                                F.when(nin_g, 0.0).otherwise(
                                    F.coalesce("nxt", F.lit(0.0))
                                )
                            ),
                        ).alias("ins"),
                    )
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                ins.count()
                persisted.append(ins)
            joined = outs.join(ins, "u")
        else:
            joined = outs.withColumn("ins", F.col("outs"))

        # score_est(u) = Σ_{l=1..L} α^l Σ_{m=0..l} ins[l−m]·outs[m]
        # (the l=L term also yields w). arrays are 1-indexed in Spark.
        conv_terms = []
        for lvl in range(1, levels + 1):
            conv = None
            for m in range(0, lvl + 1):
                t = F.element_at("ins", lvl - m + 1) * F.element_at(
                    "outs", m + 1
                )
                conv = t if conv is None else conv + t
            conv_terms.append((lvl, conv))
        score_expr = None
        for lvl, conv in conv_terms:
            t = F.lit(alphas[lvl]) * conv
            score_expr = t if score_expr is None else score_expr + t
        w_expr = conv_terms[-1][1]
        est = joined.select(
            "u",
            score_expr.alias("score_est"),
            w_expr.alias("west"),
        ).filter(
            ~(F.col("u").isin(*group)) if group else F.lit(True)
        )
        est = est.persist(StorageLevel.MEMORY_AND_DISK)
        rows = (
            est.orderBy(F.col("score_est").desc(), F.col("u").asc())
            .limit(top_c + 1)
            .collect()
        )
        est.unpersist()
        for df in persisted:
            df.unpersist()
        out_rows = [
            (int(r["u"]), float(r["score_est"]), float(r["west"]))
            for r in rows[:top_c]
        ]
        cutoff = float(rows[top_c]["score_est"]) if len(rows) > top_c else 0.0
        return out_rows, cutoff


def ged_walk_score(
    graph: Graph,
    group,
    alpha: float | None = None,
    score_epsilon: float = 0.1,
    bound_strategy: str = "geometric",
    start_levels: int = 2,
) -> float:
    """GedWalk::scoreOfGroup (GedWalk.hpp:161-222): grow the level
    count until the geometric tail bound is within score_epsilon."""
    out_max, in_max = _degree_maxima(graph)
    a = _resolve_alpha(alpha, bound_strategy, out_max, in_max)
    gam = _gamma(bound_strategy, a, out_max, in_max)
    group = {int(x) for x in group}
    sw = _Sweeper(graph)
    try:
        levels = start_levels
        while True:
            alphas = [a**i for i in range(levels + 2)]
            score, w = sw.group_eval(group, levels, alphas)
            graph_w = sw.graph_walks_w(levels)
            tail_w = graph_w if bound_strategy == "geometric" else w
            bound = score + alphas[levels + 1] * gam * tail_w
            if bound < score + score_epsilon:
                return score
            levels += 1
            if levels > _MAX_LEVELS:
                raise RuntimeError("GedWalk level growth did not converge")
    finally:
        sw.close()


def ged_walk_group(
    graph: Graph,
    k: int,
    init_epsilon: float = 0.1,
    alpha: float | None = None,
    bound_strategy: str = "geometric",
    batch: int = 8,
    top_c: int = 1024,
    start_levels: int = 2,
) -> tuple[list[int], float]:
    """GedWalk::run (GedWalk.cpp:535-662): lazy greedy with
    ε-separation (ε = init_epsilon/k), geometric/adaptive bounds, level
    growth on failed separation. Batched adaptation documented in the
    module docstring. Returns (group in pick order, final score)."""
    n = graph.num_vertices()
    if not k or k >= n:
        raise ValueError("Error: k should be between 1 and n-1.")
    out_max, in_max = _degree_maxima(graph)
    a = _resolve_alpha(alpha, bound_strategy, out_max, in_max)
    gam = _gamma(bound_strategy, a, out_max, in_max)
    eps = init_epsilon / k

    sw = _Sweeper(graph)
    group: list[int] = []
    gset: set[int] = set()
    group_score = 0.0
    try:
        levels = start_levels
        while True:
            alphas = [a**i for i in range(levels + 2)]
            graph_w = sw.graph_walks_w(levels)

            ests, cutoff_raw = sw.estimate_gains(gset, levels, alphas, top_c)

            def finish_bound(score_est: float, west: float) -> float:
                tail = graph_w if bound_strategy == "geometric" else west
                return score_est + alphas[levels + 1] * gam * tail

            gain_score = {u: s for u, s, _ in ests}
            gain_bound = {u: finish_bound(s, w) for u, s, w in ests}
            # never-pulled candidates: their score_est ≤ cutoff_raw, so
            # their bound ≤ finish_bound(cutoff_raw, graph_w) — one
            # scalar covers them all (conservative for adaptive too).
            cutoff_bound = finish_bound(cutoff_raw, graph_w)
            exact: set[int] = set()

            def eval_batch(zs: list[int]) -> None:
                res = sw.batched_gains(gset, zs, levels, alphas)
                for z, (sc, w) in res.items():
                    g_sc = sc - group_score
                    gain_score[z] = g_sc
                    tail = graph_w if bound_strategy == "geometric" else (
                        w - group_w
                    )
                    gain_bound[z] = g_sc + alphas[levels + 1] * gam * tail
                    exact.add(z)

            group_w = sw.group_eval(gset, levels, alphas)[1] if gset else 0.0

            grew = False
            while len(group) < k:
                # maximizeGain: make the score-queue top exact (batched)
                while True:
                    order = sorted(
                        (u for u in gain_score if u not in gset),
                        key=lambda u: (-gain_score[u], u),
                    )
                    if not order:
                        break
                    if order[0] in exact:
                        break
                    todo = [u for u in order[: batch] if u not in exact]
                    eval_batch(todo)
                z = order[0]
                # separateNodes (batched): all other candidates' bounds
                # must fall below gainScore[z] + ε, including the
                # never-pulled cutoff.
                separated = True
                while True:
                    others = sorted(
                        (u for u in gain_bound if u not in gset and u != z),
                        key=lambda u: (-gain_bound[u], u),
                    )
                    s_top = others[0] if others else None
                    top_bound = gain_bound[s_top] if s_top is not None else 0.0
                    if cutoff_bound > top_bound:
                        # candidates below the collected horizon dominate
                        if gain_score[z] >= cutoff_bound - eps:
                            break  # separated from everything unseen
                        separated = False
                        break
                    if s_top is None:
                        break
                    if gain_score[z] >= top_bound - eps:
                        break
                    if s_top in exact:
                        separated = False
                        break
                    eval_batch(
                        [u for u in others[: batch] if u not in exact]
                    )
                if not separated:
                    break
                # accept z
                group.append(z)
                gset.add(z)
                group_score += gain_score[z]
                gain_score.pop(z, None)
                gain_bound.pop(z, None)
                exact.clear()
                # gains remain valid upper bounds by submodularity
                # (GedWalk.cpp:388-391); refresh group_w for adaptive tails
                group_w = sw.group_eval(gset, levels, alphas)[1]
                grew = True
            if len(group) == k:
                score, _ = sw.group_eval(gset, levels, alphas)
                return group, score
            levels += 1
            if levels > _MAX_LEVELS:
                raise RuntimeError("GedWalk level growth did not converge")
            _ = grew
    finally:
        sw.close()


def ged_walk_level_table(
    graph: Graph, group, alpha: float, levels: int
) -> DataFrame:
    """Per-level hit sums of a FIXED group at a FIXED level count —
    the SQL-oracle surface: rows (level, hits, contrib=α^ℓ·hits).
    Exact finite computation (no bound), matching `levels` unrolled
    joins in the oracle."""
    group = {int(x) for x in group}
    sw = _Sweeper(graph)
    try:
        alphas = [alpha**i for i in range(levels + 2)]
        in_g = F.col("id").isin(*group) if group else F.lit(False)
        state = sw.vertices.select(
            F.col("id").alias("u"),
            F.when(in_g, 1.0).otherwise(0.0).alias("hit"),
            F.when(in_g, 0.0).otherwise(1.0).alias("miss"),
        )
        persisted: list[DataFrame] = []
        out_rows = []
        for i in range(1, levels + 1):
            msgs = (
                sw.arcs.join(state, sw.arcs.src == state.u)
                .groupBy(F.col("dst").alias("u"))
                .agg(
                    F.sum(F.col("w") * F.col("hit")).alias("hit_in"),
                    F.sum(F.col("w") * F.col("miss")).alias("miss_in"),
                )
            )
            nin_g = F.col("u").isin(*group) if group else F.lit(False)
            state = msgs.select(
                "u",
                F.when(
                    nin_g, F.col("hit_in") + F.col("miss_in")
                ).otherwise(F.col("hit_in")).alias("hit"),
                F.when(nin_g, F.lit(0.0)).otherwise(F.col("miss_in")).alias(
                    "miss"
                ),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(state)
            h = float(state.agg(F.sum("hit")).first()[0] or 0.0)
            out_rows.append((i, h, alphas[i] * h))
        for df in persisted:
            df.unpersist()
        return local_frame(
            sw.spark, out_rows, "level int, hits double, contrib double"
        )
    finally:
        sw.close()
