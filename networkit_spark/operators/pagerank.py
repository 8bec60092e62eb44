"""Power-iteration PageRank with full reference semantics.

Reference: networkit/cpp/centrality/PageRank.cpp:21-134 and
include/networkit/centrality/PageRank.hpp:38-97. Semantics reproduced:

1. teleport = (1-d)/n, factor = d/n; init scores to 1/n (PageRank.cpp:26-28).
2. deg[v] = weightedDegree(v) — out-degree weight sum (PageRank.cpp:31-32).
3. Pull superstep (PageRank.cpp:68-78):
     pr[u] = teleport + d * Σ_{(v→u)∈E} score[v] * w(v,u) / deg[v]
   (undirected: in-edges ≡ incident edges — handled by the symmetrized table).
4. Sink handling (PageRank.cpp:84-91): only if directed AND
   (distribute_sinks OR normalized); sinks = out-degree-0 nodes; every node
   gains factor * Σ_sinks score_old[sink].
5. Convergence (PageRank.cpp:53-63): checked after iterations+=1 against
   maxIterations FIRST, then ||new-old|| ≤ tol with L2 (default) or L1 norm.
6. Post-processing (PageRank.cpp:100-123):
   - normalized: divide by (1/n)·((1-d) + d·Σ_sinks score) if directed,
     by teleport if undirected.
   - else if directed and NO_SINK_HANDLING: L1-normalize (score /= Σ score).

Spark plan (per superstep, one shuffle pipeline, Catalyst-optimized):
  contribs = ranks ⋈ edges_norm (ranks.id == src)            [shuffle join]
             → groupBy(dst).agg(sum(score·frac))              [partial+final agg]
  new      = vertices ⟕ contribs  (missing → 0)
             [⨯ 1-row sink-mass agg, broadcast-nested-loop — no driver collect]
  checkpointed with old score as a column; the convergence norm is an
  aggregate of the same action that materializes the superstep
  (Checkpointer.save measures), so no job re-reads the snapshot.

The weight/deg division is folded into the edge table ONCE before the loop
(`edges_norm(src, dst, frac)`), persisted hash-partitioned on src — this
removes a per-superstep join against the degree table. At 100 TB this table
is written bucketed-by-src (Iceberg) so every superstep's gather join
shuffles only the rank side (the small one).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.plans.iterative import Checkpointer, unpersist

NO_SINK_HANDLING = "no_sink_handling"
DISTRIBUTE_SINKS = "distribute_sinks"


@dataclass
class PageRankResult:
    scores: DataFrame  # (id: long, score: double)
    iterations: int
    n: int
    converged: bool
    history: list = field(default_factory=list)  # per-iteration metrics dicts

    def ranking(self, k: int | None = None) -> DataFrame:
        """Descending (id, score) — Centrality::ranking (Centrality.hpp:55-60)."""
        r = self.scores.orderBy(F.desc("score"), F.asc("id"))
        return r.limit(k) if k else r

    def maximum(self) -> float:
        return self.scores.agg(F.max("score")).first()[0]


class PreparedPageRank:
    """One-time PageRank preparation, reusable across runs.

    At 100 TB this is the bucketed Iceberg table: `edges_norm(src, dst,
    frac)` hash-partitioned by src with the weight/degree division folded
    in, plus the vertex set and the sink set — build once, run many
    (parameter sweeps, resumed runs, per-snapshot re-ranks) without
    re-shuffling the edge table.
    """

    def __init__(self, graph: Graph, src_partitioned: bool = False):
        self.graph = graph
        spark = graph.edges.sparkSession
        self.vertices = graph.vertices().persist(StorageLevel.MEMORY_AND_DISK)
        self.n = self.vertices.count()
        # deg[v] = weightedDegree(v); fold the division into the edge
        # table once. ONE exchange keys the edge table by src; the degree
        # rollup and the normalization join are then colocated on it
        # (groupBy/join both satisfied by hash(src)), and the join output
        # keeps that layout for every superstep's gather join.
        # src_partitioned=True: the edge table ALREADY satisfies hash(src)
        # clustering — a bucketed parquet/Iceberg table written by
        # sources/bucketed.py (bucketBy src) — so even that one exchange
        # is skipped; the bucketed scan's partitioning satisfies the
        # degree rollup and normalization join directly (plan asserted
        # exchange-free in tests/test_bucketed.py).
        if src_partitioned:
            e = graph.edges
        else:
            n_part = graph.num_partitions or spark.sparkContext.defaultParallelism
            e = graph.edges.repartition(n_part, "src")
        deg = e.groupBy("src").agg(F.sum("weight").alias("deg"))
        self.edges_norm = (
            e.join(deg, "src")
            .select("src", "dst", (F.col("weight") / F.col("deg")).alias("frac"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.edges_norm.count()  # materialize before any loop
        # sinks (nodes with degree()==0, i.e. no out-arcs,
        # PageRank.cpp:35-41) are built LAZILY: a NO_SINK_HANDLING
        # un-normalized run — the common web-ranking configuration —
        # never pays the anti-join.
        self._sinks: DataFrame | None = None
        self._n_sinks: int | None = None

    @property
    def sinks(self) -> DataFrame:
        if self._sinks is None:
            self._sinks = self.vertices.join(
                self.graph.edges.select(F.col("src").alias("id")).distinct(),
                "id",
                "left_anti",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self._n_sinks = self._sinks.count()
        return self._sinks

    @property
    def n_sinks(self) -> int:
        self.sinks
        return self._n_sinks

    def unpersist(self):
        unpersist(self.vertices, self.edges_norm, self._sinks)


def pagerank(
    graph: Graph,
    damp: float = 0.85,
    tol: float = 1e-8,
    normalized: bool = False,
    distribute_sinks: str = NO_SINK_HANDLING,
    norm: str = "l2",
    max_iterations: int | None = None,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    checkpoint_every: int = 1,
    prepared: PreparedPageRank | None = None,
) -> PageRankResult:
    """Run PageRank to convergence (or max_iterations supersteps).

    checkpointer: durable, resumable per-superstep snapshots; default is
    ephemeral localCheckpoint lineage truncation.
    resume=True restarts from the checkpointer's latest snapshot.
    prepared: reuse a PreparedPageRank (skips the one-time edge-table
    normalization/partitioning — the bucketed-Iceberg-table analog).
    """
    spark = graph.edges.sparkSession
    ckpt = checkpointer or Checkpointer(spark, None, algorithm="pagerank")

    own_prepared = prepared is None
    prep = prepared or PreparedPageRank(graph)
    vertices, edges_norm = prep.vertices, prep.edges_norm
    n = prep.n
    if n == 0:
        raise ValueError("PageRank on empty graph")
    teleport = (1.0 - damp) / n
    factor = damp / n
    max_iter = max_iterations if max_iterations is not None else 2**31

    handle_sinks = (
        graph.directed
        and (distribute_sinks == DISTRIBUTE_SINKS or normalized)
        # No sinks → the sink term is exactly 0 every superstep; skip
        # the per-superstep aggregation job entirely.
        and prep.n_sinks > 0
    )

    # Fixed-iteration mode (tol<=0 with a max): skip the convergence-norm
    # job per superstep — one Spark job per superstep instead of two.
    fixed_mode = tol <= 0.0 and max_iterations is not None
    if handle_sinks:
        # The sink-mass aggregation is a second consumer of the previous
        # superstep's (lazy) state: without materialization each layer
        # would be recomputed once per consumer — so truncate every step.
        checkpoint_every = 1

    iterations = 0
    ranks = vertices.select("id", F.lit(1.0 / n).alias("score"))

    if resume:
        latest = ckpt.latest()
        if latest is not None:
            iterations, snap, _ = latest
            ranks = snap.select("id", "score")

    converged = False
    hit_tol = False
    while not converged:
        # Both joins plan as colocated sort-merge on the pinned hash
        # layout (at rank sizes under the broadcast threshold AQE
        # upgrades the gather join to broadcast). Two variants were
        # measured on the 65M-arc scaling input and REJECTED: a
        # SHUFFLE_HASH build of the rank side (1-core 177s vs 157s —
        # random hash probes lose to merge), and pre-sorting the cached
        # edge/vertex tables to skip the SMJ sorts (wall-neutral: the
        # per-superstep sorts are not the bottleneck at this scale).
        contribs = (
            ranks.join(edges_norm, ranks.id == edges_norm.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("score") * F.col("frac")).alias("contrib"))
        )
        new = vertices.join(contribs, "id", "left")
        if fixed_mode:
            new = new.select(
                "id",
                (F.lit(teleport) + F.lit(damp) * F.coalesce("contrib", F.lit(0.0))).alias("score"),
            )
        else:
            new = new.join(ranks.withColumnRenamed("score", "old_score"), "id").select(
                "id",
                (F.lit(teleport) + F.lit(damp) * F.coalesce("contrib", F.lit(0.0))).alias("score"),
                "old_score",
            )
        if handle_sinks:
            sink_mass = (
                ranks.join(prep.sinks, "id", "left_semi")
                .agg(F.coalesce(F.sum("score"), F.lit(0.0)).alias("sink_mass"))
            )
            keep = ["id"] if fixed_mode else ["id", "old_score"]
            new = new.crossJoin(F.broadcast(sink_mass)).select(
                *keep[:1],
                (F.col("score") + F.lit(factor) * F.col("sink_mass")).alias("score"),
                *keep[1:],
            )

        iterations += 1
        if fixed_mode:
            # Deferred lineage truncation: let Catalyst fuse checkpoint_every
            # supersteps into one lazy plan (one job instead of k) — the plan
            # depth stays bounded at ~3·checkpoint_every operators.
            converged = iterations >= max_iter
            if iterations % checkpoint_every == 0 or converged:
                snap = ckpt.save(new, iterations, None)
            else:
                snap = new
        else:
            # The action that materializes the superstep also measures the
            # convergence norm.
            delta = F.col("score") - F.col("old_score")
            snap = ckpt.save(new, iterations, {
                "diff": F.sqrt(F.sum(F.pow(delta, 2))) if norm == "l2"
                else F.sum(F.abs(delta))})
            diff = ckpt.records[-1]["diff"]
            # Reference order (PageRank.cpp:53-63): maxIterations first, then tol.
            hit_tol = diff <= tol
            converged = iterations >= max_iter or hit_tol
        ranks = snap.select("id", "score")

    # ---------------------------------------------------- post-processing
    if normalized:
        if graph.directed:
            sink_sum = (
                ranks.join(prep.sinks, "id", "left_semi").agg(F.sum("score")).first()[0]
                or 0.0
            )
            norm_factor = (1.0 / n) * ((1.0 - damp) + damp * sink_sum)
        else:
            norm_factor = teleport
        ranks = ranks.select("id", (F.col("score") / F.lit(norm_factor)).alias("score"))
    elif graph.directed and distribute_sinks == NO_SINK_HANDLING:
        total = ranks.agg(F.sum("score")).first()[0]
        ranks = ranks.select("id", (F.col("score") / F.lit(total)).alias("score"))

    if own_prepared:
        prep.unpersist()

    return PageRankResult(
        scores=ranks,
        iterations=iterations,
        n=n,
        converged=hit_tol,
        history=ckpt.log(iterations),
    )


def pagerank_fixed(graph: Graph, n_iter: int, damp: float = 0.85,
                   distribute_sinks: str = DISTRIBUTE_SINKS,
                   checkpoint_every: int = 1,
                   prepared: PreparedPageRank | None = None) -> DataFrame:
    """Exactly n_iter supersteps, no convergence check, no post-processing
    beyond the reference's (directed + NO_SINK_HANDLING → final
    L1-normalize, PageRank.cpp:118-122).

    Deterministic variant used by the oracle-checked driver queries
    (__spark_entry__.py) — the unrolled-SQL oracle mirrors it 1:1.
    checkpoint_every>1 defers lineage truncation (fuses supersteps into
    one job) — the bench fast path; forced back to 1 when sink handling
    is active (see pagerank()).
    """
    res = pagerank(
        graph,
        damp=damp,
        tol=0.0,
        distribute_sinks=distribute_sinks,
        max_iterations=n_iter,
        checkpoint_every=checkpoint_every,
        prepared=prepared,
    )
    return res.scores
