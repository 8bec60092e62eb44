"""Biconnected components as a Tarjan–Vishkin DataFrame program.

Reference semantics: BiconnectedComponents
(networkit/cpp/components/BiconnectedComponents.cpp:36-121) — the
sequential Hopcroft–Tarjan edge-stack algorithm over the undirected
simple graph; output is the partition of EDGES into 2-connected blocks,
surfaced as componentsOfNode (node -> set of block ids, :113-120) and
componentSizes (block -> number of member nodes). Directed graphs are
rejected like the reference (:16-19).

A DFS edge stack is inherently sequential, so the distributed plan is
the classic parallel equivalent instead — Tarjan & Vishkin, "An
efficient parallel biconnectivity algorithm" (SIAM J. Comput. 1985),
which works over an ARBITRARY rooted spanning forest:

  1. BFS spanning forest, parent = MIN neighbor in the previous
     frontier (deterministic; the engine's BFS level kernel with a
     min-agg, one Spark action per level).
  2. Tree functionals by level sweeps (each sweep is a lazily chained
     join+agg per level, lineage-truncated every few levels):
       - nd(v)   subtree size           (bottom-up)
       - pre(v)  DFS preorder, children ordered by id (top-down; the
                 sibling-offset cumsum is a Window partitioned by
                 parent — bounded by max degree, never global)
       - low/high(v) min/max preorder reachable from subtree(v) via
                 one non-tree edge (bottom-up)
  3. Auxiliary graph B on tree edges (tree edge (p(w), w) ≡ node w):
       rule 1: non-tree edge {u,v}, u,v unrelated (neither subtree
               interval contains the other)      -> B-edge {u, v}
       rule 2: tree edge (v,w) with v non-root   -> B-edge {v, w}
               iff low(w) < pre(v) or high(w) >= pre(v) + nd(v)
     Two tree edges share a biconnected component iff connected in B
     (TV Lemma 2); a non-tree edge {u,v} joins the block of the
     endpoint with the LARGER preorder (that tree edge is always on
     the fundamental cycle).
  4. Block labels = hash-min connected components over B (reuses
     operators/components.py — O(log) supersteps, min node id per
     B-component is the canonical label).

Scale: every step is a bounded join/agg; the only O(depth) factor is
the BFS + the three sweeps — web graphs have small BFS depth, and the
known O(log n) upgrade (Euler-tour list ranking for the tree
functionals) slots into step 2 without touching steps 3-4.

Verified two ways: pytest against an independent pure-Python
Hopcroft–Tarjan (tests/test_biconnected.py) and the driver's DuckDB
twin (recursive-CTE BFS + ancestor closure, oracles.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.distances import _bfs_levels
from networkit_spark.plans.iterative import truncate, unpersist

_TRUNCATE_EVERY = 8  # sweep levels chained lazily between lineage cuts


@dataclass
class BiconnectedResult:
    edge_blocks: DataFrame  # (u, v, block) u < v, one row per simple edge
    node_blocks: DataFrame  # (id, block) distinct — componentsOfNode
    levels: int             # BFS forest depth (supersteps used)

    def components_of_node(self) -> DataFrame:
        return self.node_blocks

    def component_sizes(self) -> DataFrame:
        """(block, size) — number of member NODES per block, matching
        componentSizes (BiconnectedComponents.cpp:113-120)."""
        return self.node_blocks.groupBy("block").agg(F.count("*").alias("size"))

    def node_block_counts(self, vertices: DataFrame | None = None) -> DataFrame:
        """(id, n_blocks); articulation points have n_blocks > 1.
        Isolated vertices get 0 (reference: empty set)."""
        counts = self.node_blocks.groupBy("id").agg(
            F.count("*").alias("n_blocks")
        )
        if vertices is None:
            return counts
        return (
            vertices.join(counts, "id", "left")
            .select("id", F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"))
        )

    def articulation_points(self) -> DataFrame:
        return (
            self.node_blocks.groupBy("id")
            .agg(F.count("*").alias("n_blocks"))
            .filter(F.col("n_blocks") > 1)
            .select("id")
        )


def biconnected_components(graph: Graph) -> BiconnectedResult:
    """Tarjan–Vishkin biconnected components. Undirected graphs only,
    like the reference (BiconnectedComponents.cpp:16-19)."""
    if graph.directed:
        raise ValueError(
            "biconnected components cannot be computed on directed graphs"
        )
    und = graph.simple_undirected_edges().persist(StorageLevel.MEMORY_AND_DISK)
    sym = (
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # --- spanning forest rooted at each component's min node id --------
    cc = connected_components(graph)
    roots = cc.labels.filter(F.col("id") == F.col("label")).select("id")
    # parent = min neighbor in the previous level (deterministic)
    forest, depth = _bfs_levels(
        sym, roots.withColumn("parent", F.lit(None).cast("long")),
        aggs=(F.min("src").alias("parent"),),
    )
    visited = forest.withColumnRenamed("dist", "level")
    tree = visited.filter(F.col("parent").isNotNull()) \
                  .persist(StorageLevel.MEMORY_AND_DISK)
    tree_lvl = {  # per-level child tables, reused by both sweeps
        lvl: tree.filter(F.col("level") == lvl).select("id", "parent")
        for lvl in range(1, depth + 1)
    }

    # --- subtree sizes: bottom-up ---------------------------------------
    base_sz = visited.select("id", "level", F.lit(1).cast("long").alias("nd"))
    sizes = _sweep_sum(tree_lvl, base_sz, depth).persist(StorageLevel.MEMORY_AND_DISK)

    # --- preorder: top-down, children ordered by id ----------------------
    pre = truncate(
        roots.select("id", F.lit(0).cast("long").alias("pre"))
    )
    w = Window.partitionBy("parent").orderBy("id") \
              .rowsBetween(Window.unboundedPreceding, -1)
    for lvl in range(1, depth + 1):
        kids = (
            tree_lvl[lvl]
            .join(sizes.withColumnRenamed("id", "sid"), F.col("sid") == F.col("id"))
            .select("id", "parent", "nd")
            .withColumn("off", F.coalesce(F.sum("nd").over(w), F.lit(0)))
        )
        lvl_pre = (
            kids.join(pre.select(F.col("id").alias("pid"), F.col("pre").alias("ppre")),
                      F.col("parent") == F.col("pid"))
            .select("id", (F.col("ppre") + 1 + F.col("off")).alias("pre"))
        )
        pre = pre.unionByName(lvl_pre)
        if lvl % _TRUNCATE_EVERY == 0:
            pre = truncate(pre)
    pre = truncate(pre).persist(StorageLevel.MEMORY_AND_DISK)

    # --- non-tree edges ---------------------------------------------------
    tpairs = tree.select(
        F.least("id", "parent").alias("u"), F.greatest("id", "parent").alias("v")
    )
    nontree = und.join(tpairs, ["u", "v"], "left_anti") \
                 .persist(StorageLevel.MEMORY_AND_DISK)
    ntsym = nontree.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        nontree.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )

    # --- low/high: bottom-up over min(pre, non-tree-neighbor pre) --------
    nt_pre = (
        ntsym.join(pre.withColumnRenamed("id", "pid"),
                   ntsym.dst == F.col("pid"))
        .groupBy("src")
        .agg(F.min("pre").alias("ntmin"), F.max("pre").alias("ntmax"))
    )
    base_lh = (
        visited.join(pre, "id")
        .join(nt_pre.withColumnRenamed("src", "id"), "id", "left")
        .select(
            "id", "level",
            F.least("pre", F.coalesce("ntmin", F.col("pre"))).alias("low"),
            F.greatest("pre", F.coalesce("ntmax", F.col("pre"))).alias("high"),
        )
    )
    low = _sweep_minmax(tree_lvl, base_lh.select("id", "level", "low"),
                        depth, F.min, "low")
    high = _sweep_minmax(tree_lvl, base_lh.select("id", "level", "high"),
                         depth, F.max, "high")

    info = truncate(
        visited.select("id", "parent", "level")
        .join(pre, "id").join(sizes, "id").join(low, "id").join(high, "id")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # --- auxiliary graph on tree edges (node w ≡ tree edge (p(w), w)) ----
    iu = info.select(F.col("id").alias("u"), F.col("pre").alias("pre_u"),
                     F.col("nd").alias("nd_u"))
    iv = info.select(F.col("id").alias("v"), F.col("pre").alias("pre_v"),
                     F.col("nd").alias("nd_v"))
    nt_info = nontree.join(iu, "u").join(iv, "v")
    unrelated = ~(
        (F.col("pre_u") <= F.col("pre_v"))
        & (F.col("pre_v") < F.col("pre_u") + F.col("nd_u"))
    ) & ~(
        (F.col("pre_v") <= F.col("pre_u"))
        & (F.col("pre_u") < F.col("pre_v") + F.col("nd_v"))
    )
    aux1 = nt_info.filter(unrelated).select("u", "v")

    par = info.select(F.col("id").alias("v"), F.col("pre").alias("pre_v"),
                      F.col("nd").alias("nd_v"),
                      F.col("parent").alias("gp"))
    aux2 = (
        info.filter(F.col("parent").isNotNull())
        .select(F.col("id").alias("w"), F.col("parent").alias("v"),
                F.col("low").alias("low_w"), F.col("high").alias("high_w"))
        .join(par, "v")
        .filter(F.col("gp").isNotNull())  # v itself must be non-root
        .filter((F.col("low_w") < F.col("pre_v"))
                | (F.col("high_w") >= F.col("pre_v") + F.col("nd_v")))
        .select(F.col("v").alias("u"), F.col("w").alias("v"))
    )
    aux_edges = aux1.unionByName(aux2)
    nonroot = info.filter(F.col("parent").isNotNull()).select("id")

    aux_graph = Graph.from_edges(
        aux_edges.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        directed=False,
    ).add_nodes(nonroot)
    blocks = connected_components(aux_graph).labels  # (id=w, label)

    # --- per-edge block assignment ---------------------------------------
    tree_blocks = (
        tree.join(blocks, "id")
        .select(F.least("id", "parent").alias("u"),
                F.greatest("id", "parent").alias("v"),
                F.col("label").alias("block"))
    )
    nt_blocks = (
        nt_info.select(
            "u", "v",
            F.when(F.col("pre_u") > F.col("pre_v"), F.col("u"))
            .otherwise(F.col("v")).alias("deep"),
        )
        .join(blocks.withColumnRenamed("id", "deep"), "deep")
        .select("u", "v", F.col("label").alias("block"))
    )
    edge_blocks = truncate(tree_blocks.unionByName(nt_blocks)) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    node_blocks = truncate(
        edge_blocks.select(F.col("u").alias("id"), "block")
        .unionByName(edge_blocks.select(F.col("v").alias("id"), "block"))
        .distinct()
    )

    unpersist(und, sym, forest, tree, sizes, pre, nontree, info)
    return BiconnectedResult(edge_blocks=edge_blocks, node_blocks=node_blocks,
                             levels=depth)


def _sweep_sum(tree_lvl, base, depth: int) -> DataFrame:
    """Bottom-up sum sweep: out(v) = base(v) + sum(out(children))."""
    acc, prev = None, None
    for lvl in range(depth, -1, -1):
        lvl_base = base.filter(F.col("level") == lvl).select("id", "nd")
        kids = tree_lvl.get(lvl + 1)
        if prev is not None and kids is not None:
            child_sum = (
                kids.join(prev.withColumnRenamed("id", "cid"),
                          kids.id == F.col("cid"))
                .groupBy("parent").agg(F.sum("nd").alias("_cs"))
            )
            cur = (
                lvl_base.join(child_sum, lvl_base.id == child_sum.parent, "left")
                .select(lvl_base.id,
                        (F.col("nd") + F.coalesce("_cs", F.lit(0))).alias("nd"))
            )
        else:
            cur = lvl_base
        acc = cur if acc is None else acc.unionByName(cur)
        if lvl % _TRUNCATE_EVERY == 0 and lvl > 0:
            acc = truncate(acc)
        prev = cur
    return truncate(acc)


def _sweep_minmax(tree_lvl, base, depth: int, agg, col: str) -> DataFrame:
    """Bottom-up min/max sweep: out(v) = agg(base(v), out(children))."""
    cmp = F.least if agg is F.min else F.greatest
    acc, prev = None, None
    for lvl in range(depth, -1, -1):
        lvl_base = base.filter(F.col("level") == lvl).select("id", col)
        kids = tree_lvl.get(lvl + 1)
        if prev is not None and kids is not None:
            child_agg = (
                kids.join(prev.withColumnRenamed("id", "cid"),
                          kids.id == F.col("cid"))
                .groupBy("parent").agg(agg(col).alias("_ca"))
            )
            cur = (
                lvl_base.join(child_agg, lvl_base.id == child_agg.parent, "left")
                .select(lvl_base.id,
                        cmp(F.col(col), F.coalesce("_ca", F.col(col))).alias(col))
            )
        else:
            cur = lvl_base
        acc = cur if acc is None else acc.unionByName(cur)
        if lvl % _TRUNCATE_EVERY == 0 and lvl > 0:
            acc = truncate(acc)
        prev = cur
    return truncate(acc)
