"""Single-source traversals on the engine's two frontier kernels.

Reference surface: Traversal.BFSfrom/DijkstraFrom callbacks
(networkit/traversal.pyx:76-111, include/networkit/graph/BFS.hpp) and the
BFS inside ConnectedComponents (ConnectedComponentsImpl.cpp:23-68).
The Spark translation (SURVEY.md §2.4): BFS = repeated frontier
semi-join; Dijkstra's priority queue has no distributed analog, so
weighted SSSP is Bellman-Ford-style relaxation (same fixed point,
O(longest-shortest-path-hops) supersteps) — the standard Pregel SSSP.
Both are written once: the BFS level in `distances._bfs_levels` (one
Spark action per level) and the relaxation round in
`apsp._relax`; a single source is the one-row case of their
multi-source form.

Also here: isBipartite (2-coloring from BFS parity), topologicalSort
(distributed Kahn peeling) — GraphTools.hpp:423-438,574 — and the
DFS orders, replayed locally over the reachable component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.apsp import multi_source_bellman_ford
from networkit_spark.operators.distances import _bfs_levels, multi_source_bfs
from networkit_spark.plans.iterative import Checkpointer, truncate, unpersist
from networkit_spark.session import local_frame


def bfs_distances(graph: Graph, source: int, max_iterations: int | None = None) -> DataFrame:
    """(id, distance) hop counts from source; unreachable vertices are
    absent (reference marks them none/infinity)."""
    spark = graph.edges.sparkSession
    seeds = local_frame(spark, [(int(source),)], "s long")
    return multi_source_bfs(graph, seeds, max_depth=max_iterations).select(
        "id", F.col("dist").alias("distance")
    )


def shortest_paths(graph: Graph, source: int,
                   max_iterations: int | None = None) -> DataFrame:
    """(id, distance) weighted shortest-path distances from source —
    Bellman-Ford relaxation (DijkstraFrom parity at the fixed point;
    requires non-negative weights like the reference's Dijkstra). After
    k rounds every distance is the shortest over paths of at most k
    arcs, so `max_iterations` gives that partial result."""
    spark = graph.edges.sparkSession
    seeds = local_frame(spark, [(int(source),)], "s long")
    return multi_source_bellman_ford(graph, seeds, max_rounds=max_iterations).select(
        "id", F.col("dist").alias("distance")
    )


def is_bipartite(graph: Graph) -> bool:
    """GraphTools::isBipartite (GraphTools.hpp:574): 2-colorable ⇔ no
    edge joins two vertices of equal BFS parity. One BFS from every
    component root (the hash-min component's min-id vertex) at once over
    the symmetrized arcs (direction plays no part in 2-coloring);
    color = parity of the distance from the root. A self-loop joins a
    vertex to itself, so it fails the same check."""
    from networkit_spark.operators.components import connected_components

    comps = connected_components(graph).labels  # (id, label=min id of comp)
    sym = graph.symmetrized_edges().select("src", "dst").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    roots = comps.filter(F.col("id") == F.col("label")).select("id")
    visited, _ = _bfs_levels(sym, roots)
    pu = visited.select(F.col("id").alias("src"), (F.col("dist") % 2).alias("pu"))
    pv = visited.select(F.col("id").alias("dst"), (F.col("dist") % 2).alias("pv"))
    bipartite = (
        sym.join(pu, "src").join(pv, "dst")
        .filter(F.col("pu") == F.col("pv"))
        .isEmpty()
    )
    unpersist(sym, visited)
    return bipartite


def topological_sort(graph: Graph) -> DataFrame:
    """GraphTools::topologicalSort (GraphTools.hpp:423-438) — distributed
    Kahn peeling: (id, level) where every edge goes from a lower to a
    higher level; raises on cycles. Any linearization of levels (level
    asc, id asc) is a valid topological order."""
    if not graph.directed:
        raise ValueError("topologicalSort requires a directed graph")
    spark = graph.edges.sparkSession
    ckpt = Checkpointer(spark, None, algorithm="toposort")
    edges = graph.edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    remaining_v = graph.vertices()
    remaining_e = edges
    out = None
    level = 0
    while True:
        with_in = remaining_e.select(F.col("dst").alias("id")).distinct()
        zero_in = remaining_v.join(with_in, "id", "left_anti").withColumn(
            "level", F.lit(level).cast("long")
        )
        zero_in = ckpt.save(zero_in, level + 1)
        if ckpt.records[-1]["rows"] == 0:
            if remaining_v.limit(1).count() > 0:
                edges.unpersist()
                raise ValueError("graph has a cycle — no topological order")
            break
        out = zero_in if out is None else out.unionByName(zero_in)
        remaining_v = remaining_v.join(zero_in.select("id"), "id", "left_anti")
        remaining_e = truncate(
            remaining_e.join(
                zero_in.select(F.col("id").alias("src")), "src", "left_anti"
            ),
            release=remaining_e,
        )
        level += 1
    edges.unpersist()
    ckpt.close()
    return out if out is not None else graph.vertices().withColumn(
        "level", F.lit(0).cast("long")
    )


def dfs_from(graph: Graph, source: int, max_local_nodes: int = 5_000_000) -> DataFrame:
    """(id, dfs_order) — depth-first visit order from `source`, exactly
    Traversal::DFSfrom (include/networkit/graph/DFS.hpp:20-38): stack
    of discovered-but-unvisited nodes, a node is MARKED WHEN PUSHED, and
    neighbors are pushed in ascending id order (this engine's canonical
    adjacency order; the reference uses insertion order, which its own
    callers never rely on).

    Physical note: DFS order is P-complete — no distributed formulation
    exists (SURVEY.md §2.4 scopes it out of the kernel set; the
    reference uses it only for driver-side callbacks). The distributed
    half here is confining the work to the REACHABLE component (frontier
    BFS + adjacency collect of that component only); the stack replay is
    driver-local and guarded by `max_local_nodes`.
    """
    reach = bfs_distances(graph, source).select("id")
    n_reach = reach.count()
    if n_reach > max_local_nodes:
        raise ValueError(
            f"reachable component has {n_reach} nodes > max_local_nodes="
            f"{max_local_nodes}; DFS order is inherently sequential"
        )
    sym = graph.edges if graph.directed else graph.symmetrized_edges()
    adj_rows = (
        sym.join(reach.withColumnRenamed("id", "src"), "src")
        .select("src", "dst")
        .distinct()
        .collect()
    )
    adj: dict[int, list[int]] = {}
    for r in adj_rows:
        adj.setdefault(int(r["src"]), []).append(int(r["dst"]))
    for u in adj:
        adj[u].sort()

    marked = {source}
    stack = [source]
    order = []
    while stack:
        u = stack.pop()
        order.append(u)
        for v in adj.get(u, []):
            if v not in marked:
                stack.append(v)
                marked.add(v)
    spark = graph.edges.sparkSession
    return local_frame(
        spark, [(int(u), int(i)) for i, u in enumerate(order)], "id long, dfs_order long"
    )


def dfs_edges_from(graph: Graph, source: int, max_local_nodes: int = 5_000_000) -> DataFrame:
    """(src, dst, visit_order) — DFS tree-edge visit order, exactly
    Traversal::DFSEdgesFrom (DFS.hpp:46-64: the handle fires when an
    UNMARKED neighbor is first seen from a popped node). Same physical
    strategy and guard as dfs_from."""
    reach = bfs_distances(graph, source).select("id")
    n_reach = reach.count()
    if n_reach > max_local_nodes:
        raise ValueError(
            f"reachable component has {n_reach} nodes > max_local_nodes="
            f"{max_local_nodes}; DFS order is inherently sequential"
        )
    sym = graph.edges if graph.directed else graph.symmetrized_edges()
    adj_rows = (
        sym.join(reach.withColumnRenamed("id", "src"), "src")
        .select("src", "dst")
        .distinct()
        .collect()
    )
    adj: dict[int, list[int]] = {}
    for r in adj_rows:
        adj.setdefault(int(r["src"]), []).append(int(r["dst"]))
    for u in adj:
        adj[u].sort()

    marked = {source}
    stack = [source]
    edges = []
    while stack:
        u = stack.pop()
        for v in adj.get(u, []):
            if v not in marked:
                edges.append((u, v))
                stack.append(v)
                marked.add(v)
    spark = graph.edges.sparkSession
    return local_frame(
        spark, [(int(u), int(v), int(i)) for i, (u, v) in enumerate(edges)],
        "src long, dst long, visit_order long",
    )
