"""AllSimplePaths — every simple source→target path up to a cutoff.

Reference semantics (networkit/cpp/reachability/AllSimplePaths.cpp:
15-130): enumerate all simple paths from `source` to `target` of length
(edge count) <= cutoff; rejects missing nodes, source == target, and
cutoff < 1. The reference prunes with a reverse-BFS distance map (a
node only stays on the frontier if it can still reach the target within
the remaining budget) — the same pruning keeps the distributed frontier
from exploding here.

Spark shape: paths are ROWS (path array, cur); each extension step is
one shuffle join with the adjacency plus an array_contains filter; the
reverse-BFS distance table (one multi-source... single-source BFS from
the target) broadcast-prunes extensions that cannot finish in budget.
Enumeration output is inherently up-to-exponential — the cutoff is the
work knob, exactly as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from networkit_spark.graph import Graph
from networkit_spark.operators.traversal import bfs_distances
from networkit_spark.plans.iterative import materialize, truncate
from networkit_spark.session import local_frame


def all_simple_paths(graph: Graph, source: int, target: int,
                     cutoff: int) -> DataFrame:
    """(path: array<long>) — one row per simple path source→target with
    at most `cutoff` edges."""
    if not graph.has_node(source):
        raise ValueError("source node not in graph")
    if not graph.has_node(target):
        raise ValueError("target node not in graph")
    if source == target:
        raise ValueError("source is equal to the target")
    if cutoff < 1:
        raise ValueError("cutoff = 0")
    spark = graph.edges.sparkSession
    sym = (graph.edges if graph.directed else graph.symmetrized_edges()) \
        .filter(F.col("src") != F.col("dst")).select("src", "dst") \
        .persist(StorageLevel.MEMORY_AND_DISK)

    # reverse-BFS pruning distances (AllSimplePaths.cpp:41-68); on the
    # undirected graph forward == reverse. Directed graphs would BFS the
    # transpose — the engine's graphs here are undirected like the
    # reference's test surface.
    rg = graph if not graph.directed else Graph.from_edges(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                           "weight"), directed=True)
    dist_t = bfs_distances(rg, target, max_iterations=cutoff).select(
        F.col("id").alias("dst"), F.col("distance").alias("togo")
    )

    frontier = truncate(local_frame(
        spark, [(int(source), [int(source)])], "cur long, path array<long>"
    ))
    done = local_frame(spark, [], "path array<long>")
    for step in range(1, cutoff + 1):
        ext = (
            frontier.join(sym, frontier.cur == sym.src)
            .join(dist_t, "dst")
            .filter(~F.array_contains("path", F.col("dst")))
            .filter(F.col("togo") <= cutoff - step)  # can still finish
            .select(F.col("dst").alias("cur"),
                    F.array_append("path", F.col("dst")).alias("path"))
        )
        ext = truncate(ext)
        done = truncate(
            done.unionByName(
                ext.filter(F.col("cur") == target).select("path")
            ),
            release=done,
        )
        frontier, seen = materialize(ext.filter(F.col("cur") != target),
                            release=frontier)
        if seen["rows"] == 0:
            break
    sym.unpersist()
    return done
