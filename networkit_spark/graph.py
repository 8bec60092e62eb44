"""Graph: the engine's central data structure — an edge DataFrame.

The reference (include/networkit/graph/Graph.hpp:107-160) is a mutable
in-memory adjacency list. The Spark-native equivalent is a columnar edge
table `edges(src: long, dst: long, weight: double)` plus an optional
explicit vertex table `vertices(id: long)` (needed because isolated
vertices don't appear in edges — the reference sizes arrays by
upperNodeIdBound and tracks existence via a bitmap, Graph.hpp:143).

Representation invariant
------------------------
`edges` is always the *directed message table*:
  - directed graph: one row per arc.
  - undirected graph: SYMMETRIZED — each undirected edge {u,v} appears as
    both (u,v) and (v,u); self-loops appear ONCE. This matches the
    reference storage (undirected edges stored in both adjacency lists,
    self-loops once — networkit/cpp/graph/Graph.cpp:504-518) and makes
    every neighborhood gather a single equi-join on `src`.

Scale notes (100 TB / 1000 executors)
-------------------------------------
- ids are signed 64-bit (`xxhash64(url)`); Spark has no unsigned longs and
  ids only need uniqueness + order (Globals.hpp:16-35 uses uint64).
- the edge table is hash-partitioned on `src` so iterative gathers
  (rank/label messages) co-locate with adjacency; callers should persist
  the partitioned table (Iceberg/bucketed parquet) once and reuse it
  across supersteps.
- n is `count(distinct id)`, never `max(id)+1` — id holes are the norm.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from networkit_spark.session import local_frame

EDGE_COLS = ("src", "dst", "weight")


def _normalize_edges(edges: DataFrame, weighted: bool) -> DataFrame:
    cols = [F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")]
    if weighted and "weight" in edges.columns:
        cols.append(F.col("weight").cast("double").alias("weight"))
    else:
        # defaultEdgeWeight = 1.0 (Globals.hpp:28)
        cols.append(F.lit(1.0).alias("weight"))
    return edges.select(*cols)


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Each undirected edge {u,v} → rows (u,v) and (v,u); self-loops once."""
    rev = edges.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return edges.unionByName(rev)


@dataclass
class Graph:
    """Edge-table graph. Build via the from_* constructors."""

    edges: DataFrame  # directed message table (see module docstring)
    directed: bool
    weighted: bool = False
    _vertices: DataFrame | None = None  # explicit vertex set (id: long), optional
    num_partitions: int | None = None

    # ---------------------------------------------------------------- build
    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        *,
        directed: bool,
        weighted: bool = False,
        vertices: DataFrame | None = None,
        already_symmetrized: bool = False,
        dedup: bool = False,
        num_partitions: int | None = None,
    ) -> "Graph":
        """Build from an edge DataFrame with columns (src, dst[, weight]).

        For undirected graphs pass each edge ONCE (it is symmetrized here)
        unless already_symmetrized=True.
        dedup=True collapses multi-edges (reference keeps them by default —
        addEdge only checks when checkMultiEdge=true, Graph.cpp:478-480 —
        but web link tables are deduped before analytics).
        """
        e = _normalize_edges(edges, weighted)
        if dedup:
            e = e.dropDuplicates(["src", "dst"])
        if not directed and not already_symmetrized:
            e = _symmetrize(e)
        if num_partitions:
            e = e.repartition(num_partitions, "src")
        v = vertices.select(F.col("id").cast("long").alias("id")).distinct() if vertices is not None else None
        return cls(edges=e, directed=directed, weighted=weighted, _vertices=v,
                   num_partitions=num_partitions)

    @classmethod
    def from_pairs(cls, spark, pairs, *, directed: bool, n: int | None = None,
                   weighted: bool = False) -> "Graph":
        """Tiny-fixture constructor: pairs = [(u, v[, w]), ...]; n adds
        vertices 0..n-1 explicitly (isolated nodes included)."""
        rows = [(int(p[0]), int(p[1]), float(p[2]) if len(p) > 2 else 1.0) for p in pairs]
        e = local_frame(spark, rows, "src long, dst long, weight double")
        v = spark.range(n).withColumnRenamed("id", "id") if n is not None else None
        return cls.from_edges(e, directed=directed, weighted=weighted, vertices=v)

    # ------------------------------------------------------------ accessors
    def vertices(self) -> DataFrame:
        """Vertex set (id: long). Explicit if given, else derived from edges."""
        if self._vertices is not None:
            return self._vertices
        return (
            self.edges.select(F.col("src").alias("id"))
            .unionByName(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def num_vertices(self) -> int:
        return self.vertices().count()

    def num_edges(self) -> int:
        """Edge count with reference semantics: undirected edges counted once
        (Graph.hpp:1383 numberOfEdges)."""
        if self.directed:
            return self.edges.count()
        row = self.edges.select(
            F.count(F.when(F.col("src") != F.col("dst"), 1)).alias("nonself"),
            F.count(F.when(F.col("src") == F.col("dst"), 1)).alias("self"),
        ).first()
        return row["nonself"] // 2 + row["self"]

    def number_of_self_loops(self) -> int:
        return self.edges.filter(F.col("src") == F.col("dst")).count()

    def total_edge_weight(self) -> float:
        """Sum of edge weights, each undirected edge once (Graph.hpp:1483)."""
        if self.directed:
            return self.edges.agg(F.sum("weight")).first()[0] or 0.0
        row = self.edges.select(
            F.sum(F.when(F.col("src") != F.col("dst"), F.col("weight"))).alias("nonself"),
            F.sum(F.when(F.col("src") == F.col("dst"), F.col("weight"))).alias("self"),
        ).first()
        return (row["nonself"] or 0.0) / 2.0 + (row["self"] or 0.0)

    # -------------------------------------------------------------- degrees
    def out_degrees(self) -> DataFrame:
        """(id, degree, w_degree) for EVERY vertex (0 for sinks/isolated).

        degree = out-arc count (Graph.hpp:1128); for undirected graphs the
        symmetrized table makes this the incident-edge count with self-loops
        counted once — exactly weightedDegree(u, countSelfLoopsTwice=false)
        (Graph.hpp:1176).
        """
        d = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("degree"), F.sum("weight").alias("w_degree")
        )
        return (
            self.vertices()
            .join(d, "id", "left")
            .select(
                "id",
                F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
                F.coalesce("w_degree", F.lit(0.0)).alias("w_degree"),
            )
        )

    def in_degrees(self) -> DataFrame:
        d = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("in_degree"), F.sum("weight").alias("w_in_degree")
        )
        return (
            self.vertices()
            .join(d, "id", "left")
            .select(
                "id",
                F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
                F.coalesce("w_in_degree", F.lit(0.0)).alias("w_in_degree"),
            )
        )

    # ------------------------------------------------------------ transforms
    def symmetrized_edges(self) -> DataFrame:
        """Directed message table where every edge can be traversed both ways
        (what undirected algorithms — CC, PLP, triangles — gather over)."""
        if self.directed:
            return _symmetrize(self.edges)
        return self.edges

    # ----------------------------------------------------- mutation (DML)
    # The reference mutates Graph in place (addEdge/removeEdge/setWeight —
    # Graph.hpp:1048-1475, graph.pyx:297-564); the Spark-native analog is
    # functional: each op returns a NEW Graph over a derived edge table
    # (at scale: an Iceberg MERGE/append producing a new snapshot).

    def _with_edges(self, edges: DataFrame, vertices: DataFrame | None = None) -> "Graph":
        return Graph(edges=edges, directed=self.directed, weighted=self.weighted,
                     _vertices=vertices if vertices is not None else self._vertices,
                     num_partitions=self.num_partitions)

    def add_edges(self, new_edges: DataFrame, check_multi_edge: bool = False) -> "Graph":
        """addEdge/addEdges (Graph.cpp:472-526): append rows; dedup only
        when check_multi_edge (reference default keeps multi-edges)."""
        e = _normalize_edges(new_edges, self.weighted)
        if not self.directed:
            e = _symmetrize(e)
        merged = self.edges.unionByName(e)
        if check_multi_edge:
            merged = merged.dropDuplicates(["src", "dst"])
        return self._with_edges(merged)

    def remove_edges(self, to_remove: DataFrame) -> "Graph":
        """removeEdge (graph.pyx:532): anti-join; undirected removes both
        stored directions."""
        pairs = to_remove.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        if not self.directed:
            pairs = pairs.unionByName(
                pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        return self._with_edges(self.edges.join(pairs, ["src", "dst"], "left_anti"))

    def remove_self_loops(self) -> "Graph":
        """removeSelfLoops (graph.pyx:552)."""
        return self._with_edges(self.edges.filter(F.col("src") != F.col("dst")))

    def remove_multi_edges(self) -> "Graph":
        """removeMultiEdges (graph.pyx:564): keep one row per (src, dst)."""
        return self._with_edges(self.edges.dropDuplicates(["src", "dst"]))

    def set_weight(self, u: int, v: int, w: float) -> "Graph":
        """setWeight (Graph.hpp:1447): point update; undirected updates the
        mirrored row too (reference stores both directions)."""
        hit = (F.col("src") == u) & (F.col("dst") == v)
        if not self.directed:
            hit = hit | ((F.col("src") == v) & (F.col("dst") == u))
        updated = self.edges.withColumn(
            "weight", F.when(hit, F.lit(float(w))).otherwise(F.col("weight"))
        )
        return Graph(edges=updated, directed=self.directed, weighted=True,
                     _vertices=self._vertices, num_partitions=self.num_partitions)

    def increase_weight(self, u: int, v: int, dw: float) -> "Graph":
        """increaseWeight (Graph.hpp:1475)."""
        hit = (F.col("src") == u) & (F.col("dst") == v)
        if not self.directed:
            hit = hit | ((F.col("src") == v) & (F.col("dst") == u))
        updated = self.edges.withColumn(
            "weight",
            F.when(hit, F.col("weight") + F.lit(float(dw))).otherwise(F.col("weight")),
        )
        return Graph(edges=updated, directed=self.directed, weighted=True,
                     _vertices=self._vertices, num_partitions=self.num_partitions)

    def add_nodes(self, ids: DataFrame) -> "Graph":
        """addNodes (graph.pyx:297): extend the explicit vertex set."""
        v = self.vertices().unionByName(
            ids.select(F.col("id").cast("long").alias("id"))
        ).distinct()
        return self._with_edges(self.edges, vertices=v)

    def remove_node(self, node: int) -> "Graph":
        """removeNode (graph.pyx:345): drop the vertex and all incident
        edges (id holes are fine — ids are arbitrary longs here)."""
        e = self.edges.filter((F.col("src") != node) & (F.col("dst") != node))
        v = self.vertices().filter(F.col("id") != node)
        return self._with_edges(e, vertices=v)

    def has_edge(self, u: int, v: int) -> bool:
        """hasEdge (Graph.hpp:1350): point-lookup filter."""
        return (
            self.edges.filter((F.col("src") == u) & (F.col("dst") == v)).limit(1).count()
            > 0
        )

    def has_node(self, u: int) -> bool:
        return self.vertices().filter(F.col("id") == u).limit(1).count() > 0

    def weight_of(self, u: int, v: int) -> float | None:
        """weight(u,v) (Graph.hpp:1437); None when the edge is absent
        (reference returns 0.0 / nullWeight)."""
        row = self.edges.filter((F.col("src") == u) & (F.col("dst") == v)).first()
        return float(row["weight"]) if row else None

    def simple_undirected_edges(self) -> DataFrame:
        """Canonical simple undirected edge set: (u < v), deduped, no
        self-loops — the triangle/orientation input
        (LocalClusteringCoefficient.cpp:8-13 requires no self-loops)."""
        e = self.symmetrized_edges()
        return (
            e.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
            )
            .dropDuplicates(["u", "v"])
        )

    # ----------------------------------------------------------- attributes
    @property
    def attributes(self):
        """Lazy per-instance AttributeStore (reference:
        Graph.hpp:163-251 attach/get/detach node+edge attributes).
        Structural mutation helpers return NEW Graph objects that do NOT
        inherit attributes — the reference likewise ties attribute
        validity to the graph object it was attached to."""
        store = getattr(self, "_attr_store", None)
        if store is None:
            from networkit_spark.attributes import AttributeStore

            store = AttributeStore()
            object.__setattr__(self, "_attr_store", store)
        return store

    def attach_node_attribute(self, name: str, of_type: type):
        return self.attributes.attach_node(self, name, of_type)

    def get_node_attribute(self, name: str, of_type: type):
        return self.attributes.get_node(name, of_type)

    def detach_node_attribute(self, name: str) -> None:
        self.attributes.detach_node(name)

    def attach_edge_attribute(self, name: str, of_type: type):
        return self.attributes.attach_edge(self, name, of_type)

    def get_edge_attribute(self, name: str, of_type: type):
        return self.attributes.get_edge(name, of_type)

    def detach_edge_attribute(self, name: str) -> None:
        self.attributes.detach_edge(name)
