"""Node/edge attribute containers — vertex/edge-table columns, typed.

Reference: Graph.attachNodeIntAttribute / attachNodeDoubleAttribute /
attachNodeStringAttribute and the edge variants
(include/networkit/graph/Graph.hpp:163-251, python surface
networkit/graph.pyx:960-1050 attachNodeAttribute/getNodeAttribute/
detachNodeAttribute). The reference stores per-node std::vectors; the
Spark-first re-expression is a keyed DataFrame per attribute — (id,
value) for node attributes, (src, dst, value) for edge attributes —
which joins against any operator output without leaving the JVM.

Semantics kept from the reference:
- an attribute is attached under a unique name (attaching a taken name
  raises), detached by name, fetched by (name, type);
- values are sparse: reading an unset key raises KeyError-like (the
  reference throws for an unset index);
- attributes belong to THIS graph object; mutation helpers that derive
  a new Graph do not carry them over (the reference invalidates
  attributes on structural change).

Scale notes: `set_df` is the bulk path (one DataFrame swap, no driver
loop); `__setitem__` exists for reference-API parity in tests and is a
driver-side upsert of ONE row — fine at fixture scale, never in a hot
loop. Values persist as parquet (write/read), the columnar analog of
the reference's attribute file format.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from networkit_spark.session import local_frame

_SPARK_TYPES = {int: "long", float: "double", str: "string"}


def _spark_type(of_type: type) -> str:
    if of_type not in _SPARK_TYPES:
        raise TypeError(f"attribute type must be int, float, or str; got {of_type}")
    return _SPARK_TYPES[of_type]


@dataclass
class _Attribute:
    name: str
    of_type: type
    key_cols: tuple[str, ...]
    values: DataFrame  # key_cols + (value,)

    def set_df(self, df: DataFrame) -> None:
        """Bulk (re)assignment: df must carry the key columns + `value`."""
        cols = [F.col(c).cast("long").alias(c) for c in self.key_cols]
        self.values = df.select(
            *cols, F.col("value").cast(_spark_type(self.of_type)).alias("value")
        )

    def _key_filter(self, key):
        if len(self.key_cols) == 1:
            key = (key,)
        cond = F.lit(True)
        for c, k in zip(self.key_cols, key):
            cond = cond & (F.col(c) == int(k))
        return cond

    def __setitem__(self, key, value) -> None:
        spark = self.values.sparkSession
        if len(self.key_cols) == 1:
            row = [(int(key), value)]
        else:
            row = [(int(key[0]), int(key[1]), value)]
        schema = ", ".join(f"{c} long" for c in self.key_cols)
        new = local_frame(
            spark, row, f"{schema}, value {_spark_type(self.of_type)}"
        )
        self.values = self.values.filter(~self._key_filter(key)).unionByName(new)

    def __getitem__(self, key):
        rows = self.values.filter(self._key_filter(key)).take(1)
        if not rows:
            raise ValueError(f"attribute '{self.name}' has no value at {key!r}")
        return self.of_type(rows[0]["value"])

    def get(self, key, default=None):
        rows = self.values.filter(self._key_filter(key)).take(1)
        return self.of_type(rows[0]["value"]) if rows else default

    def to_df(self) -> DataFrame:
        return self.values

    def __len__(self) -> int:
        return self.values.count()

    def write(self, path: str) -> None:
        self.values.write.mode("overwrite").parquet(path)

    def read(self, path: str) -> None:
        self.set_df(self.values.sparkSession.read.parquet(path))


class NodeAttribute(_Attribute):
    pass


class EdgeAttribute(_Attribute):
    pass


@dataclass
class AttributeStore:
    """Per-graph registry of named typed attributes."""

    node: dict[str, NodeAttribute] = field(default_factory=dict)
    edge: dict[str, EdgeAttribute] = field(default_factory=dict)

    def attach_node(self, graph, name: str, of_type: type) -> NodeAttribute:
        if name in self.node:
            raise ValueError(f"node attribute '{name}' already attached")
        spark = graph.edges.sparkSession
        empty = local_frame(
            spark, [], f"id long, value {_spark_type(of_type)}"
        )
        att = NodeAttribute(name, of_type, ("id",), empty)
        self.node[name] = att
        return att

    def attach_edge(self, graph, name: str, of_type: type) -> EdgeAttribute:
        if name in self.edge:
            raise ValueError(f"edge attribute '{name}' already attached")
        spark = graph.edges.sparkSession
        empty = local_frame(
            spark, [], f"src long, dst long, value {_spark_type(of_type)}"
        )
        att = EdgeAttribute(name, of_type, ("src", "dst"), empty)
        self.edge[name] = att
        return att

    def get_node(self, name: str, of_type: type) -> NodeAttribute:
        att = self.node.get(name)
        if att is None or att.of_type is not of_type:
            raise ValueError(f"no node attribute '{name}' of type {of_type}")
        return att

    def get_edge(self, name: str, of_type: type) -> EdgeAttribute:
        att = self.edge.get(name)
        if att is None or att.of_type is not of_type:
            raise ValueError(f"no edge attribute '{name}' of type {of_type}")
        return att

    def detach_node(self, name: str) -> None:
        if name not in self.node:
            raise ValueError(f"no node attribute '{name}'")
        del self.node[name]

    def detach_edge(self, name: str) -> None:
        if name not in self.edge:
            raise ValueError(f"no edge attribute '{name}'")
        del self.edge[name]
