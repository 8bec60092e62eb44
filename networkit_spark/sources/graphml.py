"""GraphML reader/writer.

Reference: networkit/graphio.pyx GraphMLSAX (graphio.pyx:2177-2290) and
GraphMLWriter (graphio.pyx:2325-2400). Semantics reproduced:

- nodes get consecutive internal ids 0..n-1 in DOCUMENT ORDER of their
  <node> elements; the XML `id` attribute only keys the edge endpoints
  (GraphMLSAX.startElement: addNode + mapping);
- <graph edgedefault="directed"> makes the graph directed;
- the graph is weighted iff a <key for="edge" attr.name="weight"
  attr.type="double" id=K> is declared; an edge's <data key=K> text is
  then its weight (default 1.0 when the element is absent — the
  reference's edgeweight reset);
- other keys/data are ignored.

Scale note: like GML, GraphML is a sequential XML exchange format — the
PARSE is driver-side by design; the resulting edge table is a normal
distributed DataFrame. Web-scale ingest uses parquet/edge-list/pages.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import SparkSession

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


def _local(tag: str) -> str:
    """Strip XML namespace: '{ns}node' -> 'node'."""
    return tag.rsplit("}", 1)[-1]


def read_graphml(spark: SparkSession, path: str) -> Graph:
    """GraphMLSAX parity (see module docstring)."""
    tree = ET.parse(path)
    root = tree.getroot()

    weight_key = None
    for el in root.iter():
        if (
            _local(el.tag) == "key"
            and el.get("for") == "edge"
            and el.get("attr.name") == "weight"
            and el.get("attr.type") == "double"
        ):
            weight_key = el.get("id")

    directed = False
    node_map: dict[str, int] = {}
    arcs: list[tuple[int, int, float]] = []
    for graph_el in root.iter():
        if _local(graph_el.tag) != "graph":
            continue
        directed = graph_el.get("edgedefault") == "directed"
        for el in graph_el.iter():
            tag = _local(el.tag)
            if tag == "node":
                node_map.setdefault(el.get("id"), len(node_map))
            elif tag == "edge":
                w = 1.0
                if weight_key is not None:
                    for d in el:
                        if _local(d.tag) == "data" and d.get("key") == weight_key:
                            w = float((d.text or "0").strip())
                arcs.append(
                    (node_map[el.get("source")], node_map[el.get("target")], w)
                )
        break  # reference reads the first <graph>

    edges = local_frame(
        spark, arcs or [], "src long, dst long, weight double"
    )
    vertices = local_frame(
        spark, [(i,) for i in range(len(node_map))], "id long"
    )
    return Graph.from_edges(
        edges,
        directed=directed,
        weighted=weight_key is not None,
        vertices=vertices,
    )


def write_graphml(graph: Graph, path: str) -> None:
    """GraphMLWriter parity: nodes 0..n-1, weight key emitted only for
    weighted graphs. Driver-side serialization — exchange format."""
    node_ids = sorted(r["id"] for r in graph.vertices().collect())
    idx = {nid: i for i, nid in enumerate(node_ids)}
    if graph.directed:
        arcs = [
            (r["src"], r["dst"], r["weight"])
            for r in graph.edges.select("src", "dst", "weight").collect()
        ]
    else:
        seen = {}
        for r in graph.edges.select("src", "dst", "weight").collect():
            key = (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
            seen.setdefault(key, r["weight"])
        arcs = sorted((u, v, w) for (u, v), w in seen.items())

    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
    ]
    if graph.weighted:
        lines.append(
            '  <key for="edge" id="w" attr.name="weight" attr.type="double"/>'
        )
    lines.append(
        f'  <graph edgedefault="{"directed" if graph.directed else "undirected"}">'
    )
    for nid in node_ids:
        lines.append(f'    <node id="n{idx[nid]}"/>')
    for u, v, w in arcs:
        if graph.weighted:
            lines.append(
                f'    <edge source="n{idx[u]}" target="n{idx[v]}">'
                f'<data key="w">{float(w)}</data></edge>'
            )
        else:
            lines.append(f'    <edge source="n{idx[u]}" target="n{idx[v]}"/>')
    lines += ["  </graph>", "</graphml>", ""]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
