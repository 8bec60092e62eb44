"""GEXF reader/writer + DOT writer.

Reference: networkit/graphio.pyx GEXFReader (graphio.pyx:1706-2014),
GEXFWriter (graphio.pyx:2016-2170), DotGraphWriter
(cpp/io/DotGraphWriter.cpp:14-21). Semantics reproduced:

- static mode: node ids map to consecutive internal ids 0..n-1 in
  DOCUMENT ORDER of their <node> elements (GEXFReader.read step 2);
  directedness from <graph defaultedgetype="directed">; the graph is
  weighted iff any <edge> carries an inline weight attribute (step 3);
  missing weight defaults to 1.0.
- dynamic mode (<graph mode="dynamic">): the reference returns
  (Graph, eventStream) where spells become add/restore/delete
  GraphEvents sorted by time. This engine's native dynamic
  representation is the edge-event DataFrame consumed by
  streaming/edge_stream, so read_gexf_events returns exactly that:
  (time double, kind string, u long, v long, w double) with the
  reference's kind codes (an/dn/rn for nodes, ae/de/re for edges) and
  the same spell rules (GEXFReader.parseDynamics): start+end → add (or
  restore if previously deleted) then delete; start only → add/restore;
  end only (or neither) → element belongs to the initial graph.
  Dynamic weight updates (hasDynamicWeights attvalues) are out of scope
  and raise. Node ids accept the reference's two forms: "7" or "n7".
- DOT: the reference writer emits `graph {\\n<u> -- <v>;\\n}` for EVERY
  graph (DotGraphWriter.cpp writes the undirected syntax regardless of
  directedness — quirk reproduced); each undirected edge once.

Scale note: GEXF/DOT are sequential XML/text exchange formats — the
parse/serialize is driver-side by design; the resulting edge table is a
normal distributed DataFrame. Web-scale ingest uses parquet/edge-list/
pages.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find_graph(root: ET.Element) -> ET.Element:
    for el in root.iter():
        if _local(el.tag) == "graph":
            return el
    raise ValueError("no <graph> element in GEXF file")


def _node_int(raw: str) -> int:
    """Reference id forms: '7' or 'n7' (GEXFReader.read step 2)."""
    try:
        return int(raw)
    except ValueError:
        return int(raw[1:])


def read_gexf(spark: SparkSession, path: str) -> Graph:
    """Static-mode GEXFReader parity (see module docstring). For dynamic
    files use read_gexf_events."""
    root = ET.parse(path).getroot()
    graph_el = _find_graph(root)
    if graph_el.get("mode") == "dynamic":
        raise ValueError(
            "dynamic GEXF: use read_gexf_events(spark, path) — this "
            "engine represents event streams as DataFrames "
            "(streaming/edge_stream), not mutable graphs"
        )
    directed = graph_el.get("defaultedgetype") == "directed"

    mapping: dict[str, int] = {}
    for el in graph_el.iter():
        if _local(el.tag) == "node":
            mapping.setdefault(el.get("id"), len(mapping))

    weighted = False
    arcs: list[tuple[int, int, float]] = []
    for el in graph_el.iter():
        if _local(el.tag) != "edge":
            continue
        w = el.get("weight")
        if w is not None:
            weighted = True
        arcs.append(
            (mapping[el.get("source")], mapping[el.get("target")],
             float(w) if w is not None else 1.0)
        )

    edges = local_frame(spark, arcs or [], "src long, dst long, weight double")
    vertices = local_frame(spark, [(i,) for i in range(len(mapping))], "id long")
    return Graph.from_edges(
        edges, directed=directed, weighted=weighted, vertices=vertices
    )


def _spell_events(el: ET.Element) -> list[tuple[float, str]]:
    """One element's spells → [(time, op)] with op ∈ {a, r, d} per
    GEXFReader.parseDynamics; [] means 'initial graph member'."""
    spells = [c for c in el.iter() if _local(c.tag) == "spell"]
    sources = spells if spells else [el]
    out: list[tuple[float, str]] = []
    deleted = False
    for s in sources:
        start = s.get("start") or s.get("startopen") or ""
        end = s.get("end") or s.get("endopen") or ""
        if start != "" and end != "":
            if float(start) < float(end) and not deleted:
                out.append((float(start), "a"))
            else:
                out.append((float(start), "r"))
            out.append((float(end), "d"))
            deleted = True
        elif start != "":
            out.append((float(start), "r" if deleted else "a"))
    return out


def read_gexf_events(spark: SparkSession, path: str) -> tuple[Graph, DataFrame]:
    """Dynamic-mode GEXFReader parity, Spark-native: returns (initial
    Graph, events DataFrame) — the analog of the reference's
    (Graph, eventStream). Events: (time double, kind string, u long,
    v long, w double), kind = an/rn/dn | ae/re/de, sorted by time."""
    root = ET.parse(path).getroot()
    graph_el = _find_graph(root)
    if graph_el.get("mode") != "dynamic":
        raise ValueError("static GEXF: use read_gexf")
    if graph_el.get("timeformat") == "date":
        raise ValueError("date timeformat not supported; use doubles")
    for att in graph_el.iter():
        if _local(att.tag) == "attribute" and att.get("id") == "weight":
            raise ValueError("dynamic edge weights not supported")
    directed = graph_el.get("defaultedgetype") == "directed"

    events: list[tuple[float, str, int, int, float]] = []
    initial_nodes: list[int] = []
    initial_arcs: list[tuple[int, int, float]] = []
    weighted = False

    for el in graph_el.iter():
        tag = _local(el.tag)
        if tag == "node":
            u = _node_int(el.get("id"))
            ops = _spell_events(el)
            if not ops:
                initial_nodes.append(u)
            events.extend((t, op + "n", u, 0, 0.0) for t, op in ops)
        elif tag == "edge":
            u = _node_int(el.get("source"))
            v = _node_int(el.get("target"))
            w = el.get("weight")
            if w is not None:
                weighted = True
            wf = float(w) if w is not None else 1.0
            ops = _spell_events(el)
            if not ops:
                initial_arcs.append((u, v, wf))
            events.extend((t, op + "e", u, v, wf) for t, op in ops)

    edges = local_frame(
        spark, initial_arcs or [], "src long, dst long, weight double"
    )
    vertices = local_frame(spark, [(i,) for i in sorted(initial_nodes)], "id long")
    g = Graph.from_edges(edges, directed=directed, weighted=weighted,
                         vertices=vertices)
    ev = local_frame(
        spark, sorted(events), "time double, kind string, u long, v long, w double"
    )
    return g, ev


def write_gexf(graph: Graph, path: str) -> None:
    """Static GEXFWriter parity: version 1.2, defaultedgetype, nodes
    0..n-1, inline edge weights for weighted graphs, consecutive edge
    ids (GEXFWriter.write steps 1-4)."""
    node_ids = sorted(r["id"] for r in graph.vertices().collect())
    if graph.directed:
        arcs = [
            (r["src"], r["dst"], r["weight"])
            for r in graph.edges.select("src", "dst", "weight").collect()
        ]
    else:
        seen: dict[tuple, float] = {}
        for r in graph.edges.select("src", "dst", "weight").collect():
            key = (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
            seen.setdefault(key, r["weight"])
        arcs = sorted((u, v, w) for (u, v), w in seen.items())

    lines = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">',
        f'  <graph defaultedgetype='
        f'"{"directed" if graph.directed else "undirected"}" mode="static">',
        "    <nodes>",
    ]
    lines.extend(f'      <node id="{nid}"/>' for nid in node_ids)
    lines.append("    </nodes>")
    lines.append("    <edges>")
    for eid, (u, v, w) in enumerate(arcs):
        wattr = f' weight="{float(w)}"' if graph.weighted else ""
        lines.append(f'      <edge id="{eid}" source="{u}" target="{v}"{wattr}/>')
    lines.extend(["    </edges>", "  </graph>", "</gexf>", ""])
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))


def write_dot(graph: Graph, path: str) -> None:
    """DotGraphWriter parity (DotGraphWriter.cpp:14-21): always the
    undirected syntax `graph { u -- v; }` (reference quirk), each edge
    once via forEdges order-insensitively (we emit sorted)."""
    if graph.directed:
        arcs = sorted(
            (r["src"], r["dst"])
            for r in graph.edges.select("src", "dst").collect()
        )
    else:
        arcs = sorted(
            {
                (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
                for r in graph.edges.select("src", "dst").collect()
            }
        )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("graph {\n")
        for u, v in arcs:
            fh.write(f"{u} -- {v};\n")
        fh.write("}\n")


def write_dot_partition(graph: Graph, labels, path: str) -> None:
    """DotPartitionWriter.cpp:8-49 — DOT graph with per-cluster HSV fill
    colors: non-isolated nodes get `u [style=filled,
    color="<hue>,0.99,0.99", label=<c>];` where hue = idx/|clusters|
    over the distinct clusters of non-isolated nodes, then the `u -- v;`
    edge lines. The reference iterates an unordered_set (run-to-run
    hue-assignment nondeterminism); this engine assigns hue indices in
    ASCENDING cluster-label order — the deterministic substitution. The
    label/degree/edge joins run distributed; the bounded text lines are
    written driver-side (terminal sink, GML-family policy)."""
    from pyspark.sql import functions as F

    und = (
        graph.edges.select("src", "dst") if graph.directed
        else graph.symmetrized_edges().select("src", "dst")
    )
    deg = und.groupBy(F.col("src").alias("id")).count().select("id")
    lab = labels.select("id", "label").join(deg, "id", "left_semi")
    rows = sorted((r["id"], r["label"]) for r in lab.collect())
    clusters = sorted({c for _, c in rows})
    factor = 1.0 / len(clusters) if clusters else 0.0
    hue = {c: factor * i for i, c in enumerate(clusters)}
    if graph.directed:
        arcs = sorted(
            (r["src"], r["dst"])
            for r in graph.edges.select("src", "dst").collect()
        )
    else:
        arcs = sorted({
            (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
            for r in graph.edges.select("src", "dst").collect()
        })
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("graph {\n")
        for u, c in rows:
            fh.write(
                f'{u} [style=filled, color="{hue[c]},0.99,0.99", '
                f"label={c}];\n"
            )
        for u, v in arcs:
            fh.write(f"{u} -- {v};\n")
        fh.write("}\n")
