"""GEXF reader/writer + DOT writer — reference-semantics fixtures."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.sources.gexf import (
    read_gexf,
    read_gexf_events,
    write_dot,
    write_gexf,
)
from networkit_spark.sources.gml import read_graph
from networkit_spark.session import local_frame

STATIC = """<?xml version="1.0" encoding="UTF-8"?>
<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">
  <graph defaultedgetype="directed" mode="static">
    <nodes>
      <node id="a" label="A"/>
      <node id="b" label="B"/>
      <node id="c" label="C"/>
    </nodes>
    <edges>
      <edge id="0" source="a" target="b" weight="2.5"/>
      <edge id="1" source="b" target="c"/>
    </edges>
  </graph>
</gexf>
"""

DYNAMIC = """<?xml version="1.0" encoding="UTF-8"?>
<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">
  <graph defaultedgetype="undirected" mode="dynamic" timeformat="double">
    <nodes>
      <node id="0"/>
      <node id="1"/>
      <node id="n2">
        <spells><spell start="1.0" end="3.0"/></spells>
      </node>
    </nodes>
    <edges>
      <edge source="0" target="1"/>
      <edge source="1" target="n2" start="1.0"/>
    </edges>
  </graph>
</gexf>
"""


def test_read_static_gexf(spark, tmp_path):
    p = str(tmp_path / "g.gexf")
    open(p, "w").write(STATIC)
    g = read_gexf(spark, p)
    assert g.directed and g.weighted
    assert g.num_vertices() == 3 and g.num_edges() == 2
    # document-order mapping: a→0, b→1, c→2; missing weight → 1.0
    rows = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert rows == {(0, 1): 2.5, (1, 2): 1.0}
    # the sniffing dispatcher routes .gexf here too
    g2 = read_graph(spark, p)
    assert g2.num_edges() == 2 and g2.directed


def test_static_round_trip(spark, tmp_path):
    e = local_frame(
        spark, [(0, 1, 1.5), (1, 2, 1.0), (2, 0, 0.5)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, directed=False, weighted=True)
    p = str(tmp_path / "rt.gexf")
    write_gexf(g, p)
    back = read_gexf(spark, p)
    assert not back.directed and back.weighted
    assert back.num_vertices() == 3 and back.num_edges() == 3
    und = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"])): r["weight"]
        for r in back.edges.collect()
    }
    assert und == {(0, 1): 1.5, (1, 2): 1.0, (0, 2): 0.5}


def test_dynamic_gexf_events(spark, tmp_path):
    p = str(tmp_path / "d.gexf")
    open(p, "w").write(DYNAMIC)
    with pytest.raises(ValueError):
        read_gexf(spark, p)  # dynamic file must use the events reader
    g, ev = read_gexf_events(spark, p)
    # initial graph: nodes 0,1 (no spells) + edge (0,1)
    assert g.num_vertices() == 2 and g.num_edges() == 1 and not g.directed
    events = [(r["time"], r["kind"], r["u"], r["v"]) for r in ev.collect()]
    # node n2: spell start=1 end=3 → add@1, delete@3; edge start=1 → add@1
    assert (1.0, "an", 2, 0) in events
    assert (3.0, "dn", 2, 0) in events
    assert (1.0, "ae", 1, 2) in events
    assert events == sorted(events)


def test_dot_writer_reference_format(spark, tmp_path):
    e = local_frame(
        spark, [(1, 0, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, directed=False)
    p = str(tmp_path / "g.dot")
    write_dot(g, p)
    # DotGraphWriter.cpp quirk: always undirected syntax, each edge once
    assert open(p).read() == "graph {\n0 -- 1;\n1 -- 2;\n}\n"


def test_dot_partition_writer(spark, tmp_path):  # noqa: F811
    """DotPartitionWriter.cpp: filled non-isolated nodes with
    ascending-label hue assignment, isolated nodes skipped, undirected
    edge lines."""
    from networkit_spark.sources.gexf import write_dot_partition

    e = local_frame(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    )
    # node 4 is isolated
    g = Graph.from_edges(e, directed=False, vertices=spark.range(5))
    labels = local_frame(
        spark, [(0, 10), (1, 10), (2, 20), (3, 20), (4, 30)], "id long, label long"
    )
    f = tmp_path / "p.dot"
    write_dot_partition(g, labels, str(f))
    lines = f.read_text().splitlines()
    assert lines[0] == "graph {" and lines[-1] == "}"
    # two clusters among non-isolated nodes -> hues 0.0 and 0.5; the
    # isolated node 4 (cluster 30) contributes neither a line nor a hue
    assert '0 [style=filled, color="0.0,0.99,0.99", label=10];' in lines
    assert '2 [style=filled, color="0.5,0.99,0.99", label=20];' in lines
    assert not any(ln.startswith("4 ") for ln in lines)
    assert "0 -- 1;" in lines and "0 -- 3;" in lines and "1 -- 2;" in lines
