"""graph-tool binary + Rutherford-Boeing readers (§2.1 tail):
round-trips on synthesized fixtures and reference-semantics checks."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.sources.binformats import (
    read_graphtool,
    read_rb,
    write_graphtool,
)
from networkit_spark.session import local_frame


def _edge_set(g, directed):
    if directed:
        return {(r["src"], r["dst"]) for r in g.edges.collect()}
    return {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in g.symmetrized_edges().collect()
    }


@pytest.mark.parametrize("directed", [False, True])
@pytest.mark.parametrize("little", [True, False])
def test_graphtool_roundtrip(spark, tmp_path, directed, little):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)]
    g = Graph.from_pairs(spark, pairs, directed=directed, n=5)  # node 4 isolated
    path = str(tmp_path / "g.gt")
    write_graphtool(g, path, little_endian=little)
    g2 = read_graphtool(spark, path)
    assert g2.directed == directed
    assert g2.num_vertices() == 5
    assert _edge_set(g2, directed) == _edge_set(g, directed)


def test_graphtool_width2_ids(spark, tmp_path):
    # > 255 nodes forces 2-byte adjacency ids (getAdjacencyWidth)
    pairs = [(i, i + 1) for i in range(299)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=300)
    path = str(tmp_path / "wide.gt")
    write_graphtool(g, path)
    g2 = read_graphtool(spark, path)
    assert g2.num_vertices() == 300
    assert _edge_set(g2, False) == _edge_set(g, False)


def test_graphtool_bad_header_raises(spark, tmp_path):
    path = str(tmp_path / "junk.gt")
    with open(path, "wb") as fh:
        fh.write(b"notagraphtoolfile")
    with pytest.raises(ValueError):
        read_graphtool(spark, path)


def _write_rb(path, fmt, n, pointers, rowindex, values=None):
    # 1-indexed compressed-column text per RBMatrixReader.cpp
    with open(path, "w") as fh:
        fh.write("synthetic fixture\n")
        fh.write(f"4 1 1 {1 if values else 0}\n")
        fh.write(f"{fmt} {n} {n} {len(rowindex)}\n")
        fh.write("(10I8) (10I8) (5E16.8)\n")
        fh.write(" ".join(str(p + 1) for p in pointers) + "\n")
        fh.write(" ".join(str(r + 1) for r in rowindex) + "\n")
        if values:
            fh.write(" ".join(str(v) for v in values) + "\n")


def test_rb_symmetric_pattern(spark, tmp_path):
    # lower-triangle pattern of a 4-cycle: cols hold rows > col
    # edges (0,1), (0,3), (1,2), (2,3)
    path = str(tmp_path / "s.rb")
    _write_rb(
        path, "psa", 4,
        pointers=[0, 2, 3, 4, 4],
        rowindex=[1, 3, 2, 3],
    )
    g = read_rb(spark, path)
    assert not g.directed and not g.weighted
    assert _edge_set(g, False) == {(0, 1), (0, 3), (1, 2), (2, 3)}


def test_rb_unsymmetric_real(spark, tmp_path):
    path = str(tmp_path / "u.rb")
    _write_rb(
        path, "rua", 3,
        pointers=[0, 1, 2, 3],
        rowindex=[1, 2, 0],
        values=[2.5, 1.5, 4.0],
    )
    g = read_rb(spark, path)
    assert g.directed and g.weighted
    got = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert got == {(1, 0): 2.5, (2, 1): 1.5, (0, 2): 4.0}


def test_rb_rejects_nonsquare_and_badfmt(spark, tmp_path):
    path = str(tmp_path / "bad.rb")
    with open(path, "w") as fh:
        fh.write("t\n4 1 1 0\npsa 3 4 2\n(I) (I)\n1 2 3\n1 2\n")
    with pytest.raises(ValueError):
        read_rb(spark, path)
    path2 = str(tmp_path / "cfmt.rb")
    with open(path2, "w") as fh:
        fh.write("t\n4 1 1 0\ncsa 3 3 0\n(I) (I)\n1 1 1 1\n\n")
    with pytest.raises(ValueError):
        read_rb(spark, path2)


# ---------------------------------------------------------------- Thrill
def test_thrill_roundtrip(spark, tmp_path):
    pairs = [(0, 1), (1, 2), (2, 3), (0, 3), (1, 1)]  # incl. self-loop
    g = Graph.from_pairs(spark, pairs, directed=False, n=5)
    path = str(tmp_path / "g.thrill")
    from networkit_spark.sources.binformats import read_thrill, write_thrill

    write_thrill(g, path)
    g2 = read_thrill(spark, path, n=5)
    assert g2.num_vertices() == 5
    assert _edge_set(g2, False) == _edge_set(g, False)


def test_thrill_multifile_and_id_check(spark, tmp_path):
    from networkit_spark.sources.binformats import read_thrill, write_thrill

    pairs = [(i, i + 1) for i in range(6)]
    g = Graph.from_pairs(spark, pairs, directed=False, n=7)
    whole = str(tmp_path / "w.thrill")
    write_thrill(g, whole)
    buf = open(whole, "rb").read()
    # split at a record boundary: first node's record is 1 varint byte +
    # one u32 (degree 1: half-edge 0->1)
    p1, p2 = str(tmp_path / "a.bin"), str(tmp_path / "b.bin")
    open(p1, "wb").write(buf[:5])
    open(p2, "wb").write(buf[5:])
    g2 = read_thrill(spark, [p1, p2])
    assert _edge_set(g2, False) == _edge_set(g, False)

    with pytest.raises(ValueError):
        # claim fewer nodes than the max referenced id
        bad = str(tmp_path / "bad.bin")
        open(bad, "wb").write(bytes([1]) + (99).to_bytes(4, "little"))
        read_thrill(spark, bad)


# --------------------------------------------------- binary partitions
@pytest.mark.parametrize("width", [4, 8])
def test_binary_partition_roundtrip(spark, tmp_path, width):
    from networkit_spark.sources.binformats import (
        read_binary_partition,
        write_binary_partition,
    )

    part = local_frame(
        spark, [(0, 5), (1, 5), (2, 9), (3, 0)], "id long, label long"
    )
    path = str(tmp_path / f"p{width}.bin")
    write_binary_partition(part, path, width=width)
    got = {
        (r["id"], r["label"])
        for r in read_binary_partition(spark, path, width=width).collect()
    }
    assert got == {(0, 5), (1, 5), (2, 9), (3, 0)}


def test_binary_partition_bad_length(spark, tmp_path):
    from networkit_spark.sources.binformats import read_binary_partition

    path = str(tmp_path / "bad.bin")
    open(path, "wb").write(b"\x01\x02\x03")  # not a multiple of 4
    with pytest.raises(ValueError):
        read_binary_partition(spark, path, width=4)


def test_binary_edgelist_partition_roundtrip(spark, tmp_path):
    from networkit_spark.sources.binformats import (
        read_binary_edgelist_partition,
        write_binary_edgelist_partition,
    )

    part = local_frame(
        spark, [(0, 2), (1, 2), (2, 7)], "id long, label long"
    )
    path = str(tmp_path / "elp.bin")
    write_binary_edgelist_partition(part, path, first_node=10, width=4)
    got = {
        (r["id"], r["label"])
        for r in read_binary_edgelist_partition(
            spark, path, first_node=10, width=4
        ).collect()
    }
    assert got == {(0, 2), (1, 2), (2, 7)}
    # firstNode violation raises
    with pytest.raises(ValueError):
        read_binary_edgelist_partition(spark, path, first_node=11, width=4)


def test_binary_edgelist_partition_duplicate_last_write_wins(spark, tmp_path):
    """Duplicate id compensated by a gap: reference overwrites zeta[u]
    (last write wins) and leaves the gap element `none`
    (BinaryEdgeListPartitionReader.cpp:64-83); both count checks pass
    because they compare the RAW pair count against max-id+1."""
    import numpy as np

    from networkit_spark.sources.binformats import read_binary_edgelist_partition

    path = str(tmp_path / "dup.bin")
    # pairs (0,5), (0,6), (2,7): id 0 twice, id 1 never
    np.array([0, 5, 0, 6, 2, 7], dtype="<u4").tofile(path)
    rows = {
        r["id"]: r["label"]
        for r in read_binary_edgelist_partition(spark, path, width=4).collect()
    }
    assert rows == {0: 6, 1: None, 2: 7}  # one row per element, last write wins


# ----------------------------------------------------------------- raster
def test_raster_points(spark, tmp_path):
    from networkit_spark.sources.binformats import read_raster

    path = str(tmp_path / "r.asc")
    with open(path, "w") as fh:
        fh.write("ncols         3\n")
        fh.write("nrows         2\n")
        fh.write("xllcorner     0\n")
        fh.write("yllcorner     0\n")
        fh.write("cellsize      1\n")
        fh.write("NODATA_value  -9999\n")
        fh.write("2 0 1\n")
        fh.write("0 3 0\n")
    pts = read_raster(spark, path, normalization_factor=1.0, seed=7)
    rows = pts.collect()
    assert len(rows) == 6  # 2 + 1 + 3 points
    # each point inside its cell's unit square; row 0 -> y in [0,1],
    # row 1 -> y in [-1,0]
    in_cell = {(0, 0): 0, (0, 2): 0, (1, 1): 0}
    for r in rows:
        col = int(np.floor(r["x"]))
        row = int(np.floor(1.0 - r["y"] - 1e-12))
        assert (row, col) in in_cell, (r["x"], r["y"])
        in_cell[(row, col)] += 1
    assert in_cell == {(0, 0): 2, (0, 2): 1, (1, 1): 3}
    # deterministic under the seed
    again = {(round(r["x"], 12), round(r["y"], 12)) for r in
             read_raster(spark, path, normalization_factor=1.0, seed=7).collect()}
    assert {(round(r["x"], 12), round(r["y"], 12)) for r in rows} == again


import numpy as np  # noqa: E402
