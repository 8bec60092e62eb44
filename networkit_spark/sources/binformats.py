"""Exotic binary/exchange ingest formats: graph-tool binary (.gt) and
Rutherford-Boeing (.rb) — the last §2.1 reader group.

Reference:
- networkit/cpp/io/GraphToolBinaryReader.cpp:14-133 — layout:
    6-byte magic  e2 9b be 20 67 74 ('⛾ gt')
    version byte  0x01
    endian byte   0x00 little / 0x01 big          (:33-57)
    u64 comment length + comment bytes            (:59-68)
    1 byte directed                               (:70-81)
    u64 n                                         (:83-85)
    per node u = 0..n-1: u64 out-degree, then that many node ids of
    width 1/2/4/8 bytes chosen from n             (:87-115)
  Edges add with checkMultiEdge=true (duplicates warn + skip, :117-132).
- networkit/cpp/io/GraphToolBinaryWriter.cpp:20-127 — same layout back;
  undirected graphs list each edge once from the larger endpoint
  (v <= u, :69-81); non-continuous ids remap via getContinuousNodeIds.
- networkit/cpp/io/RBGraphReader.cpp:16-43 + RBMatrixReader.cpp:34-130 —
  Rutherford-Boeing compressed-column text: 4 header lines (title;
  totalRows nPtr nIdx nVal; fmt nCols nRows nVals; fortran formats),
  then 1-indexed pointer rows, row-index rows, value rows. fmt[0] ∈
  {r,i,p} (real/integer/pattern — else throw), fmt[1] == 's' ⇒
  symmetric ⇒ undirected, fmt[2] must be 'a' (assembled). Graph is
  (nCols, weighted=!pattern, directed=!symmetric); square matrices
  only.

Spark shape: both are single-file fixture-EXCHANGE formats (the same
class as DibaP/METIS/GML in this package) — the sequential header walk
runs driver-side over numpy views; the resulting edge table is a
distributed DataFrame like every other reader's output. Multi-gigabyte
ingest is the parquet/Iceberg path, not these formats; the writers
collect driver-side under the package's documented exchange-sink
policy.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import SparkSession, functions as F

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame

_GT_MAGIC = bytes([0xE2, 0x9B, 0xBE, 0x20, 0x67, 0x74])


def _gt_width(n: int) -> int:
    if n < 1 << 8:
        return 1
    if n < 1 << 16:
        return 2
    if n < 1 << 32:
        return 4
    return 8


def read_graphtool(spark: SparkSession, path: str) -> Graph:
    """GraphToolBinaryReader.cpp read(): header/version/endian checks,
    comment skip, directed byte, n, width-packed adjacency lists;
    duplicate arcs are dropped (checkMultiEdge semantics)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if len(buf) < 8 or buf[:6] != _GT_MAGIC or buf[6] != 0x01:
        raise ValueError("File header is broken")
    if buf[7] == 0x00:
        endian = "<"
    elif buf[7] == 0x01:
        endian = ">"
    else:
        raise ValueError("File header is broken")
    off = 8
    (clen,) = struct.unpack_from(f"{endian}Q", buf, off)
    off += 8 + clen
    directed = buf[off] == 0x01
    off += 1
    (n,) = struct.unpack_from(f"{endian}Q", buf, off)
    off += 8
    n = int(n)
    width = _gt_width(n)
    id_dtype = {1: "u1", 2: "u2", 4: "u4", 8: "u8"}[width]

    srcs: list[np.ndarray] = []
    dsts: list[np.ndarray] = []
    for u in range(n):
        (deg,) = struct.unpack_from(f"{endian}Q", buf, off)
        off += 8
        deg = int(deg)
        if deg:
            nbrs = np.frombuffer(buf, dtype=f"{endian}{id_dtype}",
                                 count=deg, offset=off)
            off += deg * width
            srcs.append(np.full(deg, u, dtype="int64"))
            dsts.append(nbrs.astype("int64"))
    if srcs:
        import pandas as pd

        pdf = pd.DataFrame(
            {"src": np.concatenate(srcs), "dst": np.concatenate(dsts)}
        )
        edges = local_frame(spark, pdf).dropDuplicates(["src", "dst"]) \
            .withColumn("weight", F.lit(1.0))
    else:
        edges = local_frame(spark, [], "src long, dst long, weight double")
    return Graph.from_edges(
        edges, directed=directed, vertices=spark.range(n).select("id")
    )


def write_graphtool(graph: Graph, path: str, little_endian: bool = True) -> None:
    """GraphToolBinaryWriter.cpp write(): empty comment; undirected
    graphs emit each edge once from the larger endpoint (v <= u);
    non-continuous ids remap to their sorted rank (getContinuousNodeIds
    parity). Driver-side exchange sink (documented policy)."""
    endian = "<" if little_endian else ">"
    ids = sorted(r["id"] for r in graph.vertices().collect())
    remap = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    width = _gt_width(n)
    id_fmt = {1: "B", 2: "H", 4: "I", 8: "Q"}[width]

    adj: dict[int, list[int]] = {i: [] for i in range(n)}
    if graph.directed:
        for r in graph.edges.select("src", "dst").collect():
            adj[remap[r["src"]]].append(remap[r["dst"]])
    else:
        for r in graph.symmetrized_edges().select("src", "dst").collect():
            u, v = remap[r["src"]], remap[r["dst"]]
            if v <= u:
                adj[u].append(v)
    with open(path, "wb") as fh:
        fh.write(_GT_MAGIC)
        fh.write(bytes([0x01, 0x00 if little_endian else 0x01]))
        fh.write(struct.pack(f"{endian}Q", 0))  # empty comment
        fh.write(bytes([0x01 if graph.directed else 0x00]))
        fh.write(struct.pack(f"{endian}Q", n))
        for u in range(n):
            nbrs = adj[u]
            fh.write(struct.pack(f"{endian}Q", len(nbrs)))
            for v in nbrs:
                fh.write(struct.pack(f"{endian}{id_fmt}", v))


def read_rb(spark: SparkSession, path: str) -> Graph:
    """RBGraphReader.cpp + RBMatrixReader.cpp: Rutherford-Boeing
    compressed-column square matrix → graph. fmt[0] ∈ {r, i, p},
    fmt[1] == 's' ⇒ undirected, fmt[2] must be 'a'; indices in the
    file are 1-based."""
    with open(path) as fh:
        fh.readline()  # title line — text metadata only
        counts_line = fh.readline().split()
        n_ptr, n_idx, n_val = (int(x) for x in counts_line[1:4])
        fmt_line = fh.readline().split()
        fmt, n_cols, n_rows, n_vals = (
            fmt_line[0].lower(),
            int(fmt_line[1]),
            int(fmt_line[2]),
            int(fmt_line[3]),
        )
        if fmt[0] not in "rip":
            raise ValueError(
                "Unsupported format: only real, integer, and pattern "
                "formats are supported."
            )
        pattern_only = fmt[0] == "p"
        symmetric = fmt[1] == "s"
        if fmt[2] != "a":
            raise ValueError(
                "Unsupported format: only compressed column format is supported."
            )
        if n_cols != n_rows:
            raise ValueError(
                "File does not contain a square matrix - cannot parse "
                "this file into a graph!"
            )
        fh.readline()  # fortran format specs — not needed
        body = fh.read().split("\n")

    nums: list[str] = []
    for line in body:
        nums.extend(line.split())
    pointers = np.array(nums[: n_cols + 1], dtype="int64") - 1
    rowindex = (
        np.array(nums[n_cols + 1 : n_cols + 1 + n_vals], dtype="int64") - 1
    )
    if pattern_only:
        values = np.ones(n_vals)
    else:
        values = np.array(
            nums[n_cols + 1 + n_vals : n_cols + 1 + 2 * n_vals], dtype="float64"
        )

    rows = []
    for col in range(n_cols):
        for idx in range(int(pointers[col]), int(pointers[col + 1])):
            rows.append((int(rowindex[idx]), col, float(values[idx])))
    edges = local_frame(spark, rows, "src long, dst long, weight double") \
        if rows else local_frame(spark, [], "src long, dst long, weight double")
    return Graph.from_edges(
        edges,
        directed=not symmetric,
        weighted=not pattern_only,
        vertices=spark.range(n_cols).select("id"),
    )


# ---------------------------------------------------------------- Thrill
# Reference: networkit/cpp/io/ThrillGraphBinaryReader.cpp:10-98 — per
# node u (0-based, concatenated across input files): varint64 degree
# (7-bit groups, high bit = continue, :24-44), then degree × uint32
# little-endian neighbor ids; half-edges are listed from the smaller
# endpoint (writer keeps v with u <= v, ThrillGraphBinaryWriter.cpp:30);
# a neighbor id ≥ the node count throws (:90-93). Undirected output.


def _read_varint(buf: bytes, off: int) -> tuple[int, int]:
    v = 0
    for shift in range(0, 64, 7):
        u = buf[off]
        off += 1
        if shift == 63 and (u & 0xFE):
            raise OverflowError("Overflow during variant64 decoding.")
        v |= (u & 0x7F) << shift
        if not (u & 0x80):
            return v, off
    return v, off


def read_thrill(spark: SparkSession, paths, n: int = 0) -> Graph:
    """ThrillGraphBinaryReader.read: one or many files, concatenated."""
    if isinstance(paths, str):
        paths = [paths]
    buf = b"".join(open(p, "rb").read() for p in paths)
    off = 0
    u = 0
    max_id = -1
    srcs: list[int] = []
    dsts: list[int] = []
    while off < len(buf):
        deg, off = _read_varint(buf, off)
        if deg:
            nbrs = np.frombuffer(buf, dtype="<u4", count=deg, offset=off)
            off += 4 * deg
            max_id = max(max_id, int(nbrs.max()))
            srcs.extend([u] * deg)
            dsts.extend(int(x) for x in nbrs)
        u += 1
    n_final = max(n, u)
    if max_id >= n_final:
        raise ValueError(
            "Maximum read node id larger than number of nodes read."
        )
    edges = (
        local_frame(
            spark, list(zip(srcs, dsts)), "src long, dst long"
        ).withColumn("weight", F.lit(1.0))
        if srcs
        else local_frame(spark, [], "src long, dst long, weight double")
    )
    return Graph.from_edges(
        edges, directed=False, vertices=spark.range(n_final).select("id")
    )


def write_thrill(graph: Graph, path: str) -> None:
    """ThrillGraphBinaryWriter.write: varint degree + u32-LE neighbors,
    half-edges from the smaller endpoint (u <= v). Driver-side exchange
    sink (documented policy); > 2^32-1 nodes raises like the
    reference."""
    ids = sorted(r["id"] for r in graph.vertices().collect())
    if ids and ids[-1] >= (1 << 32) - 1:
        raise ValueError(
            "Thrill binary graphs only support graphs with up to 2^32-1 nodes."
        )
    n = (ids[-1] + 1) if ids else 0
    adj: dict[int, list[int]] = {u: [] for u in range(n)}
    for r in graph.symmetrized_edges().select("src", "dst").collect():
        u, v = r["src"], r["dst"]
        if u <= v:
            adj[u].append(v)
    with open(path, "wb") as fh:
        for u in range(n):
            nbrs = sorted(adj.get(u, ()))
            deg = len(nbrs)
            if not deg:
                fh.write(bytes([0]))
            while deg:
                b = deg & 0x7F
                deg >>= 7
                fh.write(bytes([b | (0x80 if deg else 0)]))
            for v in nbrs:
                fh.write(struct.pack("<I", v))


# ------------------------------------------------------ binary partitions
# Reference: networkit/cpp/io/BinaryPartitionReader.cpp (fixed-width
# little-endian label per line position; width 4 or 8 only, file length
# must divide evenly) and BinaryEdgeListPartitionReader.cpp ((node,
# label) pairs, firstNode offset subtracted, every element 0..max set
# exactly once or throw).


def read_binary_partition(spark: SparkSession, path: str, width: int = 4):
    if width not in (4, 8):
        raise ValueError("Only 4 and 8 are supported widths")
    buf = open(path, "rb").read()
    if len(buf) % width:
        raise ValueError(
            "length of partition file must be a multiple of the width."
        )
    labels = np.frombuffer(buf, dtype=f"<u{width}").astype("int64")
    import pandas as pd

    return local_frame(
        spark, pd.DataFrame({"id": np.arange(len(labels), dtype="int64"), "label": labels})
    )


def write_binary_partition(partition, path: str, width: int = 4) -> None:
    """partition: DataFrame (id, label). Driver-side exchange sink."""
    if width not in (4, 8):
        raise ValueError("Only width 4 and 8 are supported")
    rows = sorted(
        (r["id"], r["label"]) for r in partition.select("id", "label").collect()
    )
    labs = np.array([p for _, p in rows], dtype="int64")
    if width == 4 and labs.size and labs.max() >= 1 << 32:
        raise ValueError("label does not fit width 4; use width 8")
    with open(path, "wb") as fh:
        fh.write(labs.astype(f"<u{width}").tobytes())


def read_binary_edgelist_partition(
    spark: SparkSession, paths, first_node: int = 0, width: int = 4
):
    if width not in (4, 8):
        raise ValueError("Error: width must be 4 or 8")
    if isinstance(paths, str):
        paths = [paths]
    buf = b"".join(open(p, "rb").read() for p in paths)
    pairs = np.frombuffer(buf, dtype=f"<u{width}").astype("int64")
    if pairs.size % 2:
        raise ValueError("truncated (node, label) pair")
    us, ps = pairs[0::2], pairs[1::2]
    if us.size and us.min() < first_node:
        raise ValueError("Error: node smaller than the given firstNode found!")
    us = us - first_node
    n_elems = int(us.max()) + 1 if us.size else 0
    # The reference compares the RAW pair count against max-id+1
    # (read_values vs numberOfElements, BinaryEdgeListPartitionReader
    # .cpp:77-83) — duplicates compensated by gaps pass both checks.
    if us.size < n_elems:
        raise ValueError(
            "Error, read less values than there are elements in the partition."
        )
    if us.size > n_elems:
        raise ValueError(
            "Error, read more values than there are elements in the partition."
        )
    import pandas as pd

    # zeta[u] = p overwrites (reference :68): last write wins per id, so
    # the result has exactly one row per assigned element. Elements never
    # assigned (a gap covered by a duplicate) are the reference's `none`
    # slots — surfaced here as null labels.
    uniq, last_rev_idx = np.unique(us[::-1], return_index=True)
    labels = ps[::-1][last_rev_idx]
    out = pd.DataFrame({"id": np.arange(n_elems, dtype="int64")}).merge(
        pd.DataFrame({"id": uniq, "label": pd.array(labels, dtype="Int64")}),
        on="id",
        how="left",
    )
    return local_frame(spark, out, schema="id long, label long")


def write_binary_edgelist_partition(
    partition, path: str, first_node: int = 0, width: int = 4
) -> None:
    if width not in (4, 8):
        raise ValueError("Width must be 4 or 8")
    rows = sorted(
        (r["id"], r["label"]) for r in partition.select("id", "label").collect()
    )
    flat = np.array(
        [x for u, p in rows for x in (u + first_node, p)], dtype="int64"
    )
    if width == 4 and flat.size and flat.max() >= 1 << 32:
        raise ValueError("value does not fit width 4; use width 8")
    with open(path, "wb") as fh:
        fh.write(flat.astype(f"<u{width}").tobytes())


# ----------------------------------------------------------------- raster
def read_raster(
    spark: SparkSession, path: str, normalization_factor: float = 1.0,
    seed: int = 1,
):
    """RasterReader.cpp:19-106 — ESRI ASCII population raster → 2D point
    cloud: round(value × normalization_factor) points per cell, each
    uniform in the cell's UNIT square (xdelta = ydelta = 1.0 per the
    reference, :52-53): x ∈ [col, col+1], y ∈ [-row, 1-row]. The
    reference draws from its global RNG; this engine uses seeded
    xxhash64 unit draws per (row, col, i) — deterministic, documented
    substitution (same distribution). Header/grid parse is driver-side
    (small text fixtures); the point cloud is generated DISTRIBUTED
    (cells → sequence explode → hash draws), so a dense raster never
    materializes points on the driver. Returns DataFrame (x, y)."""
    with open(path) as fh:
        ncols = int(float(fh.readline().split()[1]))
        nrows = int(float(fh.readline().split()[1]))
        for _ in range(4):
            fh.readline()
        cells = []
        for row in range(nrows):
            vals = fh.readline().split()
            for col in range(ncols):
                # std::round = half away from zero (Python round() banks)
                npts = int(np.floor(float(vals[col]) * normalization_factor + 0.5))
                if npts > 0:
                    cells.append((row, col, npts))
    if not cells:
        return local_frame(spark, [], "x double, y double")
    cdf = local_frame(spark, cells, "row long, col long, npts long")
    denom = float(1 << 53)
    pts = cdf.select(
        "row", "col",
        F.explode(F.sequence(F.lit(1), F.col("npts"))).alias("i"),
    )

    def unit(salt: int):
        h = F.xxhash64("row", "col", "i", F.lit(seed), F.lit(salt))
        return (F.pmod(h, F.lit(1 << 53)).cast("double")) / F.lit(denom)

    return pts.select(
        (F.col("col") + unit(0)).alias("x"),
        (F.lit(1.0) - F.col("row") - 1.0 + unit(1)).alias("y"),
    )
