"""DibaP binary graph reader (.gi).

Reference: networkit/cpp/io/DibapGraphReader.cpp:32-183 — big-endian
binary layout:

    short 'GI' magic            (ntohs check, :56-60)
    int   V                     (vertex count)
    int   dvw                   (vertex-weight dimension; dvw·V ints follow)
    int   of[V+1]               (CSR adjacency offsets)
    int   to[of[V]]             (CSR adjacency targets)
    int   dew                   (edge-weight dimension; dew·of[V] ints)
    int   dxy                   (coordinate dimension; dxy·V FLOATS)

Edges are emitted for v <= to[e] (each undirected edge appears in both
adjacency rows; the reader keeps the canonical half, :158-177) with
weight ew[e] when dew > 0 else defaultEdgeWeight = 1. Coordinates are
exposed separately (reference moveCoordinates(); used by the viz tests
with PostscriptWriter).

Spark shape: .gi is a single small binary fixture format (the reference
uses it for one airfoil test mesh) — the header walk is driver-side
numpy (same class of sequential parse as the reference's fread loop);
the resulting edge/coordinate tables are distributed DataFrames like
every other reader's output. Multi-gigabyte binary ingest is the
parquet path, not this format.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


class DibapResult:
    def __init__(self, graph: Graph, coordinates: DataFrame | None):
        self.graph = graph
        self.coordinates = coordinates  # (id, pos array<double>) or None


def read_dibap(spark: SparkSession, path: str) -> DibapResult:
    with open(path, "rb") as fh:
        buf = fh.read()
    off = 0

    def take(dtype, count):
        nonlocal off
        arr = np.frombuffer(buf, dtype=dtype, count=count, offset=off)
        if arr.size != count:
            raise ValueError("bad file structure ")
        off += arr.nbytes
        return arr

    magic = take(">i2", 1)[0]
    if magic != (ord("G") << 8 | ord("I")):
        raise ValueError("bad file structure ")
    v = int(take(">i4", 1)[0])
    dvw = int(take(">i4", 1)[0])
    if dvw > 0:
        take(">i4", v * dvw)  # vertex weights read + discarded (:147 FIXME
        # in the reference: "so far without node weights")
    of = take(">i4", v + 1).astype(np.int64)
    num_e2 = int(of[v])
    to = take(">i4", num_e2).astype(np.int64)
    dew = int(take(">i4", 1)[0])
    ew = take(">i4", num_e2 * dew).astype(np.int64) if dew > 0 else None
    dxy = int(take(">i4", 1)[0])
    # the reference byte-swaps every int (ntohl) but freads the floats
    # RAW (:139-146 — no swap), i.e. host-endian: reproduced exactly
    xy = take("=f4", v * dxy).astype(np.float64) if dxy > 0 else None

    src = np.repeat(np.arange(v, dtype=np.int64), np.diff(of))
    keep = src <= to
    us, vs = src[keep], to[keep]
    if ew is not None:
        ws = ew[: num_e2][keep].astype(np.float64)
    else:
        ws = np.ones(us.size)
    # the reference warns-and-skips duplicate canonical pairs (:161-175)
    seen = {}
    rows = []
    for u, t, w in zip(us.tolist(), vs.tolist(), ws.tolist()):
        if (u, t) in seen:
            continue
        seen[(u, t)] = True
        rows.append((u, t, float(w)))
    edges = local_frame(spark, rows, "src long, dst long, weight double")
    vertices = spark.range(v).select("id")
    g = Graph.from_edges(
        edges, directed=False, weighted=dew > 0, vertices=vertices
    )

    coords = None
    if xy is not None:
        pts = xy.reshape(v, dxy)
        coords = local_frame(
            spark, [(i, [float(c) for c in pts[i]]) for i in range(v)],
            "id long, pos array<double>",
        )
    return DibapResult(g, coords)
