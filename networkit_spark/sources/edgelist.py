"""Graph file-format readers/writers re-expressed as Spark reads.

Reference surface (SURVEY.md §2.1): EdgeListReader (networkit/include/
networkit/io/EdgeListReader.hpp:24-58), SNAPGraphReader, METISGraphReader
(networkit/cpp/io/METISGraphReader.cpp), PartitionReader/Writer — all
single-threaded C++ line parsers in the reference; here each is a
distributed `spark.read` plan (parallel split reading, predicate/column
pruning for free). The reference's NetworKit-binary format is NOT
replicated: the engine's native storage is the parquet/Iceberg edge
table (SURVEY.md §2.1 row 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from networkit_spark.graph import Graph
from networkit_spark.session import local_frame


def read_edge_list(
    spark: SparkSession,
    path: str,
    separator: str = r"\s+",
    comment_prefix: str = "#",
    directed: bool = False,
    continuous: bool = True,
    first_node: int = 0,
) -> Graph:
    """EdgeListReader semantics: optional 3rd column = weight
    (auto-detected per file, EdgeListReader.cpp:143-152); non-continuous
    ids are remapped to 0..n-1 via a dictionary join
    (EdgeListReader.hpp:49 string→node map analog)."""
    lines = spark.read.text(path).filter(
        ~F.col("value").startswith(comment_prefix) & (F.trim("value") != "")
    )
    parts = lines.select(F.split(F.trim("value"), separator).alias("p"))
    weighted = parts.filter(F.size("p") >= 3).limit(1).count() > 0
    edges = parts.select(
        F.element_at("p", 1).cast("long").alias("src"),
        F.element_at("p", 2).cast("long").alias("dst"),
        (
            F.element_at("p", 3).cast("double")
            if weighted
            else F.lit(1.0)
        ).alias("weight"),
    )
    if first_node:
        edges = edges.select(
            (F.col("src") - first_node).alias("src"),
            (F.col("dst") - first_node).alias("dst"),
            "weight",
        )
    if not continuous:
        ids = (
            edges.select(F.col("src").alias("raw"))
            .unionByName(edges.select(F.col("dst").alias("raw")))
            .distinct()
        )
        from networkit_spark.plans.ranking import global_row_numbers

        mapping = global_row_numbers(ids, "raw", "mapped")
        edges = (
            edges.join(mapping.withColumnRenamed("raw", "src"), "src")
            .withColumnRenamed("mapped", "msrc")
            .join(mapping.withColumnRenamed("raw", "dst"), "dst")
            .select(
                F.col("msrc").alias("src"), F.col("mapped").alias("dst"), "weight"
            )
        )
    return Graph.from_edges(edges, directed=directed, weighted=weighted)


def read_snap(spark: SparkSession, path: str, directed: bool = False) -> Graph:
    """SNAPGraphReader: '#'-commented whitespace edge list
    (SNAPGraphReader.hpp:21-49)."""
    return read_edge_list(spark, path, separator=r"\s+", comment_prefix="#",
                          directed=directed)


def read_konect(spark: SparkSession, path: str,
                directed: bool | None = None) -> Graph:
    """KONECTGraphReader semantics (cpp/io/KONECTGraphReader.cpp:22-150):
    the first '%' property line declares the format — 'sym'/'bip' →
    undirected, 'asym' → directed (bip imported as plain undirected with
    the reference's own caveat); remaining '%' lines are comments; data
    rows are whitespace (u, v[, weight]). Node ids are kept verbatim
    (remapNodes=false default); pass the result through
    graphtools.compact_graph for 0-based continuous ids."""
    if directed is None:
        directed = True  # reference default before the property line
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                if line.startswith("%"):
                    toks = line.lstrip("%").split()
                    if toks and toks[0] in ("sym", "bip"):
                        directed = False
                    elif toks and toks[0] == "asym":
                        directed = True
                break  # only the FIRST line carries the format
    return read_edge_list(spark, path, separator=r"\s+", comment_prefix="%",
                          directed=directed)


def read_metis(spark: SparkSession, path: str) -> Graph:
    """METISGraphReader: header 'n m [fmt]'; line i (1-based) lists the
    neighbors of node i-1 (1-based ids). Distributed: zip line numbers via
    a window over file order (METIS files are single files; order =
    monotonically increasing id within the single partition)."""
    lines = (
        spark.read.text(path)
        .select(
            F.monotonically_increasing_id().alias("lineno"),
            F.trim("value").alias("value"),
        )
        .filter(~F.col("value").startswith("%"))
    )
    # bounded-window: METIS is an inherently sequential single-file text
    # format (line i = node i's adjacency) — order exists only within the
    # one input split, so the global window is the format's own bound.
    w = Window.partitionBy(F.pmod(F.col("lineno"), F.lit(1))).orderBy("lineno")
    numbered = lines.withColumn("rn", F.row_number().over(w))
    header = numbered.filter("rn = 1").select("value").first()["value"].split()
    weighted = len(header) > 2 and header[2] in ("1", "011", "11")
    body = numbered.filter("rn > 1").select(
        (F.col("rn") - 2).alias("src"),
        F.split(F.col("value"), r"\s+").alias("p"),
    )
    if weighted:
        # fmt=1: pairs (neighbor, weight)
        nbrs = body.select(
            "src",
            F.explode(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size("p"), F.lit(2)),
                        lambda i: F.struct(
                            F.element_at(F.col("p"), i).cast("long").alias("dst"),
                            F.element_at(F.col("p"), i + 1).cast("double").alias("weight"),
                        ),
                    ),
                    lambda s: s["dst"].isNotNull(),
                )
            ).alias("e"),
        ).select("src", (F.col("e.dst") - 1).alias("dst"), F.col("e.weight"))
    else:
        nbrs = body.filter(F.col("p") != F.array(F.lit(""))).select(
            "src", F.explode("p").alias("d")
        ).filter(F.col("d") != "").select(
            "src", (F.col("d").cast("long") - 1).alias("dst"), F.lit(1.0).alias("weight")
        )
    # METIS lists each undirected edge in both adjacency rows — keep one.
    once = nbrs.filter(F.col("src") <= F.col("dst"))
    n = int(header[0])
    vertices = spark.range(n).select(F.col("id"))
    return Graph.from_edges(once, directed=False, weighted=weighted, vertices=vertices)


def write_edge_list(graph: Graph, path: str, separator: str = "\t"):
    """EdgeListWriter analog: one '{src}{sep}{dst}[{sep}{weight}]' per arc
    (undirected edges once, u <= v)."""
    e = graph.edges
    if not graph.directed:
        e = e.filter(F.col("src") <= F.col("dst"))
    cols = [F.col("src").cast("string"), F.col("dst").cast("string")]
    if graph.weighted:
        cols.append(F.col("weight").cast("string"))
    e.select(F.concat_ws(separator, *cols).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def read_partition(spark: SparkSession, path: str) -> DataFrame:
    """PartitionReader: line i = subset id of element i → (id, label)."""
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("lineno"), F.trim("value").alias("value")
    )
    # bounded-window: the Partition text format is one label per line in
    # file order — a single sequential file by definition.
    w = Window.partitionBy(F.pmod(F.col("lineno"), F.lit(1))).orderBy("lineno")
    return lines.withColumn("rn", F.row_number().over(w)).select(
        (F.col("rn") - 1).cast("long").alias("id"),
        F.col("value").cast("long").alias("label"),
    )


def write_partition(labels: DataFrame, path: str):
    """PartitionWriter: one label per line, ascending id order (single
    file — partitions are per-vertex metadata, small by construction)."""
    labels.orderBy("id").coalesce(1).select(
        F.col("label").cast("string").alias("value")
    ).write.mode("overwrite").text(path)


# ----------------------------------------------------------- r2.9 writers
def write_metis(graph: Graph, path: str, weighted: bool | None = None):
    """METISGraphWriter.cpp:20-60: header 'n m w', then line i = the
    1-based neighbor list of node i-1 (continuous compact ids when the
    vertex set is non-compact — getContinuousNodeIds parity; weighted
    lines carry 'neighbor weight' pairs). Undirected only, like the
    reference. Fixture-format text file: single ordered output split by
    definition (same bound as write_partition)."""
    if graph.directed:
        raise ValueError("METIS does not support directed graphs")
    if weighted is None:
        weighted = graph.weighted
    from networkit_spark.graphtools import continuous_node_ids

    mapping = continuous_node_ids(graph)
    n = mapping.count()
    m = graph.num_edges()
    e = (
        graph.symmetrized_edges()
        .join(mapping.select(F.col("id").alias("src"), F.col("compact_id").alias("cs")), "src")
        .join(mapping.select(F.col("id").alias("dst"), F.col("compact_id").alias("cd")), "dst")
    )
    token = (
        F.concat_ws(" ", (F.col("cd") + 1).cast("string"), F.col("weight").cast("string"))
        if weighted
        else (F.col("cd") + 1).cast("string")
    )
    adj = (
        e.select("cs", F.struct(F.col("cd"), token.alias("tok")).alias("s"))
        .groupBy("cs")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["tok"]),
                " ",
            ).alias("line")
        )
    )
    body = (
        mapping.select(F.col("compact_id").alias("cs"))
        .join(adj, "cs", "left")
        .select("cs", F.coalesce("line", F.lit("")).alias("value"))
    )
    spark = graph.edges.sparkSession
    header = local_frame(
        spark, [(-1, f"{n} {m} {int(bool(weighted))}")], "cs long, value string"
    )
    header.unionByName(body).orderBy("cs").coalesce(1).select("value").write.mode(
        "overwrite"
    ).text(path)


def write_snap(graph: Graph, path: str):
    """SNAPGraphWriter.cpp:15-25: problem line 'p n m u u 0' followed by
    one '{u} {v}' per edge (forEdges order is adjacency-dependent; the
    readers are order-insensitive, so edges are emitted in canonical
    (u, v) order here). Single text split — fixture format."""
    n = graph.num_vertices()
    m = graph.num_edges()
    if graph.directed:
        e = graph.edges.select("src", "dst")
    else:
        e = (
            graph.symmetrized_edges()
            .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
            .distinct()
        )
    spark = graph.edges.sparkSession
    header = local_frame(
        spark, [(-1, -1, f"p {n} {m} u u 0")], "src long, dst long, value string"
    )
    body = e.select(
        "src", "dst", F.concat_ws(" ", F.col("src").cast("string"), F.col("dst").cast("string")).alias("value")
    )
    header.unionByName(body).orderBy("src", "dst").coalesce(1).select("value").write.mode(
        "overwrite"
    ).text(path)
