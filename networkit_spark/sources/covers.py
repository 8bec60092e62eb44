"""Cover / partition / dynamic-event file formats.

Reference:
- CoverReader.cpp:8-32 — non-comment line i lists the member nodes of
  subset i (whitespace separated).
- CoverWriter.cpp:8-25 — one line per subset in ascending subset order,
  members in insertion (ascending node) order, trailing space.
- EdgeListCoverReader.cpp — line = node id (firstNode-based) followed by
  the subsets it belongs to.
- EdgeListPartitionReader.cpp:10-41 — line = "node{sep}cluster",
  firstNode-based node ids.
- DGSReader.cpp:15-120 — DGS004 event stream: `st` (time step), `an
  <name> [attrs]` (add node, names mapped to ids in encounter order),
  `ae <name> <from> <to>` (add edge, weight 1), `ce <from>-<to> <w>`
  (edge weight update), `dn`/`de` analogously for deletions.

Spark shapes: the line-per-SUBSET / line-per-NODE text formats carry
meaning in FILE ORDER, so readers use the engine's line-number pattern
(read_partition precedent); DGS is a sequential event log whose node
names resolve by encounter order — parsed driver-side like the GML
family, emitting the engine's GraphEvent DataFrame
(generators.growth_events schema)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from networkit_spark.session import local_frame


def read_cover(spark: SparkSession, path: str) -> DataFrame:
    """(id, c) membership rows — CoverReader semantics."""
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("lineno"),
        F.trim("value").alias("value"),
    ).filter(~F.col("value").startswith("#"))
    # bounded-window: one sequential text file by definition (the subset
    # index IS the line number)
    w = Window.partitionBy(F.pmod(F.col("lineno"), F.lit(1))).orderBy("lineno")
    numbered = lines.withColumn("c", (F.row_number().over(w) - 1).cast("long"))
    return (
        numbered.select(
            "c", F.explode(F.split("value", r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .select(F.col("tok").cast("long").alias("id"), "c")
    )


def write_cover(cover: DataFrame, path: str):
    """CoverWriter: one line per subset (ascending c), members ascending,
    trailing space — byte parity with the reference writer."""
    (
        cover.groupBy("c")
        .agg(F.array_sort(F.collect_list(F.col("id").cast("string"))).alias("ms"))
        .orderBy("c")
        .select(
            F.concat(F.concat_ws(" ", F.transform(
                F.col("ms"), lambda x: x)), F.lit(" ")).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def read_edge_list_cover(
    spark: SparkSession, path: str, first_node: int = 1
) -> DataFrame:
    """(id, c) — EdgeListCoverReader: line = node followed by its
    subsets; node ids shift down by first_node."""
    lines = (
        spark.read.text(path)
        .select(F.trim("value").alias("value"))
        .filter(~F.col("value").startswith("#") & (F.col("value") != ""))
    )
    toks = lines.select(F.split("value", r"\s+").alias("t"))
    return toks.select(
        (F.element_at("t", 1).cast("long") - first_node).alias("id"),
        F.explode(F.slice("t", 2, 1_000_000)).alias("ctok"),
    ).select("id", F.col("ctok").cast("long").alias("c"))


def read_edge_list_partition(
    spark: SparkSession, path: str, first_node: int = 1, sep: str = " "
) -> DataFrame:
    """(id, label) — EdgeListPartitionReader: 'node{sep}cluster' lines."""
    lines = (
        spark.read.text(path)
        .select(F.trim("value").alias("value"))
        .filter(~F.col("value").startswith("#") & (F.col("value") != ""))
    )
    toks = lines.select(F.split("value", sep).alias("t"))
    return toks.select(
        (F.element_at("t", 1).cast("long") - first_node).alias("id"),
        F.element_at("t", 2).cast("long").alias("label"),
    )


def read_dgs(spark: SparkSession, path: str) -> DataFrame:
    """GraphEvent DataFrame (step, seq, type, u, v, weight) from a
    DGS004 file — DGSStreamParser.cpp:60-110 mapped-tag grammar:
    `st` TIME_STEP; `an`/`dn`/`rn <name>` NODE_ADDITION / NODE_REMOVAL
    / NODE_RESTORATION; `ae <ename> <u> <v> [weight=<w>]` EDGE_ADDITION
    (w defaults to 1.0); `de <u>-<v>` EDGE_REMOVAL; `ce`/`ie
    <u>-<v> weight=<w>` EDGE_WEIGHT_UPDATE / EDGE_WEIGHT_INCREMENT.
    Node names resolve to 0-based ids in encounter order (the parser's
    `map`). Sequential event log → driver-side parse (GML-family
    policy), distributed output."""
    names: dict[str, int] = {}
    rows = []
    step, seq = 1, 0

    def nid(name: str) -> int:
        if name not in names:
            names[name] = len(names)
        return names[name]

    def wval(tok: str) -> float:
        # 'weight=<w>' per the reference; bare numerals tolerated
        return float(tok.rpartition("=")[2])

    with open(path, encoding="utf-8", errors="replace") as fh:
        first = fh.readline().strip()
        if first != "DGS004":
            raise ValueError("expected DGS004 magic cookie")
        fh.readline()  # name / clock / event counts
        for line in fh:
            parts = line.split()
            if not parts:
                continue
            tag = parts[0]
            if tag == "st":
                # tick sentinel seq matches generators.growth_events
                rows.append((step, 1 << 20, "TIME_STEP", None, None, None))
                step, seq = step + 1, 0
            elif tag in ("an", "dn", "rn") and len(parts) >= 2:
                typ = {"an": "NODE_ADDITION", "dn": "NODE_REMOVAL",
                       "rn": "NODE_RESTORATION"}[tag]
                rows.append((step, seq, typ, nid(parts[1]), None, None))
                seq += 1
            elif tag == "ae" and len(parts) >= 4:
                w = wval(parts[4]) if len(parts) >= 5 else 1.0
                rows.append(
                    (step, seq, "EDGE_ADDITION", nid(parts[2]), nid(parts[3]), w)
                )
                seq += 1
            elif tag == "de" and len(parts) >= 2:
                if "-" in parts[1]:
                    a, _, b = parts[1].partition("-")
                else:  # tolerated legacy 'de <ename> <u> <v>'
                    a, b = parts[2], parts[3]
                rows.append(
                    (step, seq, "EDGE_REMOVAL", nid(a), nid(b), None)
                )
                seq += 1
            elif tag in ("ce", "ie") and len(parts) >= 3:
                a, _, b = parts[1].partition("-")
                typ = ("EDGE_WEIGHT_UPDATE" if tag == "ce"
                       else "EDGE_WEIGHT_INCREMENT")
                rows.append(
                    (step, seq, typ, nid(a), nid(b), wval(parts[2]))
                )
                seq += 1
    return local_frame(
        spark, rows,
        "step long, seq long, type string, u long, v long, weight double",
    )


def write_dgs(events: DataFrame, path: str) -> None:
    """DGSWriter.cpp:14-59 — serialize a GraphEvent DataFrame (step,
    seq, type, u, v, weight) as DGS004: header `DGS004 / noname 0 0`,
    then one tag line per event in (step, seq) order (`ae u-v u v
    weight=<w>`, `de u-v`, `ce`/`ie u-v weight=<w>`, `an`/`dn`/`rn u`,
    `st`). Node ids print verbatim (the writer's names); read_dgs maps
    them back in encounter order. Sequential log → ordered driver-side
    write (GML-family policy)."""
    out = ["DGS004", "noname 0 0"]
    for r in events.orderBy("step", "seq").collect():
        t = r["type"]
        if t == "TIME_STEP":
            out.append("st")
        elif t == "NODE_ADDITION":
            out.append(f"an {r['u']}")
        elif t == "NODE_REMOVAL":
            out.append(f"dn {r['u']}")
        elif t == "NODE_RESTORATION":
            out.append(f"rn {r['u']}")
        elif t == "EDGE_ADDITION":
            w = 1.0 if r["weight"] is None else r["weight"]
            out.append(
                f"ae {r['u']}-{r['v']} {r['u']} {r['v']} weight={w:g}"
            )
        elif t == "EDGE_REMOVAL":
            out.append(f"de {r['u']}-{r['v']}")
        elif t == "EDGE_WEIGHT_UPDATE":
            out.append(f"ce {r['u']}-{r['v']} weight={r['weight']:g}")
        elif t == "EDGE_WEIGHT_INCREMENT":
            out.append(f"ie {r['u']}-{r['v']} weight={r['weight']:g}")
        else:
            raise ValueError(f"unknown event type {t!r}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out) + "\n")
