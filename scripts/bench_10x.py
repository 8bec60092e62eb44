"""10x rehearsal (VERDICT r3 'next round' #5): the headline graph suite
at RMAT 2^24 x 16 (~250M deduped arcs, ~10x the 65M-arc scaling input /
~60x the sf0.1 bench graph's work) plus near-dup LSH on a 10x documents
corpus. Emits BENCH_r{N}_10x.json (TENX_OUT) with per-query wall seconds and shuffle
bytes (total written + peak single-stage) read from the Spark REST API,
so a super-linear cliff shows up as numbers, not vibes.

The graph is generated once to parquet (same generator/seed contract as
scripts/scaling_bench.py) so reruns skip generation and the measured
queries read a clean scan, like the Iceberg table at scale.

Usage: python scripts/bench_10x.py    # writes BENCH_r5_10x.json (override with TENX_OUT)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

RMAT_SCALE = int(os.environ.get("TENX_RMAT", "24"))
EDGE_FACTOR = int(os.environ.get("TENX_EDGE_FACTOR", "16"))
UI_PORT = 4049
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, os.environ.get("TENX_OUT", "BENCH_r5_10x.json"))


def rest(appid_path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{appid_path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def shuffle_stats(app_id: str) -> tuple[int, int]:
    """(total shuffle write bytes, max single-stage shuffle write bytes)
    over all completed stages so far."""
    stages = rest(f"applications/{app_id}/stages?status=complete")
    writes = [s.get("shuffleWriteBytes", 0) for s in stages]
    return sum(writes), max(writes, default=0)


def main():
    from networkit_spark.generators import rmat
    from networkit_spark.graph import Graph
    from networkit_spark.operators.components import connected_components_twophase
    from networkit_spark.operators.dedup import near_duplicates
    from networkit_spark.operators.labelprop import label_propagation_fixed
    from networkit_spark.operators.pagerank import (
        NO_SINK_HANDLING,
        PreparedPageRank,
        pagerank_fixed,
    )
    from networkit_spark.operators.triangles import triangles
    from networkit_spark.session import get_spark

    spark = get_spark(
        "bench10x",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # ~250M arcs / 128 partitions = ~2M rows/partition — sized so a
        # partition's shuffle block stays comfortably in executor memory
        # (the sf0.1 bench pins 32; 10x data gets 4x the partitions).
        shuffle_partitions=128,
        extra_conf={
            # DISK shuffle dir, not tmpfs: the 10x queries write 50-100
            # GiB of shuffle; on /dev/shm that RAM competes with the JVM
            # heap and the kernel OOM-kills the executor (observed on the
            # triangle query). On a real cluster this is executor-local
            # NVMe either way.
            "spark.local.dir": "/tmp/spark-10x",
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
        },
    )
    app_id = spark.sparkContext.applicationId

    edges_path = f"/tmp/rmat{RMAT_SCALE}x{EDGE_FACTOR}.parquet"
    if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        print(f"generating RMAT 2^{RMAT_SCALE} x {EDGE_FACTOR} ...", file=sys.stderr)
        rmat(spark, scale=RMAT_SCALE, edge_factor=EDGE_FACTOR).dropDuplicates(
            ["src", "dst"]
        ).repartition(128, "src").write.mode("overwrite").parquet(edges_path)

    times: dict[str, float] = {}
    shuffles: dict[str, dict] = {}
    extra: dict[str, float] = {}
    # TENX_ONLY=triangle_total,near_dup_lsh_10x reruns a subset after a
    # crash; results merge into the existing BENCH_r4_10x.json.
    only = set(filter(None, os.environ.get("TENX_ONLY", "").split(",")))

    # Optional label suffix for subset reruns at a different scale (e.g.
    # TENX_RMAT=23 TENX_LABEL_SUFFIX=_2p23 TENX_ONLY=triangle_total).
    suffix = os.environ.get("TENX_LABEL_SUFFIX", "")

    def _flush():
        """Crash-proof incremental artifact write (merge with existing)."""
        payload = {
            "metric": "tenx_rehearsal_wall",
            "queries": {},
            "shuffle": {},
            "extra": {},
            "unit": "sec",
            "rmat": {"scale": RMAT_SCALE, "edge_factor": EDGE_FACTOR},
        }
        if os.path.exists(OUT):
            with open(OUT) as fh:
                payload.update(json.load(fh))
        payload["queries"].update(times)
        payload["shuffle"].update(shuffles)
        payload["extra"].update(extra)
        payload["value"] = round(sum(payload["queries"].values()), 3)
        with open(OUT, "w") as fh:
            json.dump(payload, fh, indent=1)
        return payload

    def timed(name, fn):
        if only and name not in only:
            print(f"{name}: skipped (TENX_ONLY)", file=sys.stderr)
            return None
        w0, _ = shuffle_stats(app_id)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        w1, peak = shuffle_stats(app_id)
        times[name + suffix] = round(dt, 3)
        shuffles[name + suffix] = {
            "shuffle_write_bytes": w1 - w0,
            "peak_stage_shuffle_bytes": peak,
            "rmat_scale": RMAT_SCALE,
        }
        print(f"{name}: {dt:.2f}s shuffleΔ={(w1-w0)/2**30:.2f}GiB", file=sys.stderr)
        _flush()
        return out

    def force(df):
        return df.agg(F.count("*").alias("n"), *[F.count(c) for c in df.columns]).first()["n"]

    def wanted(*names) -> bool:
        return not only or bool(only & set(names))

    graph_queries = (
        "pagerank_prepare", "pagerank_prepare_bucketed", "bucketed_ingest",
        "pagerank_5iter", "cc_converge", "plp_2iter",
        "triangle_total",
    )
    if wanted(*graph_queries):
        edges = spark.read.parquet(edges_path).persist()
        m = edges.count()
        extra["arcs"] = m
        print(f"graph: {m} arcs", file=sys.stderr)
        g_dir = Graph.from_edges(edges, directed=True, num_partitions=128)

        if wanted("pagerank_prepare_bucketed"):
            # The bucketed-ingest path (sources/bucketed.py): pay the
            # src shuffle ONCE at table write, then prepare reads the
            # layout and plans no exchange. ingest row = the write;
            # prepare row = what every later session pays.
            from networkit_spark.sources.bucketed import (
                read_bucketed_graph, write_edges_bucketed)

            tbl = f"rmat{RMAT_SCALE}x{EDGE_FACTOR}_bucketed"
            timed("bucketed_ingest",
                  lambda: write_edges_bucketed(
                      edges, tbl, 128,
                      path=f"/tmp/{tbl}_tbl", mode="overwrite"))
            g_bkt = read_bucketed_graph(spark, tbl, directed=True)
            prep_b = timed("pagerank_prepare_bucketed",
                           lambda: PreparedPageRank(g_bkt, src_partitioned=True))
            if prep_b is not None:
                prep_b.unpersist()

        if wanted("pagerank_prepare", "pagerank_5iter"):
            prep = timed("pagerank_prepare", lambda: PreparedPageRank(g_dir)) \
                or PreparedPageRank(g_dir)
            timed(
                "pagerank_5iter",
                lambda: force(
                    pagerank_fixed(g_dir, n_iter=5,
                                   distribute_sinks=NO_SINK_HANDLING,
                                   checkpoint_every=5, prepared=prep)
                ),
            )
            if "pagerank_5iter" in times:
                extra["pagerank_edges_per_sec"] = round(
                    5 * m / times["pagerank_5iter"], 1
                )
            prep.unpersist()

        if wanted("cc_converge", "plp_2iter", "triangle_total"):
            und = (
                edges.select(F.least("src", "dst").alias("src"),
                             F.greatest("src", "dst").alias("dst"))
                .dropDuplicates(["src", "dst"])
                .withColumn("weight", F.lit(1.0))
            )
            g_und = Graph.from_edges(und, directed=False, num_partitions=128)
            timed("cc_converge",
                  lambda: force(connected_components_twophase(g_und).labels))
            timed("plp_2iter",
                  lambda: force(label_propagation_fixed(g_und, n_iter=2)))
            timed("triangle_total", lambda: triangles(g_und).count())
        edges.unpersist()

    # 10x documents: copy 0 verbatim (exact LSH behavior preserved),
    # copies 1-9 with an id offset and a distinct salt token appended —
    # near-dups of the original (high n-gram Jaccard), so the candidate
    # pipeline carries ~10-doc near-dup groups, the workload shape a
    # dedup pass sees on a crawl with mirrored pages.
    if wanted("near_dup_lsh_10x"):
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        copies = [docs]
        for i in range(1, 10):
            copies.append(
                docs.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    F.concat("text", F.lit(f" copysalt{i}")).alias("text"),
                    "lang", "source", "n_chars",
                )
            )
        docs10 = copies[0]
        for c in copies[1:]:
            docs10 = docs10.unionByName(c)
        docs10 = docs10.repartition(64).persist()
        extra["docs"] = docs10.count()
        timed("near_dup_lsh_10x",
              lambda: force(near_duplicates(docs10, threshold=0.5)))
        docs10.unpersist()

    # Skewed-boilerplate rehearsal (VERDICT r4 #7): a single boilerplate
    # cluster of 20k byte-identical docs on top of the sf corpus — every
    # band hashes the whole cluster into ONE bucket, 5x over the default
    # max_bucket=4096, so this run actually exercises the hot-bucket
    # salting + star spine at scale. Checks recorded alongside the wall:
    # candidate pairs from the cluster stay ~linear (vs 200M all-pairs),
    # and dedup_clusters keeps the cluster transitively ONE group.
    if wanted("near_dup_lsh_skew"):
        from networkit_spark.operators.dedup import (
            dedup_clusters, lsh_candidate_pairs)

        BOILER = 20_000
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        boiler = spark.range(BOILER).select(
            (F.col("id") + F.lit(900_000_000)).alias("doc_id"),
            F.lit("all rights reserved cookie consent banner please accept "
                  "our terms of service and privacy policy to continue to "
                  "the site content navigation home about contact"
                  ).alias("text"),
            F.lit("en").alias("lang"), F.lit("boiler").alias("source"),
            F.lit(150).alias("n_chars"),
        )
        docs_skew = docs.unionByName(boiler).repartition(64).persist()
        extra["skew_docs"] = docs_skew.count()

        def _skew():
            cand = lsh_candidate_pairs(docs_skew).persist()
            n_cand = cand.count()
            boiler_pairs = cand.filter(
                (F.col("doc_a") >= 900_000_000) & (F.col("doc_b") >= 900_000_000)
            ).count()
            clusters = dedup_clusters(docs_skew, threshold=0.5).persist()
            boiler_clusters = (
                clusters.filter(F.col("doc_id") >= 900_000_000)
                .select("cluster").distinct().count()
            )
            extra["skew_candidate_pairs"] = n_cand
            extra["skew_boiler_pairs"] = boiler_pairs
            extra["skew_boiler_allpairs_would_be"] = BOILER * (BOILER - 1) // 2
            extra["skew_boiler_clusters"] = boiler_clusters  # must be 1
            cand.unpersist()
            clusters.unpersist()

        timed("near_dup_lsh_skew", _skew)
        docs_skew.unpersist()

    payload = _flush()
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
