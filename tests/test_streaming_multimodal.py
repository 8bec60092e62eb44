"""Structured-Streaming incremental CC + multimodal plumbing."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    numpy_decode,
    resize_plan,
    synthetic_media,
)
from networkit_spark.streaming.edge_stream import (
    incremental_connected_components,
    windowed_edge_counts,
)
from networkit_spark.session import local_frame


def test_warm_start_cc(spark):
    """initial_labels from a previous fixed point converges to the same
    labels as a cold run after new edges merge components."""
    e1 = local_frame(spark, [(0, 1), (2, 3)], "src long, dst long")
    g1 = Graph.from_edges(e1, directed=False)
    r1 = connected_components(g1)
    e2 = local_frame(spark, [(0, 1), (2, 3), (1, 2), (4, 5)], "src long, dst long")
    g2 = Graph.from_edges(e2, directed=False)
    warm = connected_components(g2, initial_labels=r1.labels)
    cold = connected_components(g2)
    assert {tuple(r) for r in warm.labels.collect()} == {
        tuple(r) for r in cold.labels.collect()
    }


def test_incremental_cc_batches(spark):
    """Drive the foreachBatch sink directly with micro-batches."""
    icc = incremental_connected_components(spark)
    b1 = local_frame(spark, [(0, 1), (2, 3)], "src long, dst long")
    icc(b1, 0)
    assert icc.labels.select("label").distinct().count() == 2
    b2 = local_frame(spark, [(1, 2)], "src long, dst long")
    icc(b2, 1)
    labels = {r["id"]: r["label"] for r in icc.labels.collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0}
    assert icc.batches == 2


def test_incremental_cc_streaming_end_to_end(spark, tmp_path):
    """Real readStream → foreachBatch → incremental labels."""
    src_dir = str(tmp_path / "stream_in")
    local_frame(spark, [(0, 1), (2, 3)], "src long, dst long").write.parquet(
        src_dir, mode="overwrite"
    )
    stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
    icc = incremental_connected_components(spark)
    q = stream.writeStream.foreachBatch(icc).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert icc.batches >= 1
    assert icc.labels.select("label").distinct().count() == 2


def test_windowed_edge_counts_batch(spark):
    rows = [("2025-01-01 00:10:00", 1, 2, 1.0), ("2025-01-01 00:40:00", 1, 3, 1.0),
            ("2025-01-01 01:10:00", 2, 3, 1.0)]
    ev = local_frame(spark, rows, "ts string, src long, dst long, weight double")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(str(r["window_start"]), r["src"]): r["n_events" if False else "n_edges"]
           for r in windowed_edge_counts(ev).collect()}
    assert got[("2025-01-01 00:00:00", 1)] == 2
    assert got[("2025-01-01 01:00:00", 2)] == 1


def test_multimodal_features(spark):
    media = synthetic_media(spark, n=12)
    feats = extract_features(media).collect()
    assert len(feats) == 12
    by_id = {r["media_id"]: r["features"] for r in feats}
    # REAL decode (numpy BMP/WAV/PPM codecs): recompute driver-side
    for r in media.collect():
        expect = numpy_decode(bytes(r["payload"]))
        assert np.allclose(by_id[r["media_id"]], expect)
    assert all(len(v) == 8 for v in by_id.values())
    # features come from actual pixels/samples, not byte histograms:
    # every image's leading triple is a mean-RGB in (0, 1)
    img_rows = [r for r in media.collect() if r["kind"] == "image"]
    for r in img_rows:
        lead = by_id[r["media_id"]][:3]
        assert all(0.0 < x < 1.0 for x in lead)


def test_frame_sample_and_resize_prune_payload(spark, tmp_path):
    """Metadata-only queries must prune the binary payload at the parquet
    scan (ReadSchema excludes it) — at 100 TB this is the difference
    between scanning metadata and scanning the media corpus."""
    path = str(tmp_path / "media.parquet")
    synthetic_media(spark, n=9).write.parquet(path, mode="overwrite")
    media = spark.read.parquet(path)
    fs = frame_sample(media, every_n=5)
    assert fs.count() > 0
    plan = fs._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan and "ReadSchema" in plan
    rp = resize_plan(media)
    assert rp.count() == 3  # kind == image every 3rd row
    assert "payload" not in rp._jdf.queryExecution().executedPlan().toString()


def test_unsupported_codec_raises(spark):
    # compressed formats without their library must fail loudly at the
    # sniffer, not mis-decode
    with pytest.raises(ValueError, match="unsupported media payload"):
        numpy_decode(b"\xff\xd8\xff\xe0" + b"\x00" * 64)  # JPEG magic


def test_incremental_cc_deletions_split(spark):
    """DynCC deletion repair: removing a bridge splits its component;
    untouched components keep their labels (localized recompute)."""
    icc = incremental_connected_components(spark)
    # path 0-1-2-3 plus separate component {7,8}
    b1 = local_frame(
        spark, [(0, 1, "add"), (1, 2, "add"), (2, 3, "add"), (7, 8, "add")],
        "src long, dst long, op string",
    )
    icc(b1, 0)
    assert {r["id"]: r["label"] for r in icc.labels.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 0, 7: 7, 8: 7,
    }
    # delete the 1-2 bridge (given in reverse orientation on purpose)
    b2 = local_frame(spark, [(2, 1, "del")], "src long, dst long, op string")
    icc(b2, 1)
    labels = {r["id"]: r["label"] for r in icc.labels.collect()}
    assert labels == {0: 0, 1: 0, 2: 2, 3: 2, 7: 7, 8: 7}


def test_incremental_cc_deletion_no_split_and_mixed_batch(spark):
    """Deleting a cycle edge keeps the component; a batch can mix adds
    and deletes."""
    icc = incremental_connected_components(spark)
    b1 = local_frame(
        spark, [(0, 1, "add"), (1, 2, "add"), (2, 0, "add")],
        "src long, dst long, op string",
    )
    icc(b1, 0)
    b2 = local_frame(
        spark, [(0, 1, "del"), (3, 0, "add")], "src long, dst long, op string"
    )
    icc(b2, 1)
    labels = {r["id"]: r["label"] for r in icc.labels.collect()}
    # cycle edge removal leaves 0-2-1 connected; 3 hangs off 0
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0}


def test_pil_decode_optional(spark):
    # real codec path runs when Pillow exists; otherwise raises the
    # documented NotImplementedError (the guard, not an ImportError leak)
    from networkit_spark.operators.multimodal import have_pil, pil_decode

    if have_pil():
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (8, 4), (255, 0, 0)).save(buf, format="PNG")
        feats = pil_decode(buf.getvalue())
        assert len(feats) == 8
        assert abs(feats[0] - 1.0) < 1e-9  # pure red mean R channel
        media = synthetic_media(spark, 6).filter("kind = 'image'").withColumn(
            "payload", F.lit(buf.getvalue())
        )
        out = extract_features(media, decode_fn=pil_decode).collect()
        assert all(abs(r.features[0] - 1.0) < 1e-9 for r in out)
    else:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            pil_decode(b"\x89PNG fake")


def test_streaming_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState keep-first dedup: a text emitted in batch 1
    is NOT re-emitted when batch 2 repeats it; new texts still pass."""
    from networkit_spark.streaming.stateful import streaming_dedup_first_seen

    src_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "ckpt")
    local_frame(
        spark, [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    ).write.parquet(src_dir, mode="overwrite")

    def run_available():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)
        q = (
            streaming_dedup_first_seen(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_available()
    got = {r["doc_id"]: r["n_dups"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: 1, 3: 0}  # alpha kept doc 1 (min), one dup; beta unique

    # batch 2: repeat alpha (must NOT re-emit), add gamma (must emit)
    local_frame(
        spark, [(9, "alpha"), (4, "gamma")], "doc_id long, text string"
    ).write.mode("append").parquet(src_dir)
    run_available()
    got = {r["doc_id"]: r["n_dups"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: 1, 3: 0, 4: 0}


def test_streaming_running_degrees(spark, tmp_path):
    """Cumulative per-vertex degree across micro-batches."""
    from networkit_spark.streaming.stateful import streaming_running_degrees

    src_dir = str(tmp_path / "edges_in")
    out_dir = str(tmp_path / "deg_out")
    ckpt = str(tmp_path / "deg_ckpt")
    local_frame(spark, [(0, 1), (1, 2)], "src long, dst long").write.parquet(
        src_dir, mode="overwrite"
    )

    def run_available():
        stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
        q = (
            streaming_running_degrees(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_available()
    local_frame(spark, [(1, 3)], "src long, dst long").write.mode(
        "append"
    ).parquet(src_dir)
    run_available()
    # latest row per vertex = cumulative degree: 1 has 3 (edges to 0,2,3)
    latest = (
        spark.read.parquet(out_dir)
        .groupBy("id")
        .agg(F.max("degree").alias("degree"))
        .collect()
    )
    assert {r["id"]: r["degree"] for r in latest} == {0: 1, 1: 3, 2: 1, 3: 1}


def test_incremental_triangle_count(spark):
    """Running total equals a from-scratch recount after every batch
    (adds and deletes)."""
    import itertools
    import random

    from networkit_spark.streaming.edge_stream import incremental_triangle_count

    rng = random.Random(13)
    n = 16
    all_edges = [
        (u, v) for u, v in itertools.combinations(range(n), 2) if rng.random() < 0.4
    ]
    batches = [all_edges[i::3] for i in range(3)]

    def brute(edges):
        es = {tuple(sorted(e)) for e in edges}
        adj = {}
        for u, v in es:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        return sum(1 for u, v in es for w in (adj[u] & adj[v]) if w > v)

    itc = incremental_triangle_count(spark)
    current: list = []
    for b, batch in enumerate(batches):
        current += batch
        df = local_frame(spark, batch, "src long, dst long")
        itc(df, b)
        assert itc.total == brute(current), f"after add batch {b}"

    # delete a batch (with op column), re-check
    dels = [(u, v, "del") for u, v in batches[1]]
    df = local_frame(spark, dels, "src long, dst long, op string")
    itc(df, 99)
    remaining = [e for e in current if e not in batches[1]]
    assert itc.total == brute(remaining), "after delete batch"
