"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as `binary` columns with a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas UDFs over mapInPandas. Decoding is REAL
in-container for the raw formats a numpy-only environment can parse —
BMP / PPM-PGM images, PCM WAV audio, concatenated-PPM video frames
(functions/codecs.py, round-trip + golden tested): actual pixels and
samples flow through the kernels, resize re-encodes actual resized
images. Compressed formats (JPEG/PNG/...) need their codec libraries:
`pil_decode` import-guards Pillow, and the default sniffer raises a
clear ValueError for magics it cannot parse. `_fake_decode` (byte
histogram) remains available as an explicit, deterministic stand-in.

Scale notes:
- media bytes never pass through a shuffle: all kernels are mapInPandas
  (narrow, partition-local); only extracted features (small, fixed-width)
  flow into joins/aggregations downstream.
- `spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch memory for
  wide binary rows; metadata-only queries prune the binary column at the
  parquet scan (columnar projection — verified in tests via .explain).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from networkit_spark.session import local_frame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int>"
)

FEATURE_DIM = 8


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: byte-histogram features.
    Replace with a real decoder (PIL/av/soundfile) in deployment."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(FEATURE_DIM)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
    return hist / arr.size


def numpy_decode(payload: bytes) -> np.ndarray:
    """Sniff the payload magic and decode with the pure-numpy codecs:
    BMP / PPM / PGM → pixel features, WAV → PCM features, concatenated
    PPM frames (video) → features of frame 0. Raises ValueError for
    formats that need an external codec library."""
    from networkit_spark.functions import codecs

    if payload[:2] == b"BM":
        return codecs.image_features(codecs.decode_bmp(payload), FEATURE_DIM)
    if payload[:2] in (b"P5", b"P6"):
        img, _used = codecs.decode_ppm(payload)
        return codecs.image_features(img, FEATURE_DIM)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, rate = codecs.decode_wav(payload)
        return codecs.audio_features(samples, rate, FEATURE_DIM)
    raise ValueError(
        "unsupported media payload (numpy codecs handle BMP/PPM/PGM/WAV); "
        "pass decode_fn=pil_decode or a custom decoder for other formats"
    )


def extract_features(media: DataFrame,
                     decode_fn: Callable[[bytes], np.ndarray] | None = None) -> DataFrame:
    """(media_id, features: array<double>) — Arrow-batched feature
    extraction; vectorized over each pandas batch. Default decoder is
    the real numpy codec sniffer (numpy_decode)."""
    fn = decode_fn or numpy_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [fn(bytes(p)).tolist() for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.select("media_id", "payload").mapInPandas(
        batches, schema="media_id long, features array<double>"
    )


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """(media_id, frame_index) — which frames a video sampler would
    decode; pure metadata arithmetic, no payload access (the binary
    column is pruned from the scan)."""
    return media.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_index"),
    )


def resize_plan(media: DataFrame, target: int = 224) -> DataFrame:
    """(media_id, scale) — resize factors from metadata only."""
    return media.filter(F.col("kind") == "image").select(
        "media_id",
        (F.lit(target) / F.greatest("meta.width", "meta.height")).alias("scale"),
    )


def resize_images(media: DataFrame, target: int = 224) -> DataFrame:
    """(media_id, payload, width, height) — REAL resize: decode BMP/PPM,
    nearest-neighbor scale so max(h, w) == target (aspect preserved),
    re-encode as BMP. Narrow mapInPandas — payload bytes never shuffle."""
    from networkit_spark.functions import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, payloads, ws, hs = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                if raw[:2] == b"BM":
                    img = codecs.decode_bmp(raw)
                else:
                    img, _ = codecs.decode_ppm(raw)
                h, w = img.shape[:2]
                s = target / max(h, w)
                out = codecs.resize_nearest(
                    img, max(1, round(h * s)), max(1, round(w * s)))
                ids.append(mid)
                payloads.append(codecs.encode_bmp(out))
                hs.append(out.shape[0])
                ws.append(out.shape[1])
            yield pd.DataFrame({"media_id": ids, "payload": payloads,
                                "width": ws, "height": hs})

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(
        batches, schema="media_id long, payload binary, width int, height int"
    )


def sampled_frame_features(media: DataFrame, every_n: int = 10) -> DataFrame:
    """(media_id, frame_index, features) — REAL video frame sampling:
    walk the concatenated-PPM payload, decode only every_n-th frame,
    emit its pixel features. Payload-local; only fixed-width features
    leave the kernel."""
    from networkit_spark.functions import codecs

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, feats = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for i, frame in enumerate(codecs.decode_frames(bytes(p))):
                    if i % every_n:
                        continue
                    ids.append(mid)
                    idxs.append(i)
                    feats.append(
                        codecs.image_features(frame, FEATURE_DIM).tolist())
            yield pd.DataFrame({"media_id": ids, "frame_index": idxs,
                                "features": feats})

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInPandas(
        batches,
        schema="media_id long, frame_index int, features array<double>",
    )


def pil_decode(payload: bytes) -> np.ndarray:
    """Real image decode: mean RGB + normalized size features via PIL,
    padded/truncated to FEATURE_DIM. Import-guarded — PIL is optional in
    this container; deployments with Pillow installed get true pixel
    features, others raise with a clear message (use _fake_decode / a
    custom decode_fn instead)."""
    try:
        import io

        from PIL import Image  # optional dependency
    except ImportError as exc:  # pragma: no cover - container lacks PIL
        raise NotImplementedError(
            "Pillow is not installed in this environment; pass decode_fn="
            "None for the deterministic fake or supply a custom decoder"
        ) from exc
    img = Image.open(io.BytesIO(payload)).convert("RGB")
    arr = np.asarray(img, dtype=np.float64) / 255.0
    feats = np.concatenate(
        [arr.mean(axis=(0, 1)), [img.width / 4096.0, img.height / 4096.0]]
    )
    out = np.zeros(FEATURE_DIM)
    out[: min(FEATURE_DIM, feats.size)] = feats[:FEATURE_DIM]
    return out


def have_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL payloads for tests/benches:
    images are 24-bit BMPs, audio is 16-bit PCM WAV, video is
    concatenated PPM frames — all decodable by the numpy codecs, so the
    full decode → feature / resize / frame-sample pipeline runs on
    actual pixels and samples in-container."""
    from networkit_spark.functions import codecs

    rows = []
    rng = np.random.default_rng(seed)
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        w, h = 8 + i % 24, 8 + (i * 7) % 24
        n_frames = (i % 5) + 1
        rate = 16000
        if kind == "image":
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            payload = codecs.encode_bmp(img)
            n_frames = 1
        elif kind == "audio":
            t = np.arange(64 + (i % 5) * 32)
            samples = np.sin(2 * np.pi * (100 + 20 * i) * t / rate)
            payload = codecs.encode_wav(samples, rate)
        else:
            frames = [
                rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                for _ in range(n_frames)
            ]
            payload = codecs.encode_frames(frames)
        rows.append((i, kind, payload, (w, h, n_frames, rate)))
    return local_frame(spark, rows, MEDIA_SCHEMA)
