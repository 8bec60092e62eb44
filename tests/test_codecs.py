"""Pure-numpy media codecs (functions/codecs.py): golden byte layouts,
round-trips, reject cases, and the Spark-side real-decode operators."""

import struct

import numpy as np
import pytest

from networkit_spark.functions import codecs


def _img(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


# ------------------------------------------------------------------ BMP


def test_bmp_roundtrip_various_widths():
    # widths 1..6 cover every 4-byte row-padding residue
    for w in range(1, 7):
        for h in (1, 3, 8):
            img = _img(h, w, seed=w * 10 + h)
            assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(img)), img)


def test_bmp_golden_layout():
    # 2x2 image, known bytes: bottom-up rows, BGR order, stride 8
    img = np.array([[[255, 0, 0], [0, 255, 0]],
                    [[0, 0, 255], [9, 8, 7]]], dtype=np.uint8)
    raw = codecs.encode_bmp(img)
    assert raw[:2] == b"BM"
    assert struct.unpack_from("<I", raw, 10)[0] == 54          # data offset
    assert struct.unpack_from("<ii", raw, 18) == (2, 2)        # w, h
    assert struct.unpack_from("<HH", raw, 26) == (1, 24)       # planes, bpp
    # bottom row first: (0,0,255)->BGR ff 00 00; (9,8,7)->07 08 09
    assert raw[54:60] == bytes([255, 0, 0, 7, 8, 9])
    assert raw[60:62] == b"\x00\x00"                           # row pad
    # top row: (255,0,0)->00 00 ff; (0,255,0)->00 ff 00
    assert raw[62:68] == bytes([0, 0, 255, 0, 255, 0])


def test_bmp_top_down_height_negative():
    img = _img(3, 4, seed=1)
    raw = bytearray(codecs.encode_bmp(img))
    # flip to top-down: negate height, reorder rows accordingly
    struct.pack_into("<i", raw, 22, -3)
    stride = 12
    rows = [bytes(raw[54 + i * stride:54 + (i + 1) * stride]) for i in range(3)]
    raw2 = bytes(raw[:54]) + b"".join(reversed(rows))
    assert np.array_equal(codecs.decode_bmp(raw2), img)


def test_bmp_rejects():
    with pytest.raises(ValueError, match="not a BMP"):
        codecs.decode_bmp(b"XX" + b"\x00" * 60)
    img = _img(2, 2)
    raw = bytearray(codecs.encode_bmp(img))
    struct.pack_into("<H", raw, 28, 8)  # bpp=8
    with pytest.raises(ValueError, match="unsupported BMP variant"):
        codecs.decode_bmp(bytes(raw))
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_bmp(codecs.encode_bmp(img)[:-3])


@pytest.mark.parametrize("width, height", [(0, 2), (-2, 2), (2, 0)])
def test_bmp_rejects_corrupt_dimensions(width, height):
    raw = bytearray(codecs.encode_bmp(_img(2, 2)))
    struct.pack_into("<ii", raw, 18, width, height)
    with pytest.raises(ValueError, match="corrupt BMP dimensions"):
        codecs.decode_bmp(bytes(raw))


# ------------------------------------------------------------------ PNM


def test_ppm_roundtrip_and_consumed():
    img = _img(5, 3, seed=2)
    raw = codecs.encode_ppm(img)
    out, used = codecs.decode_ppm(raw)
    assert used == len(raw)
    assert np.array_equal(out, img)


def test_pgm_grayscale():
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out, used = codecs.decode_ppm(codecs.encode_ppm(g))
    assert out.shape == (3, 4)
    assert np.array_equal(out, g)


def test_ppm_header_comments():
    img = _img(2, 2, seed=3)
    raw = b"P6\n# a comment\n2 2\n# another\n255\n" + img.tobytes()
    out, used = codecs.decode_ppm(raw)
    assert np.array_equal(out, img)
    assert used == len(raw)


def test_ppm_rejects():
    with pytest.raises(ValueError, match="not a binary PGM/PPM"):
        codecs.decode_ppm(b"P3\n1 1\n255\n1 2 3")
    with pytest.raises(ValueError, match="truncated PNM sample"):
        codecs.decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 5)


def test_frames_concat_and_seek():
    frames = [_img(3, 2, seed=i) for i in range(5)]
    payload = codecs.encode_frames(frames)
    back = codecs.decode_frames(payload)
    assert len(back) == 5
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)
    assert np.array_equal(codecs.decode_frame_at(payload, 3), frames[3])
    with pytest.raises(IndexError):
        codecs.decode_frame_at(payload, 5)


# ------------------------------------------------------------------ WAV


def test_wav_roundtrip_mono_stereo():
    rate = 8000
    t = np.arange(400)
    mono = np.sin(2 * np.pi * 440 * t / rate)
    out, r = codecs.decode_wav(codecs.encode_wav(mono, rate))
    assert r == rate and out.shape == (400, 1)
    assert np.allclose(out[:, 0], mono, atol=2.0 / 32768)
    stereo = np.stack([mono, -mono], axis=1)
    out2, _ = codecs.decode_wav(codecs.encode_wav(stereo, rate))
    assert out2.shape == (400, 2)
    assert np.allclose(out2, stereo, atol=2.0 / 32768)


def test_wav_skips_unknown_chunks_and_8bit():
    rate = 8000
    pcm8 = np.array([0, 64, 128, 192, 255], dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    body = (b"LIST" + struct.pack("<I", 4) + b"INFO"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm8)) + pcm8.tobytes())
    raw = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    out, r = codecs.decode_wav(raw)
    assert r == rate
    assert np.allclose(out[:, 0], (pcm8.astype(float) - 128) / 128)


def test_wav_rejects():
    with pytest.raises(ValueError, match="not a WAV"):
        codecs.decode_wav(b"RIFX" + b"\x00" * 40)
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float tag
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 0))
    raw = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError, match="only PCM"):
        codecs.decode_wav(raw)


# -------------------------------------------------------------- kernels


def test_resize_nearest_exact_factors():
    img = _img(8, 4, seed=4)
    half = codecs.resize_nearest(img, 4, 2)
    assert np.array_equal(half, img[::2, ::2])
    double = codecs.resize_nearest(img, 16, 8)
    assert double.shape == (16, 8, 3)
    assert np.array_equal(double[::2, ::2], img)


def test_image_features_golden():
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[..., 0] = 255  # pure red
    f = codecs.image_features(img)
    assert f.shape == (8,)
    assert np.isclose(f[0], 1.0) and f[1] == 0.0 and f[2] == 0.0
    assert np.isclose(f[3], 8 / 4096) and np.isclose(f[4], 4 / 4096)


def test_audio_features_tone():
    rate = 8000
    t = np.arange(rate)  # 1 second
    tone = np.sin(2 * np.pi * 1000 * t / rate)
    f = codecs.audio_features(tone, rate)
    assert np.isclose(f[0], np.sqrt(0.5), atol=1e-3)   # sine RMS
    assert np.isclose(f[2], 1 / 60.0)                   # duration
    assert np.isclose(f[4], 1000 / 4000.0, atol=0.01)   # centroid ≈ tone


# ---------------------------------------------------- Spark operators


def test_resize_images_real(spark):
    from networkit_spark.operators.multimodal import (
        resize_images, synthetic_media)

    media = synthetic_media(spark, n=9)
    out = {r["media_id"]: r for r in resize_images(media, target=16).collect()}
    src = {r["media_id"]: r for r in media.collect() if r["kind"] == "image"}
    assert out.keys() == src.keys()
    for mid, r in out.items():
        assert max(r["width"], r["height"]) == 16
        img = codecs.decode_bmp(bytes(r["payload"]))
        assert img.shape == (r["height"], r["width"], 3)
        # spot-check: resized content equals driver-side resize
        orig = codecs.decode_bmp(bytes(src[mid]["payload"]))
        h, w = orig.shape[:2]
        s = 16 / max(h, w)
        expect = codecs.resize_nearest(
            orig, max(1, round(h * s)), max(1, round(w * s)))
        assert np.array_equal(img, expect)


def test_sampled_frame_features_real(spark):
    from networkit_spark.operators.multimodal import (
        sampled_frame_features, synthetic_media)

    media = synthetic_media(spark, n=9)
    rows = sampled_frame_features(media, every_n=2).collect()
    vids = {r["media_id"]: bytes(r["payload"])
            for r in media.collect() if r["kind"] == "video"}
    assert {r["media_id"] for r in rows} == set(vids)
    for r in rows:
        frame = codecs.decode_frame_at(vids[r["media_id"]], r["frame_index"])
        assert r["frame_index"] % 2 == 0
        assert np.allclose(r["features"], codecs.image_features(frame))
