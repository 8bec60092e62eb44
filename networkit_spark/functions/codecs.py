"""Pure-numpy media codecs: BMP / PPM-PGM / WAV decode+encode, nearest
resize, and fixed-width feature kernels.

Why these exist: the multimodal operators (operators/multimodal.py)
carry media as opaque binary columns and run decode / resize / feature
extraction inside Arrow-batched kernels. The container ships no codec
libraries (PIL/soundfile), so rather than stubbing the decode step these
three formats — each a plain header + raw samples, decodable with
nothing but numpy — make the whole pipeline REAL in-container: actual
pixels and PCM samples flow through mapInPandas, resize produces actual
resized images, features are computed from decoded data. Compressed
formats (JPEG/PNG/FLAC/...) remain out of scope without their libraries
and raise a clear error at the sniffer.

All functions are pure (bytes → numpy → bytes), deterministic, and
exercised by round-trip + golden tests (tests/test_codecs.py).
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------- BMP
#
# Windows V3 bitmap: 14-byte file header ('BM', size, reserved, data
# offset) + 40-byte BITMAPINFOHEADER. Only the uncompressed 24-bit
# variant is produced/consumed — the one every tool can write. Rows are
# 4-byte aligned, stored bottom-up (positive height), pixels BGR.


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes → (H, W, 3) uint8 RGB array."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError("unsupported BMP header")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, "
                         f"compression={compression}); only raw 24-bit")
    if width <= 0 or height == 0:
        raise ValueError("corrupt BMP dimensions")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(payload, dtype=np.uint8,
                         count=stride * height, offset=data_off)
    rows = rows.reshape(height, stride)[:, : width * 3]
    img = rows.reshape(height, width, 3)[..., ::-1]  # BGR → RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB array → 24-bit uncompressed BMP bytes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_bmp wants (H, W, 3) uint8")
    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pix = rows.tobytes()
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                           2835, 2835, 0, 0)
    return file_hdr + info_hdr + pix


# --------------------------------------------------------------- PPM/PGM
#
# Netpbm binary: 'P6' (RGB) / 'P5' (gray), ASCII header tokens
# (width height maxval) with '#' comments, one whitespace byte, then raw
# samples. Self-delimiting given the header — which is what makes the
# concatenated-frames video payload below workable.


def _pnm_header(payload: bytes, offset: int) -> tuple[bytes, list[int], int]:
    if len(payload) < offset + 2:
        raise ValueError("not a PNM payload")
    magic = payload[offset:offset + 2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    pos = offset + 2
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PNM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval
    return magic, tokens, pos


def decode_ppm(payload: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """PPM/PGM bytes → ((H, W, 3) or (H, W) uint8 array, bytes consumed).
    `offset` + the returned length lets callers walk concatenated
    frames."""
    magic, (w, h, maxval), pos = _pnm_header(payload, offset)
    if not (0 < maxval < 256):
        raise ValueError("only 8-bit PNM supported")
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    if len(payload) < pos + need:
        raise ValueError("truncated PNM sample data")
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    arr = arr.reshape(h, w, 3) if ch == 3 else arr.reshape(h, w)
    return arr.copy(), pos + need - offset


def encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3) → P6, (H, W) → P5, 8-bit."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 3 and img.shape[2] == 3:
        magic = b"P6"
        h, w = img.shape[:2]
    elif img.ndim == 2:
        magic = b"P5"
        h, w = img.shape
    else:
        raise ValueError("encode_ppm wants (H, W, 3) or (H, W) uint8")
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


# --------------------------------------------------------------- WAV
#
# RIFF/WAVE container, PCM only (format tag 1), 8-bit unsigned or
# 16-bit signed LE. Chunks are walked generically (odd sizes padded),
# so files with LIST/INFO chunks parse fine.


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ((n_samples, n_channels) float64 in [-1, 1], rate)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, channels, rate, _byte_rate, _block_align, bits = fmt
    if tag != 1 or channels < 1:
        raise ValueError(f"unsupported WAV (format tag {tag}); only PCM")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                   - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    n = samples.size // channels
    return samples[: n * channels].reshape(n, channels), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n, ch) float in [-1, 1] → 16-bit PCM WAV bytes."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    pcm = np.clip(np.round(arr * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    ch = arr.shape[1]
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# --------------------------------------------------------- video frames
#
# In-container "video" format: N self-delimiting PPM frames
# concatenated. Real enough to drive frame-sample → decode → feature
# end-to-end without an av library; a real container format drops in at
# the same seam.


def encode_frames(frames: list[np.ndarray]) -> bytes:
    return b"".join(encode_ppm(f) for f in frames)


def decode_frames(payload: bytes) -> list[np.ndarray]:
    out = []
    pos = 0
    while pos < len(payload):
        arr, used = decode_ppm(payload, offset=pos)
        out.append(arr)
        pos += used
    return out


def decode_frame_at(payload: bytes, index: int) -> np.ndarray:
    """Seek to frame `index` by walking headers (no full decode of
    skipped frames' pixels beyond the frombuffer view)."""
    pos = 0
    i = 0
    while pos < len(payload):
        arr, used = decode_ppm(payload, offset=pos)
        if i == index:
            return arr
        pos += used
        i += 1
    raise IndexError(f"frame {index} past end of payload ({i} frames)")


# ------------------------------------------------------------- kernels


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via integer index maps — pure numpy
    gather, no interpolation dependencies."""
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[rows][:, cols]


def image_features(img: np.ndarray, feature_dim: int = 8) -> np.ndarray:
    """[meanR, meanG, meanB, w/4096, h/4096, std/255, 0...] — the same
    leading layout as the PIL-backed decoder so features are
    drop-in-comparable across decode backends."""
    arr = np.asarray(img, dtype=np.float64)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w = arr.shape[:2]
    feats = np.concatenate([
        arr.mean(axis=(0, 1)) / 255.0,
        [w / 4096.0, h / 4096.0, float(arr.std()) / 255.0],
    ])
    out = np.zeros(feature_dim)
    out[: min(feature_dim, feats.size)] = feats[:feature_dim]
    return out


def audio_features(samples: np.ndarray, rate: int,
                   feature_dim: int = 8) -> np.ndarray:
    """[rms, zero-crossing rate, duration/60s, peak, spectral centroid
    (normalized to Nyquist), n_channels/8, 0...]."""
    mono = np.asarray(samples, dtype=np.float64)
    n_ch = 1 if mono.ndim == 1 else mono.shape[1]
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    n = mono.size
    if n == 0:
        return np.zeros(feature_dim)
    rms = float(np.sqrt(np.mean(mono ** 2)))
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    spec = np.abs(np.fft.rfft(mono))
    power = float(spec.sum())
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    centroid = float((spec * freqs).sum() / power) if power > 0 else 0.0
    feats = np.array([
        rms, zcr, n / rate / 60.0, float(np.abs(mono).max()),
        centroid / (rate / 2.0), n_ch / 8.0,
    ])
    out = np.zeros(feature_dim)
    out[: min(feature_dim, feats.size)] = feats[:feature_dim]
    return out
