"""NetworKit binary (nkbg002/nkbg003) reader + writer: varint codec vs
the documented spec, golden cross-format fixtures, round-trips.

Golden anchor: the reference ships the SAME graph as
input/foodweb-baydry.{konect,nkbg002,nkbg003} — the binary pair was
written from the KONECT read after continuous-id remap, so
nkbg == konect with ids shifted to 0-based."""

import random
import struct

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.sources.nkbg import (
    WF_DOUBLE,
    WF_FLOAT,
    WF_SIGNED,
    WF_VARINT,
    _parse_header,
    read_networkit_binary,
    read_networkit_binary_edge_ids,
    varint_decode_block,
    varint_encode_block,
    write_networkit_binary,
    zigzag_decode,
    zigzag_encode,
)
from networkit_spark.session import local_frame

V3 = "/root/reference/input/foodweb-baydry.nkbg003"
V2 = "/root/reference/input/foodweb-baydry.nkbg002"
KONECT = "/root/reference/input/foodweb-baydry.konect"


# ------------------------------------------------------------- codec


def _encode_one_spec(value: int) -> bytes:
    """Scalar transliteration of the documented varint
    (NetworkitBinaryGraph.hpp:70-103): LSB-set-position header byte."""
    if value == 0:
        return bytes([1])
    if value >= 1 << 56:
        return bytes([0]) + value.to_bytes(8, "little")
    bits = value.bit_length()
    data_bytes = (bits - 1) // 7
    b0 = (1 << data_bytes) | ((value << (data_bytes + 1)) & 0xFF)
    rest = value >> (7 - data_bytes)
    return bytes([b0]) + rest.to_bytes(data_bytes, "little")


def test_varint_codec_matches_spec():
    rng = random.Random("nkbg:varint")
    vals = [0, 1, 2, 63, 64, 127, 128, 255, 256, (1 << 14) - 1, 1 << 14,
            (1 << 21) - 1, 1 << 21, (1 << 49) - 1, (1 << 56) - 1, 1 << 56,
            (1 << 64) - 1]
    vals += [rng.getrandbits(rng.randint(1, 64)) for _ in range(4000)]
    ref = b"".join(_encode_one_spec(v) for v in vals)
    arr = np.array(vals, dtype=np.uint64)
    enc, lens = varint_encode_block(arr)
    assert enc.tobytes() == ref
    assert int(lens.sum()) == len(ref)
    dec = varint_decode_block(np.frombuffer(ref, dtype=np.uint8))
    assert np.array_equal(dec, arr)


def test_varint_truncated_raises():
    enc, _ = varint_encode_block(np.array([1 << 30], dtype=np.uint64))
    with pytest.raises(ValueError, match="truncated"):
        varint_decode_block(enc[:-1])


def test_zigzag_sign_in_lsb():
    v = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), -123456789], dtype=np.int64)
    enc = zigzag_encode(v)
    # sign lives in the LSB (hpp:127-131): negatives are odd
    assert np.array_equal((enc & np.uint64(1)).astype(bool), v < 0)
    assert np.array_equal(zigzag_decode(enc), v)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                    min_size=1, max_size=50))
    def test_varint_roundtrip_property(vals):
        arr = np.array(vals, dtype=np.uint64)
        enc, lens = varint_encode_block(arr)
        assert enc.tobytes() == b"".join(_encode_one_spec(v) for v in vals)
        assert np.array_equal(varint_decode_block(enc), arr)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=-(1 << 62), max_value=(1 << 62) - 1),
                    min_size=1, max_size=50))
    def test_zigzag_roundtrip_property(vals):
        arr = np.array(vals, dtype=np.int64)
        assert np.array_equal(zigzag_decode(zigzag_encode(arr)), arr)
except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def test_bad_magic_raises(tmp_path):
    p = tmp_path / "bad.nkbg"
    p.write_bytes(b"nkbXXXXX" + b"\x00" * 88)
    with pytest.raises(ValueError, match="magic"):
        _parse_header(str(p))


def test_short_header_raises_value_error(tmp_path):
    # A file shorter than its version's header must raise ValueError,
    # not a bare struct.error (ADVICE r4).
    p3 = tmp_path / "short.nkbg003"
    p3.write_bytes(b"nkbg003\x00" + b"\x00" * 16)
    with pytest.raises(ValueError, match="corrupt nkbg header"):
        _parse_header(str(p3))
    p2 = tmp_path / "short.nkbg002"
    p2.write_bytes(b"nkbg002\x00" + b"\x00" * 16)
    with pytest.raises(ValueError, match="corrupt nkbg header"):
        _parse_header(str(p2))


def test_disordered_offsets_raise(tmp_path):
    # Non-monotone block offsets (or offsets past EOF) must be rejected
    # with a descriptive message instead of confusing downstream errors.
    p = tmp_path / "disordered.nkbg003"
    vals = [0, 0, 4, 1,
            200, 150, 0, 0, 0, 0, 0]  # off_adj < off_base
    p.write_bytes(b"nkbg003\x00" + struct.pack("<11Q", *vals) + b"\x00" * 200)
    with pytest.raises(ValueError, match="corrupt nkbg header"):
        _parse_header(str(p))
    p2 = tmp_path / "pasteof.nkbg003"
    vals2 = [0, 0, 4, 1, 96, 10**9, 0, 0, 0, 0, 0]  # off_adj beyond EOF
    p2.write_bytes(b"nkbg003\x00" + struct.pack("<11Q", *vals2) + b"\x00" * 8)
    with pytest.raises(ValueError, match="corrupt nkbg header"):
        _parse_header(str(p2))


def test_varint_nine_byte_values_no_undefined_shift():
    # db==8 lanes must not evaluate a >=64-bit shift even in a discarded
    # branch (ADVICE r4): encode a block of only-full-width values mixed
    # with small ones and check exact bytes + round-trip.
    vals = np.array([(1 << 64) - 1, 1, (1 << 56), 127, (1 << 63)],
                    dtype=np.uint64)
    ref = b"".join(_encode_one_spec(int(v)) for v in vals)
    enc, lens = varint_encode_block(vals)
    assert enc.tobytes() == ref
    assert np.array_equal(varint_decode_block(enc), vals)


# ------------------------------------------------------------- golden


def _edge_key(g):
    return sorted(
        (r["src"], r["dst"], round(r["weight"], 6)) for r in g.edges.collect()
    )


@pytest.mark.parametrize("path", [V3, V2], ids=["nkbg003", "nkbg002"])
def test_golden_foodweb_vs_konect(spark, path):
    from networkit_spark.sources.edgelist import read_konect

    g = read_networkit_binary(spark, path)
    gk = read_konect(spark, KONECT)
    assert g.directed and g.weighted
    assert g.vertices().count() == 128
    konect_shifted = sorted(
        (r["src"] - 1, r["dst"] - 1, round(r["weight"], 6))
        for r in gk.edges.collect()
    )
    assert _edge_key(g) == konect_shifted
    assert len(konect_shifted) == 2137


def test_dispatcher_sniffs_nkbg(spark, tmp_path):
    from networkit_spark.sources.gml import read_graph

    # by extension
    g = read_graph(spark, V3)
    assert g.edges.count() == 2137
    # by magic bytes with a neutral extension
    p = tmp_path / "mystery.bin"
    p.write_bytes(open(V3, "rb").read())
    g2 = read_graph(spark, str(p))
    assert g2.edges.count() == 2137


# ---------------------------------------------------------- round-trip


@pytest.mark.parametrize("directed", [False, True])
@pytest.mark.parametrize("chunks", [1, 3, 64])
def test_roundtrip_unweighted(spark, tmp_path, directed, chunks):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (4, 4)]  # incl. self-loop
    g = Graph.from_pairs(spark, pairs, directed=directed, n=6)  # node 5 isolated
    path = str(tmp_path / "g.nkbg")
    write_networkit_binary(g, path, chunks=chunks)
    hdr = _parse_header(path)
    assert hdr["directed"] == directed and hdr["wfmt"] == 0
    assert hdr["chunks"] == min(chunks, 6)
    g2 = read_networkit_binary(spark, path)
    assert g2.directed == directed
    assert g2.vertices().count() == 6
    assert _edge_key(g2) == _edge_key(g)


@pytest.mark.parametrize(
    "weights,wfmt",
    [([3.0, 7.0, 0.0, 2**57 * 1.0], WF_VARINT),
     ([-3.0, 7.0, 0.0, -1.0], WF_SIGNED),
     ([0.5, -2.25, 7.0, 1e10], WF_FLOAT),
     ([1 / 3, 0.1, -7.77, 2.0], WF_DOUBLE)],
    ids=["varint", "signed", "float", "double"],
)
def test_roundtrip_weight_autodetect(spark, tmp_path, weights, wfmt):
    pairs = [(0, 1, weights[0]), (1, 2, weights[1]), (2, 0, weights[2]),
             (0, 3, weights[3])]
    g = Graph.from_pairs(spark, pairs, directed=True, weighted=True)
    path = str(tmp_path / "w.nkbg")
    write_networkit_binary(g, path, chunks=2)
    assert _parse_header(path)["wfmt"] == wfmt
    g2 = read_networkit_binary(spark, path)
    assert g2.weighted
    got = {(r["src"], r["dst"]): r["weight"] for r in g2.edges.collect()}
    for (u, v, w) in pairs:
        if wfmt == WF_FLOAT:
            assert got[(u, v)] == pytest.approx(w, rel=1e-6)
        else:
            assert got[(u, v)] == w


def test_roundtrip_undirected_weighted(spark, tmp_path):
    pairs = [(0, 1, 2.5), (1, 2, 0.75), (2, 2, 4.0), (0, 3, 1.25)]
    g = Graph.from_pairs(spark, pairs, directed=False, weighted=True)
    path = str(tmp_path / "uw.nkbg")
    write_networkit_binary(g, path, chunks=3)
    g2 = read_networkit_binary(spark, path)
    assert not g2.directed and g2.weighted
    assert _edge_key(g2) == _edge_key(g)


def test_deleted_nodes_flag_bit(spark, tmp_path):
    # Vertex set {0,1,3} with max id 3 → flag byte of node 2 is unset,
    # the reader removes it (Reader.cpp:103-110).
    import pyspark.sql.functions as F

    e = local_frame(spark, [(0, 1, 1.0), (1, 3, 1.0)],
                              "src long, dst long, weight double")
    v = local_frame(spark, [(0,), (1,), (3,)], "id long")
    g = Graph.from_edges(e, directed=True, vertices=v)
    path = str(tmp_path / "del.nkbg")
    write_networkit_binary(g, path)
    g2 = read_networkit_binary(spark, path)
    assert sorted(r["id"] for r in g2.vertices().collect()) == [0, 1, 3]
    assert _edge_key(g2) == _edge_key(g)


@pytest.mark.parametrize("directed", [False, True])
def test_edge_ids_roundtrip(spark, tmp_path, directed):
    pairs = [(0, 1), (1, 2), (2, 3), (1, 3)]
    g = Graph.from_pairs(spark, pairs, directed=directed, n=4)
    ids = local_frame(
        spark, [(u, v, 10 + i) for i, (u, v) in enumerate(pairs)],
        "src long, dst long, eid long",
    )
    path = str(tmp_path / "ids.nkbg")
    write_networkit_binary(g, path, chunks=2, edge_ids=ids)
    hdr = _parse_header(path)
    assert hdr["indexed"]
    got = read_networkit_binary_edge_ids(spark, path)
    want = {}
    for i, (u, v) in enumerate(pairs):
        key = (u, v) if directed else (max(u, v), min(u, v))
        want[key] = 10 + i
    assert {(r["src"], r["dst"]): r["eid"] for r in got.collect()} == want
    # an unindexed file refuses
    plain = str(tmp_path / "plain.nkbg")
    write_networkit_binary(g, plain)
    with pytest.raises(ValueError, match="no edge ids"):
        read_networkit_binary_edge_ids(spark, plain)


def test_header_layout_matches_reference_struct(tmp_path, spark):
    """The written header must be byte-laid-out like nkbg::Header:
    8-byte magic then 11 LE u64 (96 bytes), offsets strictly ordered."""
    g = Graph.from_pairs(spark, [(0, 1), (1, 2)], directed=True, n=3)
    path = str(tmp_path / "h.nkbg")
    write_networkit_binary(g, path, chunks=2)
    raw = open(path, "rb").read()
    assert raw[:8] == b"nkbg003\x00"
    fields = struct.unpack_from("<11Q", raw, 8)
    checksum, features, nodes, chunks, off_base, off_adj, off_transp, *_ = fields
    assert checksum == 0 and nodes == 3 and chunks == 2
    assert off_base == 96
    assert 96 < off_adj < off_transp <= len(raw)
