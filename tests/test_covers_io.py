"""Cover / edge-list-partition / DGS format readers and writers —
round trips and reference format fixtures."""

import os

from networkit_spark.sources.covers import (
    read_cover,
    read_dgs,
    read_edge_list_cover,
    read_edge_list_partition,
    write_cover,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def test_cover_round_trip(spark, tmp_path):  # noqa: F811
    src = tmp_path / "in.cover"
    src.write_text("# comment\n0 1 2 \n3 4 \n2 5 \n")
    got = {(r["id"], r["c"]) for r in read_cover(spark, str(src)).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (2, 2), (5, 2)}
    out = str(tmp_path / "out.cover")
    write_cover(read_cover(spark, str(src)), out)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    body = open(os.path.join(out, files[0])).read()
    assert body == "0 1 2 \n3 4 \n2 5 \n"
    again = {(r["id"], r["c"]) for r in read_cover(spark, out).collect()}
    assert again == got


def test_edge_list_cover_and_partition(spark, tmp_path):  # noqa: F811
    f = tmp_path / "elc.txt"
    f.write_text("# hdr\n1 0 2\n2 1\n3 0\n")
    got = {(r["id"], r["c"])
           for r in read_edge_list_cover(spark, str(f), first_node=1).collect()}
    assert got == {(0, 0), (0, 2), (1, 1), (2, 0)}
    p = tmp_path / "elp.txt"
    p.write_text("1 5\n2 5\n3 7\n")
    lab = {(r["id"], r["label"])
           for r in read_edge_list_partition(spark, str(p)).collect()}
    assert lab == {(0, 5), (1, 5), (2, 7)}


def test_dgs_events(spark, tmp_path):  # noqa: F811
    f = tmp_path / "g.dgs"
    f.write_text(
        "DGS004\n"
        "g 3 9\n"
        "an a\nan b\nae e1 a b\nst\n"
        "an c\nae e2 b c\nce a-b 2.5\nst\n"
        "de e1 a b\ndn a\nst\n"
    )
    ev = sorted(
        ((r["step"], r["seq"], r["type"], r["u"], r["v"], r["weight"])
         for r in read_dgs(spark, str(f)).collect())
    )
    assert ev == [
        (1, 0, "NODE_ADDITION", 0, None, None),
        (1, 1, "NODE_ADDITION", 1, None, None),
        (1, 2, "EDGE_ADDITION", 0, 1, 1.0),
        (1, 1048576, "TIME_STEP", None, None, None),
        (2, 0, "NODE_ADDITION", 2, None, None),
        (2, 1, "EDGE_ADDITION", 1, 2, 1.0),
        (2, 2, "EDGE_WEIGHT_UPDATE", 0, 1, 2.5),
        (2, 1048576, "TIME_STEP", None, None, None),
        (3, 0, "EDGE_REMOVAL", 0, 1, None),
        (3, 1, "NODE_REMOVAL", 0, None, None),
        (3, 1048576, "TIME_STEP", None, None, None),
    ]


def test_dgs_reference_grammar(spark, tmp_path):  # noqa: F811
    """DGSStreamParser.cpp:60-110 mapped grammar incl. weight=<w>,
    de u-v, ie, rn."""
    from networkit_spark.sources.covers import read_dgs

    f = tmp_path / "ref.dgs"
    f.write_text(
        "DGS004\n"
        "noname 0 0\n"
        "an a\nan b\nae a-b a b weight=2.5\nst\n"
        "ce a-b weight=0.75\nie a-b weight=0.25\n"
        "de a-b\ndn a\nrn a\nst\n"
    )
    ev = sorted(
        ((r["step"], r["seq"], r["type"], r["u"], r["v"], r["weight"])
         for r in read_dgs(spark, str(f)).collect())
    )
    assert ev == [
        (1, 0, "NODE_ADDITION", 0, None, None),
        (1, 1, "NODE_ADDITION", 1, None, None),
        (1, 2, "EDGE_ADDITION", 0, 1, 2.5),
        (1, 1048576, "TIME_STEP", None, None, None),
        (2, 0, "EDGE_WEIGHT_UPDATE", 0, 1, 0.75),
        (2, 1, "EDGE_WEIGHT_INCREMENT", 0, 1, 0.25),
        (2, 2, "EDGE_REMOVAL", 0, 1, None),
        (2, 3, "NODE_REMOVAL", 0, None, None),
        (2, 4, "NODE_RESTORATION", 0, None, None),
        (2, 1048576, "TIME_STEP", None, None, None),
    ]


def test_dgs_round_trip(spark, tmp_path):  # noqa: F811
    """write_dgs (DGSWriter.cpp format) → read_dgs is the identity when
    node first-encounters arrive in id order (the mapped-id contract)."""
    from networkit_spark.sources.covers import read_dgs, write_dgs

    rows = [
        (1, 0, "NODE_ADDITION", 0, None, None),
        (1, 1, "NODE_ADDITION", 1, None, None),
        (1, 2, "NODE_ADDITION", 2, None, None),
        (1, 3, "EDGE_ADDITION", 0, 1, 3.0),
        (1, 1 << 20, "TIME_STEP", None, None, None),
        (2, 0, "EDGE_ADDITION", 1, 2, 1.0),
        (2, 1, "EDGE_WEIGHT_UPDATE", 0, 1, 0.5),
        (2, 2, "EDGE_WEIGHT_INCREMENT", 1, 2, 2.0),
        (2, 3, "EDGE_REMOVAL", 0, 1, None),
        (2, 4, "NODE_REMOVAL", 0, None, None),
        (2, 5, "NODE_RESTORATION", 0, None, None),
        (2, 1 << 20, "TIME_STEP", None, None, None),
    ]
    ev = local_frame(
        spark, rows, "step long, seq long, type string, u long, v long, weight double"
    )
    f = tmp_path / "rt.dgs"
    write_dgs(ev, str(f))
    back = sorted(
        ((r["step"], r["seq"], r["type"], r["u"], r["v"], r["weight"])
         for r in read_dgs(spark, str(f)).collect())
    )
    assert back == sorted(rows)
