"""PostscriptWriter EPS sink — structural parity with
PostscriptWriter.cpp: header/macros, bounding-box scaling, cyclic
cluster palette, grey cross-cluster edges, torus wrapping."""

from networkit_spark.graph import Graph
from networkit_spark.sources.postscript import write_postscript
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _square(spark):
    e = local_frame(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edges(e, directed=False, vertices=spark.range(4))
    coords = local_frame(
        spark, [(0, 0.0, 0.0), (1, 2.0, 0.0), (2, 2.0, 2.0), (3, 0.0, 2.0)],
        "id long, x double, y double",
    )
    return g, coords


def test_postscript_structure_and_scaling(spark, tmp_path):  # noqa: F811
    g, coords = _square(spark)
    f = tmp_path / "g.eps"
    write_postscript(g, coords, str(f))
    text = f.read_text()
    lines = text.splitlines()
    assert lines[0] == "%!PS-Adobe-1.0"
    assert "%%BoundingBox: 0.000 0.000 1020.000 1020.000" in lines
    assert "/a {arc closepath fill} bind def" in lines
    assert lines[-1] == "grestore"
    # 4 edges, 4 node dots
    assert sum(1 for ln in lines if ln.endswith("l s")) == 4
    assert sum(1 for ln in lines if ln.endswith("a s")) == 4
    # corner (2, 2) scales to the far canvas corner; default
    # one-clustering colors everything with palette[0] = red
    assert "1.000 0.000 0.000 c p 1020.000 1020.000 2.000 0.00 360.00 a s" \
        in lines
    # edge 0-1 runs along the bottom edge of the canvas
    assert "1.000 0.000 0.000 c p 0.000 0.000 m 1020.000 0.000 l s" in lines


def test_postscript_clusters_and_torus(spark, tmp_path):  # noqa: F811
    g, coords = _square(spark)
    clustering = local_frame(
        spark, [(0, 0), (1, 0), (2, 1), (3, 1)], "id long, label long"
    )
    f = tmp_path / "c.eps"
    write_postscript(g, coords, str(f), clustering=clustering, torus=True)
    lines = f.read_text().splitlines()
    assert lines[0] == "%!PS-Adobe-3.0 EPSF-3.0"
    assert "grestore" not in lines
    # cross-cluster edges grey, same-cluster edges palette-colored
    grey = [ln for ln in lines if ln.startswith("0.80 0.80 0.80 c")]
    assert len(grey) == 2  # edges 1-2 and 0-3 cross the two clusters
    assert any(ln.startswith("1.000 0.500 0.000 c p") and ln.endswith("l s")
               for ln in lines)  # palette[1] = orange for cluster 1
    # torus wrap: the 1020-long bottom edge wraps to a +20 overshoot
    # (delta 1020 > 500 -> 1020 - 1000 = 20)
    assert "1.000 0.000 0.000 c p 0.000 0.000 m 20.000 0.000 l s" in lines
