"""CutClustering — Flake-Tarjan alpha-parameterized min-cut communities
(community/CutClustering.cpp): properness + the alpha limits (alpha
above the max weight → singletons; two cliques over a weak bridge split
at intermediate alpha) — the CommunityGTest.cpp:96-116 contract class."""

from pyspark.sql import functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.flow import cut_clustering
from networkit_spark.operators.quality import is_proper_clustering
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _two_cliques(spark):
    edges = []
    for base in (0, 5):
        for i in range(5):
            for j in range(i + 1, 5):
                edges.append((base + i, base + j, 1.0))
    edges.append((0, 5, 1.0))  # weak bridge
    e = local_frame(spark, edges, "src long, dst long, weight double")
    return Graph.from_edges(e, directed=False, vertices=spark.range(10))


def test_two_cliques_split(spark):  # noqa: F811
    g = _two_cliques(spark)
    res = cut_clustering(g, alpha=0.5)
    assert is_proper_clustering(g, res)
    labs = {r["id"]: r["label"] for r in res.collect()}
    assert len(labs) == 10
    left = {labs[i] for i in range(5)}
    right = {labs[i] for i in range(5, 10)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_alpha_limits(spark):  # noqa: F811
    g = _two_cliques(spark)
    # alpha above every edge weight: cutting all sink edges of {u} alone
    # (cost alpha·1... the singleton cut) beats any grouping → singletons
    hi = cut_clustering(g, alpha=5.0)
    assert hi.select("label").distinct().count() == 10
    # alpha tiny: cheapest cut isolates nothing — whole component one
    # cluster per connected component
    lo = cut_clustering(g, alpha=0.01)
    assert lo.select("label").distinct().count() == 1


def test_hierarchy_ranges_and_nesting(spark):  # noqa: F811
    """getClusterHierarchy contract (CutClustering.cpp:81-266): key 0 =
    components, the largest key = singletons, partitions refine as alpha
    grows, and every stored partition is the CutClustering result for
    alphas inside its [key, next_key) range (verified at range
    midpoints)."""
    from networkit_spark.operators.flow import cut_clustering_hierarchy

    g = _two_cliques(spark)
    h = cut_clustering_hierarchy(g)
    keys = sorted(h)
    assert keys[0] == 0.0  # connected graph: no -1 entry
    labmaps = {
        a: {r["id"]: r["label"] for r in df.collect()} for a, df in h.items()
    }
    # alpha=0 → one component; top → singletons
    assert len(set(labmaps[keys[0]].values())) == 1
    assert len(set(labmaps[keys[-1]].values())) == 10
    # nested refinement: each later partition refines the previous
    for a, b in zip(keys, keys[1:]):
        coarse, fine = labmaps[a], labmaps[b]
        blocks = {}
        for u in fine:
            blocks.setdefault(fine[u], set()).add(coarse[u])
        assert all(len(s) == 1 for s in blocks.values())
    # range property at midpoints
    for a, b in zip(keys, keys[1:]):
        mid = (a + b) / 2
        got = {r["id"]: r["label"] for r in cut_clustering(g, mid).collect()}
        want = labmaps[a]
        # compare as partitions (labels are representatives either way)
        gblocks = {}
        wblocks = {}
        for u in got:
            gblocks.setdefault(got[u], set()).add(u)
            wblocks.setdefault(want[u], set()).add(u)
        assert {frozenset(s) for s in gblocks.values()} == {
            frozenset(s) for s in wblocks.values()
        }


def test_hierarchy_disconnected_has_whole_graph_entry(spark):  # noqa: F811
    from networkit_spark.operators.flow import cut_clustering_hierarchy

    e = local_frame(
        spark, [(0, 1, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, directed=False, vertices=spark.range(4))
    h = cut_clustering_hierarchy(g)
    keys = sorted(h)
    assert keys[0] == -1.0
    whole = {r["label"] for r in h[-1.0].collect()}
    assert len(whole) == 1
    comp = {r["id"]: r["label"] for r in h[0.0].collect()}
    assert comp[0] == comp[1] and comp[2] == comp[3] and comp[0] != comp[2]
