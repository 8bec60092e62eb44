"""Connected components: reference fixtures (ConnectedComponentsGTest),
BFS oracle agreement, checkpoint/resume, and the pointer-doubling shortcut."""

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components
from networkit_spark.plans.iterative import Checkpointer
from tests.fixtures import F1_COMPONENTS, F1_EDGES, F1_N, assert_same_history, erdos_renyi
from tests.oracle.components import components_oracle


def test_f1_five_components(spark):
    """ConnectedComponentsGTest.cpp:32-61 — exactly 5 components."""
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    res = connected_components(g)
    assert res.number_of_components() == F1_COMPONENTS
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    oracle = components_oracle(F1_N, F1_EDGES)
    assert labels == oracle  # hash-min fixed point = min id per component


def test_f1_structure(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    labels = {r["id"]: r["label"] for r in connected_components(g).labels.collect()}
    assert labels[0] == labels[19]   # chain 0..19 connected
    assert labels[3] == labels[9]
    assert labels[13] == labels[14]
    assert labels[15] == 15          # isolated singleton


def test_er_vs_oracle(spark):
    edges = erdos_renyi(60, 0.04, seed=7)
    g = Graph.from_pairs(spark, edges, directed=False, n=60)
    labels = {r["id"]: r["label"] for r in connected_components(g).labels.collect()}
    assert labels == components_oracle(60, edges)


def test_directed_weakly_connected(spark):
    """WCC on directed graph follows both directions
    (ConnectedComponentsImpl.cpp:56-57)."""
    g = Graph.from_pairs(spark, [(0, 1), (2, 1), (3, 4)], directed=True, n=5)
    res = connected_components(g)
    assert res.number_of_components() == 2


def test_compact_labels(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    res = connected_components(g)
    compact = {r["id"]: r["component"] for r in res.compact_labels().collect()}
    # dense 0..k-1, ordered by min-id (reference BFS discovery order)
    assert sorted(set(compact.values())) == list(range(F1_COMPONENTS))
    assert compact[0] == 0 and compact[15] == compact[15]


def test_component_sizes(spark):
    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    sizes = {r["label"]: r["size"] for r in
             connected_components(g).component_sizes().collect()}
    assert sum(sizes.values()) == F1_N
    assert sizes[13] == 2 and sizes[15] == 1


def test_checkpoint_resume(spark, tmp_path):
    """A run killed after k supersteps resumes from the durable snapshot
    and converges to the same labels as an uninterrupted run."""
    edges = erdos_renyi(40, 0.06, seed=3)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)

    full = connected_components(g)
    straight = {r["id"]: r["label"] for r in full.labels.collect()}

    path = str(tmp_path / "cc_ckpt")
    ck1 = Checkpointer(spark, path, algorithm="cc")
    partial = connected_components(g, checkpointer=ck1, max_iterations=1)
    assert partial.iterations == 1

    ck2 = Checkpointer(spark, path, algorithm="cc")
    resumed = connected_components(g, checkpointer=ck2, resume=True)
    assert resumed.iterations > 1  # continued from snapshot, not restarted
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == straight
    # snapshot metadata carries per-partition lineage + iteration metrics
    hist = ck2.history()
    assert hist and all("files" in m for m in hist)
    assert all(m["metrics"]["rows"] == 40 and "changed" in m["metrics"] for m in hist)
    assert hist[-1]["metrics"]["changed"] == 0
    assert [m["metrics"] for m in hist] == resumed.history
    assert_same_history(resumed.history, full.history)


def _cc_snapshot(spark, path):
    g = Graph.from_pairs(spark, erdos_renyi(30, 0.1, seed=11), directed=False, n=30)
    connected_components(g, checkpointer=Checkpointer(spark, path, algorithm="cc"),
                         max_iterations=2)
    return g


def test_resume_refuses_params_mismatch(spark, tmp_path):
    """A snapshot written under other params is refused, not resumed."""
    path = str(tmp_path / "cc_params")
    g = _cc_snapshot(spark, path)
    ck = Checkpointer(spark, path, algorithm="cc", params={"shortcut": False})
    with pytest.raises(ValueError, match=r"iter=2: params"):
        connected_components(g, checkpointer=ck, resume=True)
    with pytest.raises(ValueError, match=r"iter=2: algorithm"):
        Checkpointer(spark, path, algorithm="plp").latest()


def test_resume_refuses_missing_part_file(spark, tmp_path):
    """A snapshot missing a part file its meta lists is refused; the
    older complete snapshot is not silently used instead."""
    import os

    path = str(tmp_path / "cc_partial")
    _cc_snapshot(spark, path)
    it_dir = os.path.join(path, "iter=2")
    part = sorted(f for f in os.listdir(it_dir) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(it_dir, part))
    with pytest.raises(ValueError, match=r"iter=2: files"):
        Checkpointer(spark, path, algorithm="cc").latest()


def test_checkpoint_resume_after_torn_write(spark, tmp_path):
    """Kill-MID-loop contract (VERDICT r3 #7): a crash BETWEEN supersteps
    k and k+1 — caught mid-write, leaving a torn `iter=k+1.tmp` dir and
    an `iter=k+1` dir whose `_meta.json` never landed — must resume from
    the last COMPLETE snapshot k and converge to labels identical to an
    uninterrupted run."""
    import json
    import os

    edges = erdos_renyi(40, 0.06, seed=7)
    g = Graph.from_pairs(spark, edges, directed=False, n=40)

    straight = {r["id"]: r["label"] for r in connected_components(g).labels.collect()}

    path = str(tmp_path / "cc_ckpt_torn")
    ck1 = Checkpointer(spark, path, algorithm="cc")
    partial = connected_components(g, checkpointer=ck1, max_iterations=2)
    assert partial.iterations == 2

    # Simulate the two crash shapes the writer can leave behind:
    # 1. killed during the parquet write → orphan .tmp dir
    torn_tmp = os.path.join(path, "iter=3.tmp")
    os.makedirs(torn_tmp)
    with open(os.path.join(torn_tmp, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00garbage, not parquet")
    # 2. killed after the rename but before _meta.json landed
    torn_dir = os.path.join(path, "iter=3")
    os.makedirs(torn_dir)
    with open(os.path.join(torn_dir, "_meta.json.tmp"), "w") as fh:
        json.dump({"iteration": 3}, fh)

    ck2 = Checkpointer(spark, path, algorithm="cc")
    latest = ck2.latest()
    assert latest is not None and latest[0] == 2  # torn snapshots ignored

    resumed = connected_components(g, checkpointer=ck2, resume=True)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == straight


# ------------------------------------------------ two-phase (star) variant
def test_twophase_matches_hashmin_fixtures(spark):
    from networkit_spark.operators.components import connected_components_twophase

    g = Graph.from_pairs(spark, F1_EDGES, directed=False, n=F1_N)
    labels = {
        r["id"]: r["label"]
        for r in connected_components_twophase(g).labels.collect()
    }
    assert labels == components_oracle(F1_N, F1_EDGES)


def test_twophase_matches_hashmin_er(spark):
    from networkit_spark.operators.components import connected_components_twophase

    edges = erdos_renyi(80, 0.03, seed=11)
    g = Graph.from_pairs(spark, edges, directed=False, n=80)
    labels = {
        r["id"]: r["label"]
        for r in connected_components_twophase(g).labels.collect()
    }
    assert labels == components_oracle(80, edges)


def test_twophase_long_chain_log_rounds(spark):
    """A 512-hop chain: hash-min needs O(diameter) supersteps even with
    pointer doubling (O(log diameter) there); two-phase must finish in
    O(log n) rounds — the whole point of the star contraction."""
    from networkit_spark.operators.components import connected_components_twophase

    n = 513
    chain = [(i, i + 1) for i in range(n - 1)]
    g = Graph.from_pairs(spark, chain, directed=False, n=n)
    res = connected_components_twophase(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert set(labels.values()) == {0}
    assert len(labels) == n
    # log2(513) ≈ 9.0; alternating star converges in ~2·log2(n) rounds
    assert res.iterations <= 22, res.history


def test_twophase_directed_and_isolated(spark):
    from networkit_spark.operators.components import connected_components_twophase

    g = Graph.from_pairs(spark, [(0, 1), (2, 1), (3, 4)], directed=True, n=6)
    res = connected_components_twophase(g)
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_cc_shortcut_fewer_supersteps_on_chain(spark):
    """Path graph P_65: plain hash-min would need ~diameter (64)
    supersteps; pointer doubling needs O(log)."""
    edges = [(i, i + 1) for i in range(64)]
    g = Graph.from_pairs(spark, edges, directed=False, n=65)
    fast = connected_components(g)
    assert fast.number_of_components() == 1
    labels = {r["id"]: r["label"] for r in fast.labels.collect()}
    assert set(labels.values()) == {0}
    assert fast.iterations <= 10
