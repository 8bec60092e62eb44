"""SCDGroundTruthComparison — pure-python formula replica
(SCDGroundTruthComparison.cpp:11-124) on random covers, plus the
seed-restriction and missing-seed contracts."""

import random

import pytest
from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.scd import scd_ground_truth_comparison
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F811,F401


def _replica(nodes, gt, found, ignore_seeds):
    ts = {}
    for u, c in gt:
        if u in nodes:
            ts[c] = ts.get(c, 0) + 1
    subsets_of = {}
    for u, c in gt:
        subsets_of.setdefault(u, set()).add(c)
    out = {}
    for seed, members in found.items():
        inside = [u for u in members if u in nodes]
        fs = len(inside)
        ov = {}
        for u in inside:
            for c in subsets_of.get(u, ()):
                if ignore_seeds or c in subsets_of.get(seed, ()):
                    ov[c] = ov.get(c, 0) + 1
        bj = bf = bp = br = 0.0
        for c, o in ov.items():
            j = o / (fs + ts[c] - o)
            p, r = o / fs, o / ts[c]
            f1 = 2 * p * r / (p + r) if p > 0 and r > 0 else 0.0
            bj, bf = max(bj, j), max(bf, f1)
            bp, br = max(bp, p), max(br, r)
        out[seed] = (bj, bf, bp, br)
    return out


def test_formula_replica(spark):  # noqa: F811
    n = 40
    edges = erdos_renyi(spark, n, 0.1, seed=4)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(n))
    rng = random.Random(9)
    gt = [(u, u % 6) for u in range(n)] + [
        (u, 6 + u % 4) for u in range(n) if rng.random() < 0.4
    ]
    found = {s: set(rng.sample(range(n), rng.randint(3, 12))) | {s}
             for s in range(0, 12, 2)}
    gt_df = local_frame(spark, gt, "id long, c long")
    fnd_df = local_frame(
        spark, [(s, u) for s, ms in found.items() for u in ms], "seed long, id long"
    )
    for ignore in (False, True):
        want = _replica(set(range(n)), gt, found, ignore)
        got = {
            r["seed"]: (r["jaccard"], r["f1"], r["precision"], r["recall"])
            for r in scd_ground_truth_comparison(
                g, gt_df, fnd_df, ignore_seeds=ignore
            ).collect()
        }
        assert set(got) == set(want)
        for s in want:
            for a, b in zip(got[s], want[s]):
                assert abs(a - b) < 1e-12, (s, ignore)


def test_missing_seed_raises(spark):  # noqa: F811
    g = Graph.from_edges(
        local_frame(spark, [(0, 1, 1.0)], "src long, dst long, weight double"),
        directed=False, vertices=spark.range(2),
    )
    gt = local_frame(spark, [(0, 0), (1, 0)], "id long, c long")
    fnd = local_frame(spark, [(99, 0), (99, 1)], "seed long, id long")
    with pytest.raises(ValueError):
        scd_ground_truth_comparison(g, gt, fnd, ignore_seeds=False)
    # ignore_seeds skips the guard (reference parity)
    res = scd_ground_truth_comparison(g, gt, fnd, ignore_seeds=True).collect()
    assert len(res) == 1 and res[0]["recall"] == 1.0
