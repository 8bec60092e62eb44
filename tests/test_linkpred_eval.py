"""Link-prediction evaluation harness vs a pure-Python replay of the
reference pipeline (EvaluationMetric/ROCMetric/PrecisionRecallMetric/
LinkThresholder/RandomLinkSampler semantics — change together)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.session import local_frame
from tests.conftest import spark  # noqa: F401


def _grid_py(n, t):
    if n + 1 < t:
        t = n + 1
    return sorted({int(math.ceil(n * (i / (t - 1)))) for i in range(t)})


def _curve_py(preds, test_set, num_thresholds, metric):
    """preds: list of ((u, v), score); test_set: set of (u, v) canonical.
    Replays EvaluationMetric.getCurve + generatePoints exactly."""
    preds = sorted(preds, key=lambda p: (-p[1], p[0]))
    n = len(preds)
    grid = _grid_py(n, num_thresholds)
    labels = [1 if p[0] in test_set else 0 for p in preds]
    num_pos = sum(labels)
    num_neg = n - num_pos
    xs, ys = [], []
    for t in grid:
        tp = sum(labels[:t])
        fp = t - tp
        if metric == "roc":
            x, y = fp / num_neg, tp / num_pos
        else:
            fn = num_pos - tp
            x = tp / (tp + fn) if (tp > 0 or fn > 0) else 1.0
            y = tp / (tp + fp) if (tp > 0 or fp > 0) else 1.0
        if xs and xs[-1] == x:
            ys.pop()
        else:
            xs.append(x)
        ys.append(y)
    return list(zip(xs, ys))


def _auc_py(points):
    pts = sorted(points)
    return sum(
        0.5 * (b[0] - a[0]) * (a[1] + b[1]) for a, b in zip(pts, pts[1:])
    )


def _scored_fixture(spark):  # noqa: F811
    """Training graph + CN-scored distance-2 candidates + full-graph
    test labels, shared by the curve tests."""
    from networkit_spark.operators.linkpred_eval import random_link_sampler
    from networkit_spark.operators.linkprediction import (
        link_prediction_scores,
        missing_links,
    )

    edges = erdos_renyi(spark, 70, 0.08, seed=5)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(70))
    train, removed = random_link_sampler(g, train_fraction=0.7, seed=3)
    cand = missing_links(train, 2)
    preds = link_prediction_scores(train, cand).select(
        "u", "v", F.col("common_neighbors").cast("double").alias("score")
    )
    full = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    pred_rows = [((r["u"], r["v"]), r["score"]) for r in preds.collect()]
    test_set = {(r["u"], r["v"]) for r in full.collect()}
    return g, train, removed, preds, full, pred_rows, test_set


def test_random_link_sampler_partition_and_determinism(spark):  # noqa: F811
    from networkit_spark.operators.linkpred_eval import random_link_sampler

    edges = erdos_renyi(spark, 60, 0.1, seed=1)
    g = Graph.from_edges(edges, directed=False, vertices=spark.range(60))
    und = g.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    m = und.count()
    train, removed = random_link_sampler(g, train_fraction=0.7, seed=2)
    t = train.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    assert t.count() == int(0.7 * m)
    assert removed.count() == m - int(0.7 * m)
    # train ∪ removed = edges, disjoint
    assert t.join(removed, ["u", "v"]).count() == 0
    assert t.unionByName(removed).distinct().count() == m
    # deterministic in (graph, seed)
    train2, _ = random_link_sampler(g, train_fraction=0.7, seed=2)
    t2 = train2.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    assert {tuple(r) for r in t.collect()} == {tuple(r) for r in t2.collect()}


def test_thresholders_match_python(spark):  # noqa: F811
    from networkit_spark.operators.linkpred_eval import (
        link_thresholder_by_count,
        link_thresholder_by_percentage,
        link_thresholder_by_score,
    )

    rows = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 3.0), (2, 3, 0.5),
        (1, 3, 2.0), (0, 3, 1.0), (2, 4, 4.0),
    ]
    preds = local_frame(spark, rows, "u long, v long, score double")
    ordered = sorted(rows, key=lambda r: (-r[2], r[0], r[1]))
    got = {tuple(r) for r in link_thresholder_by_score(preds, 2.0).collect()}
    assert got == {(u, v) for u, v, s in rows if s >= 2.0}
    got = {tuple(r) for r in link_thresholder_by_count(preds, 3).collect()}
    assert got == {(u, v) for u, v, _ in ordered[:3]}
    got = {tuple(r) for r in link_thresholder_by_percentage(preds, 0.5).collect()}
    assert got == {(u, v) for u, v, _ in ordered[: int(0.5 * len(rows))]}


def test_roc_and_pr_match_python_replay(spark):  # noqa: F811
    from networkit_spark.operators.linkpred_eval import (
        area_under_curve,
        evaluation_points,
    )

    _, _, _, preds, full, pred_rows, test_set = _scored_fixture(spark)
    for metric in ("roc", "pr"):
        want = _curve_py(pred_rows, test_set, 15, metric)
        pts = evaluation_points(preds, full, num_thresholds=15, metric=metric)
        got = [(r["x"], r["y"]) for r in pts.collect()]
        assert len(got) == len(want)
        for (gx, gy), (wx, wy) in zip(got, want):
            assert abs(gx - wx) < 1e-12 and abs(gy - wy) < 1e-12
        assert abs(area_under_curve(pts) - _auc_py(want)) < 1e-12


def test_perfect_predictor_auc_is_one(spark):  # noqa: F811
    from networkit_spark.operators.linkpred_eval import (
        area_under_curve,
        evaluation_points,
    )

    _, _, _, preds, full, pred_rows, test_set = _scored_fixture(spark)
    # score 1 for true links, 0 otherwise
    flag = local_frame(
        spark, [(a, b) for a, b in test_set], "u long, v long"
    ).withColumn("pos", F.lit(1.0))
    perfect = preds.join(flag, ["u", "v"], "left").select(
        "u", "v", F.coalesce("pos", F.lit(0.0)).alias("score")
    )
    n_pos = perfect.filter(F.col("score") > 0).count()
    if n_pos == 0 or n_pos == perfect.count():
        return  # degenerate split; other tests cover the formulas
    pts = evaluation_points(perfect, full, num_thresholds=50, metric="roc")
    auc = area_under_curve(pts)
    # grid coarseness bounds AUC away from exactly 1 (nearest-rank
    # thresholds; reference semantics) — assert vs the replay + sanity
    perfect_rows = [
        ((r["u"], r["v"]), r["score"]) for r in perfect.collect()
    ]
    want = _auc_py(_curve_py(perfect_rows, test_set, 50, "roc"))
    assert abs(auc - want) < 1e-12
    assert auc > 0.95
