"""Link-prediction evaluation harness (train/test split, thresholding,
ROC / precision-recall curves, AUC).

Reference: networkit/cpp/linkprediction/ —
- RandomLinkSampler.cpp:14-36: training graph = G with (m − numTrain)
  uniformly sampled edges removed; byPercentage truncates
  trainPercentage·m to a count;
- LinkThresholder.cpp:18-70: byScore (score ≥ minScore), byCount (top-n
  in PredictionsSorter::ScoreComp order: score DESC, pair ASC),
  byPercentage (truncating count conversion);
- EvaluationMetric.cpp:27-58: threshold grid = the DEDUPED set of
  nearest-rank percentile indices ceil(n · i/(T−1)) for i in [0, T),
  clamped to T = n+1 when n+1 < T; at threshold t the top-t predictions
  are classified positive, so TP(t) = positives among ranks < t,
  FP(t) = t − TP(t), FN(t) = numPositives − TP(t);
- ROCMetric.cpp:13-33: points (FP/numNeg, TP/numPos) per threshold with
  consecutive-duplicate-x collapse keeping the LAST y; throws when
  numPositives or numNegatives is 0;
- PrecisionRecallMetric.cpp:13-37: points (recall, precision) with the
  1.0 defaults on empty denominators and the same collapse on recall;
- EvaluationMetric.cpp:60-75: trapezoid AUC over the x-sorted points.

Spark shapes (all edge/prediction-table sized work is distributed):
- the split draws each edge's seeded quadratic hash (shared _mix
  arithmetic → SQL-replicable) and keeps the numTrain smallest via the
  two-phase global ranking plan (plans/ranking.py) — a uniform
  without-replacement sample, deterministic in (graph, seed);
- the curve needs exactly ONE global ordering of the predictions
  (score DESC, u, v — ScoreComp's total order, so both engines produce
  identical ranks) and ONE exclusive prefix sum of the positive flags,
  both two-phase; the threshold grid is O(num_thresholds) driver
  metadata joined back by rank, so no per-threshold pass over the data;
- x-collapse: x(t) is nondecreasing in t for both metrics (FP and TP
  are prefix counts), so "pop the previous duplicate" ≡ per-x keep the
  max-threshold y — one bounded groupBy;
- AUC folds the ≤ num_thresholds collected points on the driver
  (metadata-sized by construction, like the reference's vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.randomization import _mix
from networkit_spark.plans.ranking import (
    global_prefix_sums,
    global_ranks_score_desc,
)
from networkit_spark.session import local_frame


def _canonical_undirected(graph: Graph) -> DataFrame:
    return (
        graph.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def random_link_sampler(
    graph: Graph, train_fraction: float | None = None,
    num_train_links: int | None = None, seed: int = 1,
):
    """(training Graph, removed-edges DataFrame (u, v)).

    RandomLinkSampler.byCount/byPercentage parity: a uniform
    without-replacement subset of numTrain edges survives (removing
    random edges one at a time, as the reference does, induces exactly
    that distribution); byPercentage truncates trainPercentage·m. The
    draw is the seeded-hash rank, so the split is a pure function of
    (graph, seed) and SQL-replicable."""
    und = _canonical_undirected(graph)
    m = und.count()
    if num_train_links is None:
        if train_fraction is None or not (0.0 <= train_fraction <= 1.0):
            raise ValueError("train_fraction must be in [0, 1]")
        num_train_links = int(train_fraction * m)
    if num_train_links > m:
        raise ValueError("num_train_links > numberOfEdges")
    keyed = und.withColumn(
        "h", -_mix(F.col("u"), F.col("v"), F.lit(seed)).cast("double")
    )
    ranked = global_ranks_score_desc(keyed, "h", ["u", "v"], out_col="r")
    train = ranked.filter(F.col("r") < num_train_links).select("u", "v")
    removed = ranked.filter(F.col("r") >= num_train_links).select("u", "v")
    tg = Graph.from_edges(
        train.select(
            F.col("u").alias("src"), F.col("v").alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        directed=False,
        weighted=graph.weighted,
        vertices=graph.vertices(),
    )
    return tg, removed


def link_thresholder_by_score(predictions: DataFrame, min_score: float) -> DataFrame:
    """(u, v) with score ≥ minScore (LinkThresholder::byScore keeps
    p.second < minScore OUT — i.e. score >= minScore survives)."""
    return predictions.filter(F.col("score") >= F.lit(min_score)).select("u", "v")


def link_thresholder_by_count(predictions: DataFrame, num_links: int) -> DataFrame:
    """(u, v) of the numLinks best predictions in ScoreComp order
    (score DESC, pair ASC) — LinkThresholder::byCount."""
    ranked = global_ranks_score_desc(predictions, "score", ["u", "v"], out_col="r")
    return ranked.filter(F.col("r") < num_links).select("u", "v")


def link_thresholder_by_percentage(
    predictions: DataFrame, percentage: float
) -> DataFrame:
    if not (0.0 <= percentage <= 1.0):
        raise ValueError("percentage must be in [0, 1]")
    return link_thresholder_by_count(
        predictions, int(percentage * predictions.count())
    )


def threshold_grid(n_predictions: int, num_thresholds: int) -> list:
    """EvaluationMetric.getCurve's deduped nearest-rank percentile set —
    ceil(n · (i/(T−1))) with the same float operation order as the
    reference (and the SQL twin)."""
    import math

    if num_thresholds < 2:
        raise ValueError("numThresholds < 2")
    t = num_thresholds
    if n_predictions + 1 < t:
        t = n_predictions + 1
    return sorted(
        {int(math.ceil(n_predictions * (i / (t - 1)))) for i in range(t)}
    )


def evaluation_points(
    predictions: DataFrame,
    test_edges: DataFrame,
    num_thresholds: int = 1000,
    metric: str = "roc",
) -> DataFrame:
    """Curve points (x, y) ordered by x — ROCMetric /
    PrecisionRecallMetric.generatePoints parity (see module docstring
    for the relational derivation). `predictions` = (u, v, score);
    `test_edges` = the graph the reference calls testGraph (labels =
    membership of the canonical pair)."""
    spark = predictions.sparkSession
    n = predictions.count()
    if n == 0:
        raise ValueError("predictions.size() == 0")
    grid = threshold_grid(n, num_thresholds)

    test = (
        test_edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )
    ranked = global_ranks_score_desc(predictions, "score", ["u", "v"], out_col="r")
    labeled = (
        ranked.join(test.withColumn("pos", F.lit(1)), ["u", "v"], "left")
        .select("r", F.coalesce("pos", F.lit(0)).alias("pos"))
    )
    num_pos = labeled.agg(F.sum("pos")).first()[0] or 0
    num_neg = n - num_pos
    if metric == "roc" and (num_pos == 0 or num_neg == 0):
        raise ValueError("ROC metric is not defined for empty classes")

    cum = global_prefix_sums(labeled, "r", "pos", out_col="tp")
    # ranks cover [0, n); the grid's largest entry is always exactly n
    # (i = T−1 ⇒ ceil(n·1.0)) — its TP is the total positive count
    thr = local_frame(spark, [(int(t),) for t in grid if t < n], "t long")
    stats = (
        cum.select(F.col("r").alias("t"), F.col("tp").cast("long").alias("tp"))
        .join(F.broadcast(thr), "t")
        .unionByName(
            local_frame(spark, [(int(n), int(num_pos))], "t long, tp long")
        )
        .withColumn("fp", F.col("t") - F.col("tp"))
    )
    if metric == "roc":
        pts = stats.select(
            "t",
            (F.col("fp") / F.lit(float(num_neg))).alias("x"),
            (F.col("tp") / F.lit(float(num_pos))).alias("y"),
        )
    elif metric == "pr":
        fn = F.lit(int(num_pos)) - F.col("tp")
        pts = stats.select(
            "t",
            F.when(
                (F.col("tp") > 0) | (fn > 0), F.col("tp") / (F.col("tp") + fn)
            ).otherwise(F.lit(1.0)).alias("x"),
            F.when(
                (F.col("tp") > 0) | (F.col("fp") > 0),
                F.col("tp") / (F.col("tp") + F.col("fp")),
            ).otherwise(F.lit(1.0)).alias("y"),
        )
    else:
        raise ValueError("metric must be 'roc' or 'pr'")
    # consecutive-duplicate-x collapse keeping the LAST y: x is
    # nondecreasing in t, so per-x max-threshold y is exactly it
    return (
        pts.groupBy("x")
        .agg(F.max_by("y", "t").alias("y"))
        .orderBy("x")
    )


def area_under_curve(points: DataFrame) -> float:
    """Trapezoid AUC over x-sorted points
    (EvaluationMetric.getAreaUnderCurve). The point set is bounded by
    the threshold-grid size — driver metadata, like the reference's
    vectors."""
    rows = points.orderBy("x").collect()
    if len(rows) < 2:
        raise ValueError("At least 2 points needed for AUC")
    auc = 0.0
    for a, b in zip(rows, rows[1:]):
        auc += 0.5 * (b["x"] - a["x"]) * (a["y"] + b["y"])
    return auc
