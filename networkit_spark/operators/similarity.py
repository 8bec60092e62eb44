"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k — numpy GEMM kernel over Arrow
  batches (`mapInPandas`): the query matrix is collected + broadcast
  (the query side is small by contract — same bound as a broadcast
  join), each corpus batch does ONE BLAS matrix multiply, emits its
  per-batch top-k candidates, and a final tiny window pass picks the
  global top-k. 64-step interpreted Catalyst HOF folds (the round-1
  plan — 40% of the bench) are gone from every hot path.
- lsh_buckets / lsh_topk / embedding_near_duplicates: random-hyperplane
  LSH — the scale path. Buckets via one batch GEMM against the fixed
  plane matrix; per-bucket exact cosine via a grouped-map
  (`applyInPandas`) block GEMM — block-local N_b², never global N².
  The hyperplanes are DETERMINISTIC integer-weight vectors (w(p,d) =
  ((1 + 31p + 17d) mod 7) - 3) so the DuckDB oracle reproduces the
  exact bucket assignment; on a real deployment swap in seeded Gaussian
  planes — the plan shape (projection → sign-string bucket → per-bucket
  kernel) is identical.

Scale design: brute force is O(Q×N) — fine for a broadcast-able query
set, wrong for N×N; LSH bounds the work to per-bucket blocks, and the
bucket column is the shuffle key (power-of-two bucket count keeps
partitions balanced; a degenerate bucket is bounded by the band width —
add planes to split). An IVF variant would replace the sign-string with
a k-means cell id — same plan shape.

The *_hof variants keep the original JVM higher-order-function
expressions as independent twins for the equivalence tests
(tests/test_similarity.py asserts kernel == HOF row-for-row).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from networkit_spark.session import local_frame

N_PLANES = 8


# ------------------------------------------------------------ HOF twins
def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return emb.withColumn("_norm", F.sqrt(_dot(v, v)))


def cosine_pairs(queries: DataFrame, corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, sim) for all query×corpus pairs (q != n).
    JVM HOF expression path — the test twin of the GEMM kernel."""
    q = with_norm(queries, vec_col).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.col("_norm").alias("qn"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.col("_norm").alias("cn"),
    )
    return (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
        )
    )


def brute_force_topk_hof(queries: DataFrame, corpus: DataFrame, k: int = 5,
                         vec_col: str = "embedding") -> DataFrame:
    """HOF twin of brute_force_topk (interpreted fold — test-only)."""
    sims = cosine_pairs(queries, corpus, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


# ---------------------------------------------------------- GEMM kernels
def _matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow-delivered array column into a (rows, dims) float64
    matrix (float64 so the kernel sums in the same precision as the
    DuckDB oracle's DOUBLE arithmetic)."""
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _topk_rows(sims_row: np.ndarray, ids: np.ndarray, k: int):
    """Exact top-k indices of one similarity row: sim DESC, id ASC
    (lexsort is stable and exact under ties — no argpartition boundary
    misses)."""
    order = np.lexsort((ids, -sims_row))
    return order[: min(k, len(order))]


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                     vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, sim) — exact cosine top-k per query,
    deterministic tie-break by neighbor_id; sim rounded 4.

    Plan: collect+broadcast the query matrix (bounded by contract, like
    a broadcast join side), one numpy GEMM per corpus Arrow batch, emit
    per-batch top-k candidates (k rows per query per batch), then a
    final window over the tiny candidate set. The corpus is streamed —
    never collected, never shuffled."""
    spark = corpus.sparkSession
    qrows = queries.select("vec_id", vec_col).collect()
    if not qrows:
        return local_frame(spark, [], "query_id long, neighbor_id long, sim double")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, Q, qn))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, Q, qn = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = _matrix(pdf[vec_col])
            c_ids = pdf["vec_id"].to_numpy().astype(np.int64)
            cn = np.sqrt((C * C).sum(axis=1))
            sims = (Q @ C.T) / (qn[:, None] * cn[None, :])
            out_q, out_n, out_s = [], [], []
            for qi in range(sims.shape[0]):
                row = sims[qi].copy()
                row[c_ids == q_ids[qi]] = -np.inf  # exclude self
                top = _topk_rows(row, c_ids, k)
                top = top[np.isfinite(row[top])]
                out_q.append(np.full(len(top), q_ids[qi], dtype=np.int64))
                out_n.append(c_ids[top])
                out_s.append(row[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select("vec_id", vec_col).mapInPandas(
        batches, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def hyperplane_weights(n_planes: int = N_PLANES, dims: int = 64) -> list[list[float]]:
    """Deterministic integer hyperplanes (reproducible in ANSI SQL)."""
    return [
        [float(((1 + 31 * p + 17 * d) % 7) - 3) for d in range(dims)]
        for p in range(n_planes)
    ]


def lsh_buckets_hof(emb: DataFrame, n_planes: int = N_PLANES, dims: int = 64,
                    vec_col: str = "embedding") -> DataFrame:
    """HOF twin of lsh_buckets (test-only)."""
    planes = hyperplane_weights(n_planes, dims)
    v = _as_double(F.col(vec_col))
    bits = [
        F.when(_dot(v, F.array(*[F.lit(w) for w in plane])) > 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for plane in planes
    ]
    return emb.select("vec_id", F.concat(*bits).alias("bucket"))


def lsh_buckets(emb: DataFrame, n_planes: int = N_PLANES, dims: int = 64,
                vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket) — bucket = sign-bit string of the plane
    projections, computed as ONE batch GEMM against the fixed plane
    matrix per Arrow batch."""
    P = np.array(hyperplane_weights(n_planes, dims), dtype=np.float64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = _matrix(pdf[vec_col])
            signs = (C @ P.T) > 0  # (rows, planes)
            buckets = [
                "".join("1" if b else "0" for b in row) for row in signs
            ]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "bucket": buckets})

    return emb.select("vec_id", vec_col).mapInPandas(
        batches, schema="vec_id long, bucket string"
    )


def _bucketed(emb: DataFrame, n_planes: int, dims: int, vec_col: str) -> DataFrame:
    b = lsh_buckets(emb, n_planes, dims, vec_col)
    return emb.select("vec_id", vec_col).join(b, "vec_id")


def lsh_topk(emb: DataFrame, k: int = 5, n_planes: int = N_PLANES, dims: int = 64,
             vec_col: str = "embedding") -> DataFrame:
    """Approximate all-pairs top-k: exact cosine within each LSH bucket.

    One shuffle on bucket; per-bucket block GEMM (grouped-map Arrow
    kernel) instead of the global N². Each vector lives in exactly one
    bucket, so the per-bucket top-k IS the final answer — no second
    pass. Recall is tunable via n_planes (fewer planes → bigger buckets
    → higher recall/cost)."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        M = _matrix(pdf[vec_col])
        nrm = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / np.outer(nrm, nrm)
        np.fill_diagonal(S, -np.inf)
        out_q, out_n, out_s = [], [], []
        for i in range(len(ids)):
            top = _topk_rows(S[i], ids, k)
            top = top[np.isfinite(S[i][top])]
            out_q.append(np.full(len(top), ids[i], dtype=np.int64))
            out_n.append(ids[top])
            out_s.append(S[i][top])
        if not out_q:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            }
        )

    sims = _bucketed(emb, n_planes, dims, vec_col).groupBy("bucket").applyInPandas(
        per_bucket, schema="query_id long, neighbor_id long, sim double"
    )
    return sims.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))


def embedding_near_duplicates(emb: DataFrame, threshold: float = 0.98,
                              n_planes: int = N_PLANES, dims: int = 64,
                              vec_col: str = "embedding") -> DataFrame:
    """(vec_a, vec_b, sim) — embedding-cosine near-dup pairs (a < b) found
    via LSH buckets (near-identical vectors land in the same bucket with
    overwhelming probability at ≥0.98 cosine). Per-bucket block GEMM;
    the kernel pre-filters with a safety margin, the exact
    ROUND(sim,4) >= threshold gate runs JVM-side (F.round is HALF_UP
    like the DuckDB oracle; numpy rounds half-to-even)."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order].astype(np.int64)
        M = _matrix(pdf[vec_col].iloc[order])
        nrm = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)  # ids sorted → vec_a < vec_b
        keep = S[iu, ju] >= threshold - 1e-3  # margin; exact gate is JVM-side
        return pd.DataFrame(
            {"vec_a": ids[iu[keep]], "vec_b": ids[ju[keep]], "sim": S[iu, ju][keep]}
        )

    pairs = _bucketed(emb, n_planes, dims, vec_col).groupBy("bucket").applyInPandas(
        per_bucket, schema="vec_a long, vec_b long, sim double"
    )
    return pairs.select("vec_a", "vec_b", F.round("sim", 4).alias("sim")).filter(
        F.col("sim") >= threshold
    )


# ------------------------------------------------------------------ IVF
def ivf_train(emb: DataFrame, n_cells: int = 16, n_iters: int = 5,
              seed: int = 42, vec_col: str = "embedding") -> np.ndarray:
    """Train an IVF coarse quantizer: (n_cells, dims) centroid matrix.

    Spark-first Lloyd iterations, all distributed:
    - init: the n_cells corpus vectors with smallest xxhash64(vec_id,
      seed) — a deterministic uniform sample (no Python RNG, no
      collect-the-corpus);
    - assign: one numpy GEMM per Arrow batch against the broadcast
      centroid matrix (mapInPandas) — centroids are L2-normalized so
      argmax dot == nearest by cosine;
    - update: the kernel emits PER-BATCH partial sums (cell, dim,
      partial_sum, partial_count) — the exploded stream entering the
      shuffle is at most n_cells x dims rows PER BATCH, never one row
      per vector — then groupBy(cell, dim).sum, collect n_cells x dims
      tiny rows to rebuild the matrix. Empty cells keep their previous
      centroid (FAISS convention).

    The trained matrix is driver-side (n_cells x dims doubles — KB),
    exactly like a broadcast-join small side."""
    spark = emb.sparkSession
    init = (
        emb.select("vec_id", vec_col)
        .orderBy(F.xxhash64("vec_id", F.lit(seed)), F.asc("vec_id"))
        .limit(n_cells)
        .collect()
    )
    C = np.array([list(r[1]) for r in init], dtype=np.float64)
    dims = C.shape[1]

    for _ in range(n_iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        bc = spark.sparkContext.broadcast(Cn)

        def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cn = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                M = _matrix(pdf[vec_col])
                nrm = np.maximum(
                    np.sqrt((M * M).sum(axis=1, keepdims=True)), 1e-12
                )
                cells = np.argmax((M / nrm) @ Cn.T, axis=1)
                out_c, out_d, out_s, out_n = [], [], [], []
                for c in np.unique(cells):
                    sub = M[cells == c]
                    out_c.append(np.full(dims, c, dtype=np.int64))
                    out_d.append(np.arange(dims, dtype=np.int64))
                    out_s.append(sub.sum(axis=0))
                    out_n.append(np.full(dims, len(sub), dtype=np.int64))
                yield pd.DataFrame(
                    {
                        "cell": np.concatenate(out_c),
                        "dim": np.concatenate(out_d),
                        "s": np.concatenate(out_s),
                        "n": np.concatenate(out_n),
                    }
                )

        agg = (
            emb.select("vec_id", vec_col)
            .mapInPandas(partials, schema="cell long, dim long, s double, n long")
            .groupBy("cell", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        newC = C.copy()
        counts = np.zeros(n_cells, dtype=np.int64)
        sums = np.zeros_like(C)
        for r in agg:
            sums[r["cell"], r["dim"]] = r["s"]
            counts[r["cell"]] = r["n"]
        nonempty = counts > 0
        newC[nonempty] = sums[nonempty] / counts[nonempty, None]
        C = newC
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               nprobe: int = 1, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cell, rank) — each vector's `nprobe` nearest cells by
    cosine, rank 0 = home cell. One batch GEMM per Arrow batch."""
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    nprobe = min(nprobe, len(Cn))
    bc = emb.sparkSession.sparkContext.broadcast(Cn)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cn = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = _matrix(pdf[vec_col])
            nrm = np.maximum(np.sqrt((M * M).sum(axis=1, keepdims=True)), 1e-12)
            sims = (M / nrm) @ Cn.T
            # deterministic: sim DESC then cell ASC
            order = np.lexsort(
                (np.broadcast_to(np.arange(Cn.shape[0]), sims.shape), -sims),
                axis=1,
            )[:, :nprobe]
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, nprobe),
                    "cell": order.ravel(),
                    "rank": np.tile(np.arange(nprobe, dtype=np.int64), len(ids)),
                }
            )

    return emb.select("vec_id", vec_col).mapInPandas(
        batches, schema="vec_id long, cell long, rank long"
    )


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             n_cells: int = 16, nprobe: int = 4, n_iters: int = 5,
             seed: int = 42, vec_col: str = "embedding",
             centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate cosine top-k via an IVF index (the k-means analog of
    lsh_topk — same plan shape, learned cells instead of sign bits):

    1. train the coarse quantizer (or take a pre-trained matrix);
    2. corpus vectors land in their HOME cell (one row each);
       query vectors fan out to their `nprobe` nearest cells;
    3. per-cell block GEMM (grouped-map Arrow kernel) scores each
       query copy against the cell's corpus block — block-local
       Q_cell x N_cell, never global Q x N;
    4. a final window merges the per-cell candidates into global top-k.

    nprobe = n_cells probes every cell and is EXACT (== brute_force_topk)
    — the correctness anchor; recall degrades gracefully as nprobe
    shrinks. At 100 TB the cell id is the shuffle key; cells are
    balanced by k-means (skewed corpora: raise n_cells)."""
    if centroids is None:
        centroids = ivf_train(corpus, n_cells, n_iters, seed, vec_col)

    cvecs = corpus.select("vec_id", vec_col).join(
        ivf_assign(corpus, centroids, nprobe=1, vec_col=vec_col).select(
            "vec_id", "cell"
        ),
        "vec_id",
    ).select("cell", F.col("vec_id").alias("cid"), F.col(vec_col).alias("cv"))
    qvecs = queries.select("vec_id", vec_col).join(
        ivf_assign(queries, centroids, nprobe=nprobe, vec_col=vec_col).select(
            "vec_id", "cell"
        ),
        "vec_id",
    ).select("cell", F.col("vec_id").alias("qid"), F.col(vec_col).alias("qv"))

    both = cvecs.join(qvecs, "cell", "right").select(
        "cell", "qid", "qv", "cid", "cv"
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        corp = pdf.drop_duplicates("cid").dropna(subset=["cid"])
        if len(corp) == 0:
            return empty
        qs = pdf.drop_duplicates("qid")
        C = _matrix(corp["cv"])
        c_ids = corp["cid"].to_numpy().astype(np.int64)
        Q = _matrix(qs["qv"])
        q_ids = qs["qid"].to_numpy().astype(np.int64)
        cn = np.maximum(np.sqrt((C * C).sum(axis=1)), 1e-12)
        qn = np.maximum(np.sqrt((Q * Q).sum(axis=1)), 1e-12)
        S = (Q @ C.T) / np.outer(qn, cn)
        out_q, out_n, out_s = [], [], []
        for i in range(len(q_ids)):
            row = S[i].copy()
            row[c_ids == q_ids[i]] = -np.inf
            top = _topk_rows(row, c_ids, k)
            top = top[np.isfinite(row[top])]
            out_q.append(np.full(len(top), q_ids[i], dtype=np.int64))
            out_n.append(c_ids[top])
            out_s.append(row[top])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            }
        )

    cand = both.groupBy("cell").applyInPandas(
        per_cell, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )
