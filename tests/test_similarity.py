"""Similarity search: brute-force cosine vs numpy, LSH recall, planted
embedding near-dups."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from networkit_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_buckets,
    lsh_topk,
)
from networkit_spark.session import local_frame

DIMS = 16
N = 80


def _make_vectors():
    rng = np.random.default_rng(42)
    # 4 well-separated cluster centroids + noise; vec 1 = near-copy of vec 0
    centroids = rng.normal(size=(4, DIMS)) * 4
    vecs = []
    for i in range(N):
        c = centroids[i % 4]
        vecs.append(c + rng.normal(size=DIMS) * 0.3)
    vecs[1] = vecs[0] + rng.normal(size=DIMS) * 1e-3
    return np.array(vecs, dtype=np.float32)


@pytest.fixture(scope="module")
def emb(spark):
    vecs = _make_vectors()
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    df = local_frame(spark, rows, "vec_id long, embedding array<float>").persist()
    df.count()
    yield df
    df.unpersist()


def _numpy_topk(vecs, qids, k=5):
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    out = {}
    for q in qids:
        sims = v @ v[q] / (norms * norms[q])
        order = sorted(range(len(v)), key=lambda i: (-sims[i], i))
        out[q] = [(i, sims[i]) for i in order if i != q][:k]
    return out


def test_brute_force_matches_numpy(emb):
    vecs = _make_vectors()
    q = emb.filter(F.col("vec_id") < 8)
    got = brute_force_topk(q, emb, k=5).collect()
    oracle = _numpy_topk(vecs, range(8), k=5)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["sim"]))
    for qid in range(8):
        got_ids = {n for n, _ in by_q[qid]}
        exp_ids = {n for n, _ in oracle[qid]}
        assert got_ids == exp_ids, qid
        exp_sims = dict(oracle[qid])
        for n, s in by_q[qid]:
            assert abs(s - exp_sims[n]) < 1e-3


def test_lsh_buckets_deterministic(emb):
    b1 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb, dims=DIMS).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb, dims=DIMS).collect()}
    assert b1 == b2
    assert all(len(v) == 8 for v in b1.values())
    # near-identical vectors share a bucket
    assert b1[0] == b1[1]


def test_lsh_topk_recall(emb):
    """Bucketed ANN recalls most of the true top-5 on clustered data."""
    vecs = _make_vectors()
    oracle = _numpy_topk(vecs, range(N), k=5)
    got = lsh_topk(emb, k=5, n_planes=4, dims=DIMS).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(N):
        exp = {n for n, _ in oracle[qid]}
        total += len(exp)
        hits += len(exp & by_q.get(qid, set()))
    assert hits / total >= 0.5  # 4 planes on 4 clusters: most neighbors local


def test_embedding_near_duplicates(emb):
    nd = embedding_near_duplicates(emb, threshold=0.999, dims=DIMS)
    pairs = {(r["vec_a"], r["vec_b"]) for r in nd.collect()}
    assert (0, 1) in pairs  # the planted near-copy


# ------------------------------------------------------------------ IVF
def test_ivf_full_probe_equals_brute_force(emb):
    """nprobe = n_cells probes every cell: IVF must equal the exact
    brute-force top-k row-for-row (the correctness anchor)."""
    from networkit_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 10)
    got = sorted(map(tuple, ivf_topk(q, emb, k=5, n_cells=8, nprobe=8).collect()))
    want = sorted(map(tuple, brute_force_topk(q, emb, k=5).collect()))
    assert got == want


def test_ivf_recall_and_determinism(emb):
    """Clustered fixture: probing half the cells keeps recall high; the
    whole pipeline (hash init + Lloyd + assignment) is seed-deterministic."""
    from networkit_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    approx = sorted(
        map(tuple, ivf_topk(q, emb, k=5, n_cells=8, nprobe=4).collect())
    )
    hits = sum((a, b) in exact for a, b, _ in approx)
    assert hits / len(exact) >= 0.8
    again = sorted(
        map(tuple, ivf_topk(q, emb, k=5, n_cells=8, nprobe=4).collect())
    )
    assert approx == again


def test_ivf_train_balances_clusters(emb):
    """k-means on the 4-cluster fixture: every trained centroid is finite
    and assignments split the corpus into multiple non-empty cells."""
    from networkit_spark.operators.similarity import ivf_assign, ivf_train

    C = ivf_train(emb, n_cells=4, n_iters=5)
    assert C.shape == (4, DIMS) and np.isfinite(C).all()
    cells = ivf_assign(emb, C, nprobe=1).select("cell").distinct().count()
    assert cells >= 3
