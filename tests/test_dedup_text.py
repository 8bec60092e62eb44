"""Dedup + text-analysis operators on hand-built document fixtures."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.functions.text import (
    fingerprints,
    language_id,
    quality_scores,
    token_stats,
)
from networkit_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicates,
    ngram_jaccard,
    simhash,
)
from networkit_spark.session import local_frame

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (3, "a completely different document about spark sql joins and aggregations here"),
    (4, "el rapido zorro marron salta sobre el perro perezoso junto al rio"),
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = local_frame(spark, DOCS, "doc_id long, text string").persist()
    df.count()
    yield df
    df.unpersist()


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs)
    dup = groups.filter("n_docs > 1").collect()
    assert len(dup) == 1 and dup[0]["n_docs"] == 2 and dup[0]["min_doc_id"] == 0
    kept = dedup_exact(docs)
    assert kept.count() == 5
    assert kept.filter("doc_id = 1").count() == 0  # dup dropped, min kept


def test_minhash_signature_shape(docs):
    sigs = minhash_signatures(docs)
    # doc 5 has < 3 tokens → no shingles → no signature rows
    assert sigs.filter("doc_id = 5").count() == 0
    per_doc = sigs.groupBy("doc_id").count().collect()
    assert all(r["count"] == 8 for r in per_doc)
    # identical docs → identical signatures
    s0 = {(r["seed"], r["minhash"]) for r in sigs.filter("doc_id = 0").collect()}
    s1 = {(r["seed"], r["minhash"]) for r in sigs.filter("doc_id = 1").collect()}
    assert s0 == s1


def test_lsh_finds_exact_and_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band


def test_jaccard_values(docs):
    spark = docs.sparkSession
    pairs = local_frame(spark, [(0, 1), (0, 3)], "doc_a long, doc_b long")
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard(docs, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] == 0.0


def test_near_duplicates_pipeline(docs):
    nd = near_duplicates(docs, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in nd.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert all(j >= 0.5 for j in got.values())


def test_simhash_properties(docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in fp.values())
    assert fp[0] == fp[1]  # identical docs → identical fingerprint
    ham02 = sum(a != b for a, b in zip(fp[0], fp[2]))
    ham03 = sum(a != b for a, b in zip(fp[0], fp[3]))
    assert ham02 <= ham03  # near-dup closer than unrelated doc


def test_token_stats(docs):
    st = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert st[5]["n_tokens"] == 2
    assert st[0]["n_tokens"] == 14
    assert st[0]["n_distinct_tokens"] == 12  # 'the' ×3
    assert st[5]["n_chars"] == len("short text")
    assert st[5]["bpe_est"] == 3  # ceil(10/4)


def test_quality_scores(docs):
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert q[0]["stopword_ratio"] == round(3 / 14, 6)
    assert q[5]["stopword_ratio"] == 0.0
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["type_token_ratio"] == round(12 / 14, 6)


def test_language_id(docs):
    lang = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "es"  # 'el' ×2 beats everything


def test_fingerprints(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert len(fp) == len(DOCS)
    assert fp[0] == fp[1]          # identical docs, identical fingerprint
    assert fp[0] != fp[3]
    assert len(fp[5]) == 32        # short doc falls back to whole-text md5


def test_lsh_hot_bucket_cap(spark):
    # degenerate corpus: 60 byte-identical docs land in ONE bucket per
    # band; with max_bucket=8 the all-pairs blowup (60*59/2 per band)
    # must collapse to within-sub-bucket pairs + the rep star spine,
    # while keeping the whole cluster transitively connected.
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate cookie banner text repeated verbatim").alias("text"),
    )
    pairs = lsh_candidate_pairs(docs, max_bucket=8)
    n_pairs = pairs.count()
    assert n_pairs < 60 * 59 // 2  # strictly sub-quadratic
    # transitive connectivity: union-find over the emitted pairs reaches
    # every doc from doc 0
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[ra] = rb
    assert len({find(i) for i in range(60)}) == 1


def test_lsh_cap_noop_below_threshold(docs):
    # under the cap the capped operator is byte-identical to uncapped
    a = sorted(map(tuple, lsh_candidate_pairs(docs).collect()))
    b = sorted(map(tuple, lsh_candidate_pairs(docs, max_bucket=10**9).collect()))
    assert a == b


def test_simhash_near_dups_equals_all_pairs(spark, docs):
    from networkit_spark.operators.dedup import simhash, simhash_near_duplicates

    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    )
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(sigs)
    want = sorted(
        (a, b, h)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (h := sum(x != y for x, y in zip(sigs[a], sigs[b]))) <= 3
    )
    # banding with max_hamming < n_bands is lossless — exact equality
    assert got == want
    assert len(want) > 0  # fixture has near-identical docs


def test_simhash_near_dups_guards(spark, docs):
    from networkit_spark.operators.dedup import simhash_near_duplicates

    with pytest.raises(ValueError):
        simhash_near_duplicates(docs, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError):
        simhash_near_duplicates(docs, dims=16, n_bands=5)


def test_dedup_clusters_transitive(spark):
    """a~b and b~c merge into ONE cluster even if a,c never pair; keep =
    exactly the min doc_id per cluster; non-dups stay singletons."""
    from networkit_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (10, base + " today"),
        (11, base + " today"),          # exact dup of 10
        (12, base + " today now"),      # near dup of 10/11
        (13, "a completely different document about spark sql joins here"),
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert len(out) == 4                      # every doc labeled
    assert out[10] == (10, True)
    assert out[11] == (10, False)
    assert out[13] == (13, True)              # singleton keeps itself
    # transitivity: if 12 near-dups either of 10/11 it must join cluster 10
    if out[12][0] == 10:
        assert out[12][1] is False
    else:
        assert out[12] == (12, True)
