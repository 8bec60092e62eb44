"""Decontamination + TF-IDF vs hand-computed fixtures."""

import math

import pytest

from networkit_spark.operators.corpus import decontaminate, tf_idf
from networkit_spark.session import local_frame


def _docs(spark, rows):
    return local_frame(spark, rows, "doc_id long, text string")


def test_decontaminate(spark):
    ev = _docs(spark, [(0, "a b c d e f")])
    tr = _docs(
        spark,
        [
            (1, "x a b c d e y"),
            (2, "no shared grams here at all"),
            (3, "a b c"),           # too short for 5-grams
        ],
    )
    got = {r["doc_id"]: r["n_shared"] for r in decontaminate(tr, ev, n=5).collect()}
    # eval 5-grams: {'a b c d e', 'b c d e f'}; doc 1 grams:
    # {'x a b c d', 'a b c d e', 'b c d e y'} -> 1 shared
    assert got == {1: 1}


def test_tfidf_fixture(spark):
    docs = _docs(
        spark,
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
    )
    rows = tf_idf(docs, top_k=2).collect()
    got = {(r["doc_id"], r["term"]): r["score"] for r in rows}
    n = 3.0

    def s(tf, df):
        return round(tf * math.log(n / df), 9)

    # doc 1: apple tf2 df1 -> 2*ln3 ; banana tf1 df2 -> ln1.5
    assert got[(1, "apple")] == pytest.approx(s(2, 1))
    assert got[(1, "banana")] == pytest.approx(s(1, 2))
    # doc 3: cherry tf3 df2, date tf1 df1
    assert got[(3, "cherry")] == pytest.approx(s(3, 2))
    assert got[(3, "date")] == pytest.approx(s(1, 1))
    # top_k bound respected
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in rows)
    assert all(v <= 2 for v in per_doc.values())


def test_pack_sequences(spark):
    from networkit_spark.operators.corpus import pack_sequences

    # one shard (shards=1): docs in id order with token counts 3,4,5,10,2
    rows = [
        (0, "a b c"),          # 3 -> bin 1 (used 3)
        (1, "a b c d"),        # 4 -> bin 1 (used 7)
        (2, "a b c d e"),      # 5 -> bin 2 (7+5 > 8)
        (3, " ".join(["t"] * 10)),  # 10 > cap -> bin 3 alone
        (4, "a b"),            # 2 -> bin 4 (bin 3 'used'=10 full)
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["bin"], r["n_tokens"])
        for r in pack_sequences(docs, capacity=8, shards=1).collect()
    }
    assert got == {0: (1, 3), 1: (1, 4), 2: (2, 5), 3: (3, 10), 4: (4, 2)}
    # bins never exceed capacity except single-oversize-doc bins
    from collections import defaultdict

    fill = defaultdict(list)
    for d, (b, t) in got.items():
        fill[b].append(t)
    for b, ts in fill.items():
        assert sum(ts) <= 8 or len(ts) == 1
