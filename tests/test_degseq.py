"""Degree-sequence generators — Erdős–Gallai truth table, Havel–Hakimi
exact-degree realization, configuration-model repair convergence, ESMC
invariants (HavelHakimiGeneratorGTest / ConfigurationModel contracts)."""

import pytest
from pyspark.sql import functions as F

from networkit_spark.generators import erdos_renyi
from networkit_spark.graph import Graph
from networkit_spark.operators.degseq import (
    _havel_hakimi_edges,
    configuration_model,
    edge_switching_markov_chain,
    havel_hakimi,
    is_realizable,
)
from networkit_spark.session import local_frame

from tests.conftest import spark  # noqa: F401


def _deg_df(spark, seq):
    return local_frame(
        spark, [(i, d) for i, d in enumerate(seq)], "id long, deg long"
    )


def _eg_brute(seq):
    """Textbook Erdős–Gallai on the sorted-descending sequence."""
    n = len(seq)
    if any(d >= n for d in seq) or sum(seq) % 2:
        return False
    d = sorted(seq, reverse=True)
    for j in range(n):
        lhs = sum(d[: j + 1])
        rhs = j * (j + 1) + sum(min(j + 1, d[i]) for i in range(j + 1, n))
        if lhs > rhs:
            return False
    return True


def test_is_realizable_truth_table(spark):  # noqa: F811
    cases = [
        [3, 3, 3, 3],        # K4 — yes
        [3, 3, 3, 1],        # EG violation at j=1 — no
        [2, 1],              # odd sum — no
        [3, 1, 1, 1],        # star — yes
        [4, 1, 1, 1, 1],     # star K1,4 — yes
        [5, 1, 1, 1, 1],     # max degree >= n... 5 >= 6? no: n=6? seq len 5 -> 5>=5 — no
        [0, 0, 0],           # empty graph — yes
        [2, 2, 2, 2, 2, 2],  # union of cycles — yes
        [6, 6, 6, 6, 2, 2, 2, 2],  # no (EG at j=3: 24 > 12+8)
    ]
    for seq in cases:
        assert is_realizable(_deg_df(spark, seq)) == _eg_brute(seq), seq


def test_is_realizable_random_parity(spark):  # noqa: F811
    import random

    rng = random.Random(17)
    for trial in range(6):
        n = rng.randint(5, 14)
        seq = [rng.randint(0, n - 1) for _ in range(n)]
        assert is_realizable(_deg_df(spark, seq)) == _eg_brute(seq), seq


def test_havel_hakimi_realizes_sequence(spark):  # noqa: F811
    seq = [3, 3, 2, 2, 2, 1, 1]  # sum 14, graphical
    assert _eg_brute(seq)
    edges = havel_hakimi(spark, _deg_df(spark, seq))
    rows = edges.collect()
    deg = {}
    seen = set()
    for r in rows:
        a, b = r["src"], r["dst"]
        assert a != b
        key = (min(a, b), max(a, b))
        assert key not in seen  # simple
        seen.add(key)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert [deg.get(i, 0) for i in range(len(seq))] == seq


def test_havel_hakimi_not_realizable_raises(spark):  # noqa: F811
    with pytest.raises(ValueError):
        havel_hakimi(spark, _deg_df(spark, [3, 3, 3, 1]))
    # ignoreIfRealizable=true parity: completes with a degree shortfall
    edges = havel_hakimi(spark, _deg_df(spark, [3, 3, 3, 1]),
                         ignore_if_not_realizable=True)
    assert edges.count() > 0


def test_havel_hakimi_er_degrees(spark):  # noqa: F811
    edges_df = erdos_renyi(spark, 40, 0.2, seed=21)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(40))
    e = g.simple_undirected_edges()
    deg = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    out = havel_hakimi(spark, deg)
    got = (
        out.select(F.col("src").alias("id"))
        .unionByName(out.select(F.col("dst").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    want = sorted((r["id"], r["deg"]) for r in deg.collect())
    assert sorted((r["id"], r["deg"]) for r in got.collect()) == want


def test_havel_hakimi_bucket_loop_small():
    # K4 from [3,3,3,3]; path from [1,2,1]
    e = _havel_hakimi_edges([3, 3, 3, 3])
    assert sorted(tuple(sorted(x)) for x in e) == [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    e = _havel_hakimi_edges([1, 2, 1])
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert [deg.get(i, 0) for i in range(3)] == [1, 2, 1]


def test_configuration_model_exact_degrees(spark):  # noqa: F811
    edges_df = erdos_renyi(spark, 35, 0.2, seed=8)
    g = Graph.from_edges(edges_df, directed=False, vertices=spark.range(35))
    e = g.simple_undirected_edges()
    deg = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    out = configuration_model(spark, deg, seed=3)
    rows = out.collect()
    seen = set()
    got = {}
    for r in rows:
        a, b = r["src"], r["dst"]
        assert a < b
        assert (a, b) not in seen
        seen.add((a, b))
        got[a] = got.get(a, 0) + 1
        got[b] = got.get(b, 0) + 1
    want = {r["id"]: r["deg"] for r in deg.collect()}
    assert got == want
    # randomized: differs from the HH graph of the same sequence
    hh = {(r["src"], r["dst"]) for r in havel_hakimi(spark, deg).collect()}
    hh = {tuple(sorted(p)) for p in hh}
    assert seen != hh


def test_configuration_model_not_realizable(spark):  # noqa: F811
    with pytest.raises(ValueError):
        configuration_model(spark, _deg_df(spark, [3, 3, 3, 1]))


def test_esmc_invariants(spark):  # noqa: F811
    seq = [4, 3, 3, 2, 2, 2, 2, 1, 1]  # sum 20, graphical
    assert _eg_brute(seq)
    out = edge_switching_markov_chain(
        spark, _deg_df(spark, seq), num_switches_per_edge=3, seed=5
    )
    rows = out.collect()
    deg = {}
    seen = set()
    for r in rows:
        a, b = r["src"], r["dst"]
        assert a != b
        key = (min(a, b), max(a, b))
        assert key not in seen
        seen.add(key)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert [deg.get(i, 0) for i in range(len(seq))] == seq
