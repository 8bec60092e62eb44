"""b-suitor b-matching (BSuitorMatcher.cpp / BMatching.cpp): the
round-based locally-dominant fixed point equals (a) the sequential
greedy b-matching over (weight desc, canonical pair asc) and (b) a
transcribed reference b-suitor replica, exactly, on unique weights
(Khan et al. SISC 2016, Thm. 2/4: b-suitor ≡ greedy under a consistent
total order). With ties the output still satisfies the BMatching
isProper contract: capacity respected, edges real, maximal."""

import random

import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.matching import (
    b_suitor_matching,
    suitor_matching,
)
from networkit_spark.session import local_frame


def _greedy_b(edges, b):
    """Sequential greedy b-matching over (w desc, u asc, v asc)."""
    residual = dict(b)
    out = set()
    for (u, v), w in sorted(edges.items(), key=lambda kv: (-kv[1], kv[0])):
        if residual.get(u, 0) > 0 and residual.get(v, 0) > 0:
            residual[u] -= 1
            residual[v] -= 1
            out.add((u, v))
    return out


def _replica_bsuitor(n, edges, b):
    """Transcription of BSuitorMatcher.cpp (run → findSuitors →
    findPreferred → makeSuitor, recursion made iterative) with the
    engine's total tie order (weight desc, smaller neighbor id) — on
    unique weights the tie branch never fires, so this is the reference
    algorithm verbatim."""
    adj = {u: {} for u in range(n)}
    for (u, v), w in edges.items():
        adj[u][v] = w
        adj[v][u] = w
    suitors = {u: [] for u in range(n)}  # list of (node, w) held by u
    proposed = {u: set() for u in range(n)}

    def s_min(x):
        # (none, 0) while free capacity remains
        if len(suitors[x]) < b[x]:
            return (None, 0.0)
        return min(suitors[x], key=lambda nw: (nw[1], -nw[0]))

    def find_preferred(u):
        best = (None, 0.0)
        for v, w in adj[u].items():
            if v in proposed[u]:
                continue
            # candidate must beat current best (weight, then smaller id)
            if best[0] is not None and not (
                w > best[1] or (w == best[1] and v < best[0])
            ):
                continue
            mn, mw = s_min(v)
            if w > mw or (w == mw and (mn is None or u < mn)):
                best = (v, w)
        return best

    def make_suitor(u0, v0, w0):
        stack = [(u0, v0, w0)]
        while stack:
            u, v, w = stack.pop()
            mn, _ = s_min(v)
            if mn is not None:
                suitors[v] = [nw for nw in suitors[v] if nw[0] != mn]
            suitors[v].append((u, w))
            proposed[u].add(v)
            if mn is not None:
                proposed[mn].discard(v)
                pv, pw = find_preferred(mn)
                if pv is not None:
                    stack.append((mn, pv, pw))

    for u in range(n):
        for _ in range(b[u]):
            pv, pw = find_preferred(u)
            if pv is not None:
                make_suitor(u, pv, pw)

    # buildBMatching (BSuitorMatcher.cpp:105-115): match x<y straight from
    # x's suitor list; the fixed point is symmetric (isSymmetrical)
    out = set()
    for x in range(n):
        for y, _ in suitors[x]:
            assert any(s == x for s, _ in suitors[y]), "fixed point asymmetric"
            if x < y:
                out.add((x, y))
    return out


def _random_weighted(n, p, seed, tie_prone=False):
    rng = random.Random(seed)
    edges = {}
    for u in range(n):
        for v in range(u + 1, n):
            if rng.random() < p:
                w = float(rng.randint(1, 3)) if tie_prone else rng.random() + 0.5
                edges[(u, v)] = w
    return edges


def _spark_bsuitor(spark, n, edges, b):
    g = Graph.from_pairs(
        spark,
        [(u, v, w) for (u, v), w in edges.items()],
        directed=False,
        n=n,
        weighted=True,
    )
    if isinstance(b, dict):
        bdf = local_frame(spark, list(b.items()), "id long, b long")
        m = b_suitor_matching(g, bdf)
    else:
        m = b_suitor_matching(g, b)
    return {(r["u"], r["v"]) for r in m.collect()}


@pytest.mark.parametrize("bval", [1, 2, 3])
def test_bsuitor_equals_greedy_and_reference_replica(spark, bval):
    for seed in (7, 23, 61):
        n = 26
        edges = _random_weighted(n, 0.25, seed)
        b = {u: bval for u in range(n)}
        got = _spark_bsuitor(spark, n, edges, bval)
        assert got == _greedy_b(edges, b)
        assert got == _replica_bsuitor(n, edges, b)


def test_bsuitor_heterogeneous_b(spark):
    n = 20
    edges = _random_weighted(n, 0.3, seed=5)
    b = {u: 1 + (u % 3) for u in range(n)}
    got = _spark_bsuitor(spark, n, edges, b)
    assert got == _greedy_b(edges, b)
    assert got == _replica_bsuitor(n, edges, b)


def test_bsuitor_b1_equals_suitor(spark):
    n = 24
    edges = _random_weighted(n, 0.3, seed=11)
    g = Graph.from_pairs(
        spark,
        [(u, v, w) for (u, v), w in edges.items()],
        directed=False,
        n=n,
        weighted=True,
    )
    got = {(r["u"], r["v"]) for r in b_suitor_matching(g, 1).collect()}
    want = {(r["u"], r["v"]) for r in suitor_matching(g).collect()}
    assert got == want


def test_bsuitor_ties_proper_and_maximal(spark):
    """All-equal weights: output must still be a proper maximal
    b-matching (BMatching.cpp isProper contract)."""
    n = 18
    edges = {k: 1.0 for k in _random_weighted(n, 0.3, seed=3)}
    b = {u: 2 for u in range(n)}
    got = _spark_bsuitor(spark, n, edges, 2)
    deg = {u: 0 for u in range(n)}
    for u, v in got:
        assert (u, v) in edges
        deg[u] += 1
        deg[v] += 1
    assert all(deg[u] <= b[u] for u in range(n))
    # maximal: no live edge with both endpoints under capacity
    for (u, v) in edges:
        if (u, v) not in got:
            assert deg[u] >= b[u] or deg[v] >= b[v]


def test_bsuitor_missing_b_raises(spark):
    edges = {(0, 1): 1.0, (1, 2): 2.0}
    g = Graph.from_pairs(
        spark,
        [(u, v, w) for (u, v), w in edges.items()],
        directed=False,
        n=3,
        weighted=True,
    )
    bdf = local_frame(g.edges.sparkSession, [(0, 1), (1, 1)], "id long, b long")
    with pytest.raises(ValueError, match="number of b values"):
        b_suitor_matching(g, bdf)


def test_dynamic_bsuitor_batches_match_greedy_recompute(spark):
    """DynamicBSuitorMatcher contract: after each updateBatch the
    matching equals the b-suitor fixed point of the updated graph —
    unique on unique weights (Khan et al. Thm. 2/4), so per-event
    cascade repair (the reference) and this engine's batch policy
    coincide exactly. Exercises additions, removals, and a weight
    re-add (upsert)."""
    from networkit_spark.operators.matching import dynamic_b_suitor_matching

    n, b = 12, 2
    edges = _random_weighted(n, 0.35, seed=5)
    g = Graph.from_pairs(
        spark, [(u, v, w) for (u, v), w in edges.items()],
        directed=False, n=n, weighted=True,
    )
    rng = random.Random(17)
    cur = dict(edges)
    batches = []
    for _ in range(3):
        batch = []
        # two removals of live edges
        for (u, v) in rng.sample(sorted(cur), 2):
            batch.append(("EDGE_REMOVAL", u, v, cur.pop((u, v))))
        # two additions (fresh or weight-update)
        for _ in range(2):
            u, v = sorted(rng.sample(range(n), 2))
            w = rng.random() + 0.5
            cur[(u, v)] = w
            batch.append(("EDGE_ADDITION", u, v, w))
        batches.append(batch)

    for batch in batches:
        ev = local_frame(spark, batch, "type string, u long, v long, w double")
        g, m = dynamic_b_suitor_matching(g, ev, b=b)
        got = {(r["u"], r["v"]) for r in m.collect()}
        # greedy recompute on the CURRENT edge snapshot of this prefix
        assert got == _greedy_b(
            {
                (r["src"], r["dst"]): r["weight"]
                for r in g.edges.filter("src < dst").collect()
            },
            {i: b for i in range(n)},
        )


def test_dynamic_bsuitor_rejects_other_events(spark):
    from networkit_spark.operators.matching import dynamic_b_suitor_matching

    g = Graph.from_pairs(spark, [(0, 1, 1.0)], directed=False, n=2, weighted=True)
    ev = local_frame(
        g.edges.sparkSession, [("NODE_ADDITION", 2, 2, 0.0)], "type string, u long, v long, w double"
    )
    with pytest.raises(ValueError, match="Edge insertions and removals only"):
        dynamic_b_suitor_matching(g, ev)
