"""Single-process reference computations for the benchmark's correctness gate.

Each function takes plain numpy arrays over compact vertex indices 0..n-1
and mirrors the engine's semantics for the configuration the benchmark runs:

- pagerank: directed, unweighted, NO_SINK_HANDLING, L2 convergence norm,
  final L1 normalization (networkit_spark.operators.pagerank defaults).
- components: label = smallest vertex index in the component.
- label_propagation: synchronous sweeps, heaviest neighbour label with ties
  to the smallest label, nodes without neighbours keep their own label.
- total_triangles: distinct triangles of the simple undirected graph,
  counted with DuckDB over a (degree, id)-oriented edge table.

None of them import networkit_spark: the gate must not share code with the
engine it checks.
"""

from __future__ import annotations

import numpy as np


def compact(ids: np.ndarray, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """Sorted distinct vertex ids plus each column mapped to its index.
    Index order equals id order, so "smallest index" means "smallest id"."""
    uniq = np.unique(ids)
    return (uniq, *(np.searchsorted(uniq, c) for c in cols))


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, damp: float = 0.85,
             tol: float = 1e-8, max_iterations: int | None = None,
             start: np.ndarray | None = None, start_iteration: int = 0
             ) -> tuple[np.ndarray, int]:
    """Power iteration; returns (L1-normalized scores, supersteps).
    start/start_iteration resume from an un-normalized state."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    frac = 1.0 / deg[src]
    score = np.full(n, 1.0 / n) if start is None else start.astype(np.float64)
    limit = max_iterations if max_iterations is not None else 2**31
    it = start_iteration
    while True:
        pr = np.bincount(dst, weights=score[src] * frac, minlength=n) * damp + (1.0 - damp) / n
        it += 1
        diff = float(np.sqrt(((pr - score) ** 2).sum()))
        score = pr
        if it >= limit or diff <= tol:
            break
    return score / score.sum(), it


def components(n: int, u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, int]:
    """Min-index component labels by hooking roots onto smaller roots and
    pointer jumping; returns (labels, hooking rounds)."""
    parent = np.arange(n)
    rounds = 0
    while True:
        pu, pv = parent[u], parent[v]
        diff = pu != pv
        if not diff.any():
            return parent, rounds
        rounds += 1
        np.minimum.at(parent, np.maximum(pu, pv)[diff], np.minimum(pu, pv)[diff])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, sweeps: int) -> np.ndarray:
    """Synchronous PLP over the symmetric message table (src -> dst)."""
    labels = np.arange(n)
    for _ in range(sweeps):
        keys, counts = np.unique(dst * n + labels[src], return_counts=True)
        node, lab = keys // n, keys % n
        order = np.lexsort((lab, -counts, node))
        node_o = node[order]
        head = np.ones(len(order), dtype=bool)
        head[1:] = node_o[1:] != node_o[:-1]
        new = labels.copy()
        new[node_o[head]] = lab[order][head]
        labels = new
    return labels


def total_triangles(u: np.ndarray, v: np.ndarray) -> int:
    """Distinct triangles of the simple undirected graph with edges {u, v}."""
    import duckdb
    import pandas as pd

    edges = pd.DataFrame({"u": u.astype(np.int64), "v": v.astype(np.int64)})
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("raw", edges)
        return int(con.execute(
            """
            WITH e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
                       FROM raw WHERE u <> v),
                 d AS (SELECT x, count(*) AS k FROM
                       (SELECT a AS x FROM e UNION ALL SELECT b FROM e) GROUP BY x),
                 o AS (SELECT CASE WHEN (da.k, e.a) < (db.k, e.b) THEN e.a ELSE e.b END AS lo,
                              CASE WHEN (da.k, e.a) < (db.k, e.b) THEN e.b ELSE e.a END AS hi
                       FROM e JOIN d da ON da.x = e.a JOIN d db ON db.x = e.b)
            SELECT count(*) FROM o e1
              JOIN o e2 ON e2.lo = e1.lo AND e2.hi <> e1.hi
              JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
            """
        ).fetchone()[0])
    finally:
        con.close()
