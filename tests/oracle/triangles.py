"""Brute-force triangle / clustering-coefficient oracle (reference
node-iterator convention: tr(u) double-counts ordered wedges,
networkit/cpp/global/ClusteringCoefficient.cpp:174-193)."""

from __future__ import annotations

from itertools import combinations


def triangles_oracle(n: int, edges: list[tuple[int, int]]) -> dict:
    """Simple undirected graph. Returns {'per_node': {u: once-counted tri},
    'total': count, 'global_cc': Σ2tr/Σdeg(deg-1), 'triangles': sorted
    (u < v < w) triples, 'per_edge': {(u, v): triangles on edge u < v}}."""
    adj: dict[int, set[int]] = {i: set() for i in range(n)}
    for e in edges:
        u, v = int(e[0]), int(e[1])
        if u == v:
            continue
        adj[u].add(v)
        adj[v].add(u)
    per = {i: 0 for i in range(n)}
    tris = []
    for u in range(n):
        for v, w in combinations(sorted(adj[u]), 2):
            if u < v and w in adj[v]:
                tris.append((u, v, w))
    per_edge = {(u, v): 0 for u in range(n) for v in adj[u] if u < v}
    for u, v, w in tris:
        for e in ((u, v), (u, w), (v, w)):
            per_edge[e] += 1
    for u in range(n):
        cnt = 0
        for v, w in combinations(sorted(adj[u]), 2):
            if w in adj[v]:
                cnt += 1
        per[u] = cnt
    num = sum(2 * t for t in per.values())
    den = sum(len(adj[u]) * (len(adj[u]) - 1) for u in range(n))
    return {"per_node": per, "total": len(tris), "global_cc": (num / den) if den else 0.0,
            "triangles": tris, "per_edge": per_edge}
