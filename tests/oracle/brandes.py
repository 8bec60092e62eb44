"""Pure-Python Brandes betweenness oracle (Betweenness.cpp:23-101 /
EstimateBetweenness.cpp:60-115 semantics, unweighted BFS)."""

from collections import deque


def _adjacency(n, edges, directed):
    adj = {v: [] for v in range(n)}
    for u, v in edges:
        adj[u].append(v)
        if not directed and u != v:
            adj[v].append(u)
    return adj


def _shortest_path_dag(adj, s):
    """BFS from s: hop dist, path counts sigma, predecessors and the
    visit order."""
    dist = {s: 0}
    sigma = {s: 1.0}
    preds = {s: []}
    order = []
    q = deque([s])
    while q:
        u = q.popleft()
        order.append(u)
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                sigma[v] = 0.0
                preds[v] = []
                q.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] += sigma[u]
                preds[v].append(u)
    return dist, sigma, preds, order


def path_counts_oracle(n, edges, sources, directed=False):
    """dict (s, node) → (dist, sigma) for every node reachable from s."""
    adj = _adjacency(n, edges, directed)
    out = {}
    for s in sources:
        dist, sigma, _, _ = _shortest_path_dag(adj, s)
        out.update({(s, v): (d, sigma[v]) for v, d in dist.items()})
    return out


def brandes_oracle(n, edges, sources=None, distance_weighted=False,
                   directed=False):
    """dict node → Σ_s δ_s(node) over `sources` (default: all nodes)."""
    adj = _adjacency(n, edges, directed)
    if sources is None:
        sources = range(n)
    score = {v: 0.0 for v in range(n)}
    for s in sources:
        dist, sigma, preds, order = _shortest_path_dag(adj, s)
        delta = {v: 0.0 for v in dist}
        for t in reversed(order):
            for p in preds[t]:
                w = sigma[p] / sigma[t] * (1.0 + delta[t])
                if distance_weighted:
                    w *= dist[p] / dist[t]
                delta[p] += w
            if t != s:
                score[t] += delta[t]
    return score


def exact_betweenness_oracle(n, edges, normalized=False):
    score = brandes_oracle(n, edges)
    if normalized:
        pairs = (n - 1) * (n - 2)
        score = {v: x / pairs for v, x in score.items()}
    return score


def estimate_betweenness_oracle(n, edges, sources, n_samples,
                                normalized=False):
    """EstimateBetweenness extrapolation: ×(2n/nSamples), normalized
    ÷(n−2)(n−1)."""
    score = brandes_oracle(n, edges, sources=sources, distance_weighted=True)
    scale = 2.0 * n / n_samples
    score = {v: x * scale for v, x in score.items()}
    if normalized:
        pairs = (n - 2) * (n - 1)
        score = {v: x / pairs for v, x in score.items()}
    return score
