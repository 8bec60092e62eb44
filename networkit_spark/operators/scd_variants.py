"""Selective community detection — the remaining reference family:
TCE, LocalTightnessExpansion, LocalT, TwoPhaseL, CliqueDetect,
CombinedSCD, RandomBFS.

References:
- cpp/scd/TCE.cpp:47-280 (triangle-weighted conductance greedy)
- cpp/scd/LocalTightnessExpansion.cpp:99-320 (cosine-similarity greedy)
- cpp/scd/LocalT.cpp:14-195 (triangle-score shell scan)
- cpp/scd/TwoPhaseL.cpp:14-116 (add phase on L = Lin/Lex, remove phase)
- cpp/scd/CliqueDetect.cpp:19-160 (max clique among common seed nbrs)
- cpp/scd/CombinedSCD.cpp:9-17 (composition)
- cpp/scd/RandomBFS.cpp:11-81 (BFS to the seed community's cover size)

Spark shape — these are SEED-LOCAL algorithms: they touch a
community-sized neighborhood of the seed, never the whole graph. The
reference builds a lazy "local graph" that pulls the full adjacency of
every visited node (LocalDegreeDirectedGraph.hpp:86-125
ensureNodeExists). The distributed analog is `LocalAdjacencyCache`:
the adjacency of newly-touched nodes is fetched from the distributed
edge table in FRONTIER BATCHES (one broadcast semi-join + collect per
expansion wave, never per node), and the exact greedy runs driver-side
over the cached local structure. Driver memory = O(community ×
avg-degree) rows — the reference's own memory model. At 100 TB the
edge table stays distributed; only the seed's neighborhood crosses to
the driver. Like GCE/LFM, these carry a pytest-scale driver contract
(greedy step counts are O(|C|), inherently sequential — documented).

Determinism substitutions (each documented at its use site): the
reference breaks score ties with IncrementalUniformRandomSelector /
unordered-container iteration order; this engine uses smallest node id
(and lexicographically-smallest clique). RandomBFS's final-level
shuffle becomes a seeded-hash order, and its random cover pick becomes
the smallest community id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.operators.clique import _bron_kerbosch_pivot
from networkit_spark.plans import local_guard
from networkit_spark.session import local_frame


def _ieee_div(a: float, b: float) -> float:
    """Float division with C++ IEEE semantics (x/0 → ±inf, 0/0 → nan);
    Python raises instead, and the reference relies on inf/nan ordering
    in its quality gates (e.g. GCE's +inf absorption, TCE's first-step
    0/0)."""
    if b != 0:
        return a / b
    if a == 0:
        return float("nan")
    return math.inf if a > 0 else -math.inf


class LocalAdjacencyCache:
    """Lazily materialized adjacency of visited nodes, fetched from the
    distributed symmetric edge table in batches (the Spark analog of
    LocalDegreeDirectedGraph's ensureNodeExists pulls).

    `max_local_arcs` caps the TOTAL arcs this cache will ever hold on
    the driver (the same explicit-guard contract as `dfs_from`'s
    `max_local_nodes`): each batch is counted distributedly BEFORE the
    collect, so an SCD expansion wandering into a hub-dense region
    raises LocalTailError instead of silently exhausting driver
    memory. The SCD family is sequential-by-contract (greedy one-node
    moves over a community-local neighborhood, per the reference
    semantics), so driver locality is the design — the cap makes its
    budget explicit."""

    def __init__(self, graph: Graph, max_local_arcs: int = 2_000_000):
        self._arcs = graph.edges.select("src", "dst", "weight")
        self._spark = graph.edges.sparkSession
        self._adj: dict[int, dict[int, float]] = {}
        self._max_local_arcs = max_local_arcs
        self._n_arcs = 0

    def ensure(self, nodes) -> None:
        todo = sorted({int(n) for n in nodes} - self._adj.keys())
        if not todo:
            return
        batch = local_frame(self._spark, [(n,) for n in todo], "src long")
        pull = self._arcs.join(F.broadcast(batch), "src", "left_semi")
        if self._max_local_arcs:
            n_new = pull.count()
            local_guard.guard_local_collect(
                self._n_arcs + n_new,
                max_bytes=self._max_local_arcs * local_guard.ARC_ROW_BYTES,
                what="SCD adjacency cache",
            )
            self._n_arcs += n_new
        rows = pull.collect()
        for n in todo:
            self._adj[n] = {}
        for r in rows:
            self._adj[r["src"]][r["dst"]] = float(r["weight"])

    def nbrs(self, u: int) -> dict[int, float]:
        return self._adj[u]

    def wdeg(self, u: int) -> float:
        return sum(self._adj[u].values())

    def deg(self, u: int) -> int:
        return len(self._adj[u])


def _require_undirected(graph: Graph, name: str) -> None:
    if graph.directed:
        raise ValueError(f"{name} supports only undirected graphs")


# --------------------------------------------------------------------- TCE
def tce_expand(
    graph: Graph, seeds, refine: bool = False, use_jaccard: bool = False
) -> set[int]:
    """TCE.cpp expandOneCommunity: greedy conductance expansion where
    the shell priority is the triangle-weighted edge score
    score(u,v) = (w_uv + Σ_{y∈N(u)∩N(v)} min(w_uy,w_vy))
                 / (denom · deg(v)),
    denom = jaccard ? wd_u + wd_v − nom : min(wd_u, wd_v)  (:86-127);
    a node is accepted iff cut'/vol' < cut/vol (:176-229); rejected
    nodes leave the heap until a new adjacent member re-updates them
    (:131 shell.update). `refine` re-scans members ascending and drops
    any whose removal improves conductance (:232-280)."""
    _require_undirected(graph, "TCE")
    cache = LocalAdjacencyCache(graph)
    members = {int(s) for s in seeds}
    cache.ensure(members)
    active: set[int] = set()
    for u in members:
        active |= set(cache.nbrs(u)) - members
    volume = sum(cache.wdeg(u) for u in members)
    cut = sum(
        w for u in members for v, w in cache.nbrs(u).items() if v not in members
    )

    def score(v: int) -> float:
        nb_v = cache.nbrs(v)
        wd_v = cache.wdeg(v)
        if wd_v <= 0:
            return 0.0
        deg_v = len(nb_v)
        s = 0.0
        for u in members:
            w_uv = nb_v.get(u)
            if w_uv is None:
                continue
            nb_u = cache.nbrs(u)
            t = 0.0
            for y, w_vy in nb_v.items():
                w_uy = nb_u.get(y)
                if w_uy is not None:
                    t += min(w_uy, w_vy) if graph.weighted else 1.0
            nom = w_uv + t
            wd_u = cache.wdeg(u)
            denom = (wd_u + wd_v - nom) if use_jaccard else min(wd_u, wd_v)
            s += nom / (denom * deg_v)
        return s

    while active:
        cache.ensure(active)
        # scores change only when a member is added, so one ranking
        # serves until the next acceptance — exactly the addressable
        # heap's extract/reject sequence (ties → smallest id).
        for b in sorted(active, key=lambda v: (-score(v), v)):
            active.discard(b)
            b_vol = cache.wdeg(b)
            b_int = sum(w for v, w in cache.nbrs(b).items() if v in members)
            cut_new = cut + b_vol - 2.0 * b_int
            vol_new = volume + b_vol
            if _ieee_div(cut_new, vol_new) < _ieee_div(cut, volume):
                members.add(b)
                cut, volume = cut_new, vol_new
                active |= set(cache.nbrs(b)) - members
                break

    if refine:
        # std::set iteration = ascending ids — deterministic (:232).
        for u in sorted(members):
            u_vol = cache.wdeg(u)
            u_cut_change = sum(
                (w if v in members else -w) for v, w in cache.nbrs(u).items()
            )
            cut_new = cut + u_cut_change
            vol_new = volume - u_vol
            if _ieee_div(cut_new, vol_new) < _ieee_div(cut, volume):
                members.remove(u)
                cut, volume = cut_new, vol_new
    return members


# --------------------------------------------------------------------- LTE
def lte_expand(graph: Graph, seeds, alpha: float = 1.0) -> set[int]:
    """LocalTightnessExpansion.cpp: greedy on the structural-similarity
    score s(u,v) = (2·w_uv + Σ_{y∈N(u)∩N(v)} w_uy·w_vy)/(wd_u·wd_v)
    with wd_u = sqrt(1 + Σ w_uy²) (:26-45,120-140); shell priority is
    internal similarity; accept iff extSim/intSim −
    (α·extSim_v − intSim_v)/(2·intSim_v) > 0 (:303-310)."""
    _require_undirected(graph, "LocalTightnessExpansion")
    cache = LocalAdjacencyCache(graph)
    members = {int(s) for s in seeds}
    cache.ensure(members)
    active: set[int] = set()
    for u in members:
        active |= set(cache.nbrs(u)) - members

    def wd(u: int) -> float:
        return math.sqrt(1.0 + sum(w * w for w in cache.nbrs(u).values()))

    def sim(u: int, v: int) -> float:
        nb_u, nb_v = cache.nbrs(u), cache.nbrs(v)
        w_uv = nb_u.get(v, 0.0)
        nom = 2.0 * w_uv + sum(
            w_uy * nb_v[y] for y, w_uy in nb_u.items() if y in nb_v
        )
        return nom / (wd(u) * wd(v))

    while active:
        shell = set().union(*(cache.nbrs(u).keys() for u in members)) - members
        cache.ensure(shell)
        cache.ensure(
            set().union(*(cache.nbrs(v).keys() for v in shell)) if shell else ()
        )
        int_sim = sum(
            sim(u, v)
            for u in members
            for v in cache.nbrs(u)
            if v in members
        )
        ext_sim = sum(
            sim(u, v)
            for u in members
            for v in cache.nbrs(u)
            if v not in members
        )

        def node_sims(v: int) -> tuple[float, float]:
            i = e = 0.0
            for u in cache.nbrs(v):
                s = sim(u, v)
                if u in members:
                    i += s
                else:
                    e += s
            return i, e

        sims = {v: node_sims(v) for v in active}
        accepted = False
        for b in sorted(active, key=lambda v: (-sims[v][0], v)):
            active.discard(b)
            int_b, ext_b = sims[b]
            gate = _ieee_div(ext_sim, int_sim) - _ieee_div(
                alpha * ext_b - int_b, 2.0 * int_b
            )
            if gate > 0:
                members.add(b)
                active |= set(cache.nbrs(b)) - members
                accepted = True
                break
        if not accepted:
            break
    return members


# ------------------------------------------------------------------ LocalT
def local_t_expand(graph: Graph, seeds) -> set[int]:
    """LocalT.cpp: integer triangle score T = max(0, intT·(intT−extT))
    where intT counts triangles fully inside C and extT counts, summed
    over members, triangles with both other endpoints outside C; the
    whole shell is scanned each step, picking max new score with
    fewer-external tie-break (:147-186). Shell iteration order is an
    unordered_set in the reference — smallest id substituted."""
    _require_undirected(graph, "LocalT")
    cache = LocalAdjacencyCache(graph)
    members = {int(s) for s in seeds}
    cache.ensure(members)
    shell = set().union(*(cache.nbrs(u).keys() for u in members)) - members

    def tri_counts(s: int) -> tuple[int, int, int]:
        """(internal, semi, external) triangle counts of s by how many
        of the two other endpoints are members."""
        nbs = sorted(cache.nbrs(s))
        it = se = ex = 0
        for i, a in enumerate(nbs):
            nb_a = cache.nbrs(a)
            for b in nbs[i + 1:]:
                if b in nb_a:
                    k = (a in members) + (b in members)
                    if k == 2:
                        it += 1
                    elif k == 1:
                        se += 1
                    else:
                        ex += 1
        return it, se, ex

    def globals_() -> tuple[int, int]:
        int_t = ext_t = 0
        for u in sorted(members):
            i, _, e = tri_counts(u)
            int_t += i
            ext_t += e
        return int_t // 3, ext_t

    while True:
        cache.ensure(shell)
        cache.ensure(
            set().union(*(cache.nbrs(s).keys() for s in shell)) if shell else ()
        )
        int_t, ext_t = globals_()
        best_score = max(0, int_t * (int_t - ext_t))
        best = None
        best_ext = None
        for s in sorted(shell):
            i, se, e = tri_counts(s)
            ni = int_t + i
            ne = ext_t + e - se
            nsc = max(0, ni * (ni - ne))
            if nsc > best_score or (
                nsc == best_score and (best_ext is None or ne < best_ext)
            ):
                best, best_score, best_ext = s, nsc, ne
        if best is None:
            break
        members.add(best)
        shell.discard(best)
        cache.ensure([best])
        shell |= set(cache.nbrs(best)) - members
    return members


# --------------------------------------------------------------- TwoPhaseL
def two_phase_l_expand(graph: Graph, seeds) -> set[int]:
    """TwoPhaseL.cpp: phase 1 greedily adds the shell node maximizing
    L = Lin/Lex (Lin = 2·intW/|C|, Lex = cut/|boundary|) among those
    with Lin strictly increasing (:55-87); phase 2 scans members once
    and removes any whose removal does NOT strictly worsen both Lin
    and Lex (:90-105); returns ∅ if any seed was dropped (:107-111).
    The reference's random tie selector and unordered member order are
    replaced by smallest-id / ascending-id (documented)."""
    _require_undirected(graph, "TwoPhaseL")
    if graph.number_of_self_loops() > 0:
        raise ValueError("Graphs with self-loops are not supported in TwoPhaseL")
    cache = LocalAdjacencyCache(graph)
    members = {int(s) for s in seeds}

    def quantities() -> tuple[float, float, int]:
        cache.ensure(members)
        int2 = cut = 0.0
        boundary = 0
        for u in members:
            ext = False
            for v, w in cache.nbrs(u).items():
                if v in members:
                    int2 += w
                else:
                    cut += w
                    ext = True
            boundary += 1 if ext else 0
        return int2 / 2.0, cut, boundary

    def shell_of() -> set[int]:
        return set().union(*(cache.nbrs(u).keys() for u in members)) - members

    # ---------------------------------------------------------- add phase
    while True:
        int_w, cut, b = quantities()
        cur_lin = _ieee_div(2.0 * int_w, len(members))
        cur_lex = _ieee_div(cut, b)
        cur_l = _ieee_div(cur_lin, cur_lex)
        shell = shell_of()
        cache.ensure(shell)
        # boundary-exclusivity needs members' full adjacency (already
        # ensured) — ShellInfo::boundaryChange (LocalCommunity.hpp:119-127)
        best = None
        l_max = cur_l
        for v in sorted(shell):
            nb_v = cache.nbrs(v)
            int_v = sum(w for u, w in nb_v.items() if u in members)
            ext_v = cache.wdeg(v) - int_v
            excl = sum(
                1
                for u in nb_v
                if u in members
                and all(x in members for x in cache.nbrs(u) if x != v)
            )
            bch = -excl + (1 if ext_v > 0 else 0)
            n_lin = _ieee_div(2.0 * (int_w + int_v), len(members) + 1)
            n_lex = _ieee_div(cut - int_v + ext_v, b + bch)
            n_l = _ieee_div(n_lin, n_lex)
            if n_lin > cur_lin:
                # reference: strict improvement replaces, equality feeds
                # the uniform selector — substituted by first (smallest
                # id) at equal L, which the selector picks with p > 0.
                if n_l > l_max or (n_l == l_max and best is None):
                    best, l_max = v, n_l
        if best is None:
            break
        members.add(best)

    # ------------------------------------------------------- remove phase
    for v in sorted(members):
        int_w, cut, b = quantities()
        cur_lin = _ieee_div(2.0 * int_w, len(members))
        cur_lex = _ieee_div(cut, b)
        nb_v = cache.nbrs(v)
        int_v = sum(w for u, w in nb_v.items() if u in members)
        ext_v = cache.wdeg(v) - int_v
        # CommunityInfo::boundaryChange (LocalCommunity.hpp:157-165)
        fully_int = sum(
            1
            for u in nb_v
            if u in members and all(x in members for x in cache.nbrs(u))
        )
        bch = fully_int - (1 if ext_v > 0 else 0)
        n_lin = _ieee_div(2.0 * (int_w - int_v), len(members) - 1)
        n_lex = _ieee_div(cut + int_v - ext_v, b + bch)
        if not (cur_lin > n_lin and cur_lex < n_lex):
            members.remove(v)
            if not members:
                break

    if any(int(s) not in members for s in seeds):
        return set()
    return members


# ------------------------------------------------------------ CliqueDetect
def clique_detect_expand(graph: Graph, seeds) -> set[int]:
    """CliqueDetect.cpp: candidates are non-seed nodes adjacent to ALL
    seeds (:40-84); result = seeds ∪ the maximum clique of the induced
    candidate subgraph — maximum size when unweighted, maximum (internal
    weight + seed-edge weight) when weighted (:96-160). The reference
    picks uniformly among maximum cliques; lexicographically smallest
    substituted."""
    _require_undirected(graph, "CliqueDetect")
    if graph.number_of_self_loops() > 0:
        raise ValueError("CliqueDetect works only with simple graphs.")
    cache = LocalAdjacencyCache(graph)
    seed_set = {int(s) for s in seeds}
    cache.ensure(seed_set)
    if not seed_set:
        return set()
    first, *rest = sorted(seed_set)
    cands = {
        v: w for v, w in cache.nbrs(first).items() if v not in seed_set
    }
    for s in rest:
        nb = cache.nbrs(s)
        cands = {v: w + nb[v] for v, w in cands.items() if v in nb}
    result = set(seed_set)
    if not cands:
        return result
    cache.ensure(cands)
    adj = {
        v: frozenset(u for u in cache.nbrs(v) if u in cands and u != v)
        for v in cands
    }
    cliques: list[list[int]] = []
    _bron_kerbosch_pivot(adj, [], set(adj), set(), cliques)
    if graph.weighted:
        def cweight(c: list[int]) -> float:
            cs = set(c)
            internal = sum(
                w
                for u in c
                for x, w in cache.nbrs(u).items()
                if x in cs and x != u
            ) / 2.0
            return internal + sum(cands[u] for u in c)

        best = max(cliques, key=lambda c: (cweight(c), [-x for x in c]))
    else:
        best = max(cliques, key=lambda c: (len(c), [-x for x in c]))
    return result | set(best)


# ------------------------------------------------------------- CombinedSCD
def combined_expand(graph: Graph, seeds, first, second) -> set[int]:
    """CombinedSCD.cpp: second(first(seeds)). `first`/`second` are
    callables (graph, seeds) → set."""
    inner = first(graph, seeds)
    if not inner:
        return set()
    return second(graph, inner)


# --------------------------------------------------------------- RandomBFS
def random_bfs_expand(graph: Graph, seeds, cover, seed: int = 1) -> set[int]:
    """RandomBFS.cpp: the target size is the size of a community (from
    `cover`) containing ALL seeds — the reference picks one at random,
    this engine the smallest community id; fall back to |seeds|. BFS
    level-by-level from the seeds, adding whole levels while they fit;
    the final partial level is taken in seeded-hash order (the
    reference shuffles) (:11-81). `cover` is a DataFrame(node, subset)
    or a dict node → iterable of subset ids."""
    if isinstance(cover, DataFrame):
        pull = cover.select(
            F.col(cover.columns[0]).cast("long").alias("node"),
            F.col(cover.columns[1]).cast("long").alias("subset"),
        )
        local_guard.guard_local_collect(
            pull.count(),
            row_bytes=2 * local_guard.ID_ROW_BYTES,
            what="RandomBFS cover table",
        )
        rows = pull.collect()
        cov: dict[int, set[int]] = {}
        for r in rows:
            cov.setdefault(r["node"], set()).add(r["subset"])
    else:
        cov = {int(k): {int(x) for x in v} for k, v in cover.items()}
    sizes: dict[int, int] = {}
    for subs in cov.values():
        for c in subs:
            sizes[c] = sizes.get(c, 0) + 1

    seed_list = sorted({int(s) for s in seeds})
    gs: set[int] | None = None
    for s in seed_list:
        subs = cov.get(s, set())
        gs = set(subs) if gs is None else gs & subs
    com_size = sizes[min(gs)] if gs else len(seed_list)

    cache = LocalAdjacencyCache(graph)
    result: set[int] = set()
    level = list(seed_list)
    while len(result) < com_size and level:
        if len(level) + len(result) < com_size:
            result |= set(level)
        else:
            # seeded-hash order substitutes the reference's shuffle
            order = sorted(level, key=lambda v: ((v * 2654435761 + seed) % (2**31 - 1), v))
            for v in order:
                if len(result) >= com_size:
                    break
                result.add(v)
            break
        cache.ensure(level)
        level = sorted(
            {v for u in level for v in cache.nbrs(u) if v not in result}
        )
    return result


def scd_run(graph: Graph, seeds, expand) -> dict[int, set[int]]:
    """SelectiveCommunityDetector::run — one community per seed
    (SelectiveCommunityDetector.cpp:14-22)."""
    return {int(s): expand(graph, {int(s)}) for s in seeds}
