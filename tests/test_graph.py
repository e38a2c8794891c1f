"""connected_components: driver union-find fast path vs distributed
large/small-star loop must agree exactly (the fast path is an adaptive
physical strategy, not a semantic change)."""

from __future__ import annotations

import random

import pytest

from entity_extractor_spark.operators import graph as G


def _random_edges(seed: int, n_vertices: int, n_edges: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    return [
        (f"v{rng.randrange(n_vertices):04d}", f"v{rng.randrange(n_vertices):04d}")
        for _ in range(n_edges)
    ]


def _brute_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    # canonicalize to true min of each component
    comps: dict[str, list[str]] = {}
    for v in parent:
        comps.setdefault(find(v), []).append(v)
    return {v: min(vs) for r, vs in comps.items() for v in vs}


@pytest.mark.parametrize("seed,nv,ne", [(1, 50, 80), (2, 200, 150), (3, 30, 200)])
def test_small_path_matches_bruteforce(spark, seed, nv, ne):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["component"] for r in G.connected_components(df).collect()}
    assert got == _brute_components(edges)


def test_distributed_path_matches_small_path(spark, monkeypatch):
    edges = _random_edges(7, 120, 100)
    df = spark.createDataFrame(edges, "src string, dst string")
    small = {r["vertex"]: r["component"] for r in G.connected_components(df).collect()}
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    dist = {r["vertex"]: r["component"] for r in G.connected_components(df).collect()}
    assert small == dist


def test_small_path_runs_at_most_three_jobs(spark):
    """The union-find path is one bounded distinct-edge collect (a shuffle
    stage plus the collect), with no checkpoint or separate size probe."""
    edges = _random_edges(4, 60, 90)
    df = spark.createDataFrame(edges, "src string, dst string")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.numTotalJobs()
    labels = G.connected_components(df)
    assert sched.numTotalJobs() - j0 <= 3
    assert {r["vertex"]: r["component"] for r in labels.collect()} == _brute_components(edges)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert G.connected_components(df).count() == 0


@pytest.mark.parametrize(
    "seed,nv,ne", [(11, 40, 60), (12, 150, 120), (13, 25, 160), (21, 80, 70)]
)
def test_star_path_matches_bruteforce(spark, seed, nv, ne):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["vertex"]: r["component"]
        for r in G.connected_components(df, algorithm="star").collect()
    }
    assert got == _brute_components(edges)


def test_star_deep_chain(spark):
    # adversarial diameter: a 64-vertex path. hash-min needs ~63 rounds;
    # large/small-star closes it in O(log n) rounds.
    edges = [(f"v{i:04d}", f"v{i + 1:04d}") for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["vertex"]: r["component"]
        for r in G.connected_components(df, algorithm="star", max_iter=12).collect()
    }
    assert got == {f"v{i:04d}": "v0000" for i in range(64)}


def test_star_self_loops_and_singletons(spark):
    edges = [("a", "a"), ("b", "c"), ("c", "b"), ("z", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["vertex"]: r["component"]
        for r in G.connected_components(df, algorithm="star").collect()
    }
    assert got == {"a": "a", "b": "b", "c": "b", "z": "z"}


def test_auto_distributed_path_exact_on_deep_chain(spark, monkeypatch):
    # force the distributed path of auto mode with a deep chain: it must
    # close a 40-hop diameter and still produce exact components.
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    edges = [(f"v{i:04d}", f"v{i + 1:04d}") for i in range(40)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["component"] for r in G.connected_components(df).collect()}
    assert got == {f"v{i:04d}": "v0000" for i in range(41)}


def test_unknown_algorithm_raises(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="'auto' or 'star'"):
        G.connected_components(df, algorithm="hashmin")


def test_pagerank_matches_python_oracle(spark):
    """graph.pagerank vs a pure-Python replay of the exact fixed-point
    procedure (integer units of 1e-9, damping 17/20, half-up integer
    division) on a small hub-and-chain graph plus a seeded random graph."""
    import random
    from collections import Counter, defaultdict

    from entity_extractor_spark.operators.graph import pagerank

    def py_pagerank(edge_list, iterations=3, num=17, den=20):
        units = 1_000_000_000
        und = set()
        for s, t in edge_list:
            und.add((s, t))
            und.add((t, s))
        verts = sorted({v for e in und for v in e})
        n = len(verts)
        od = Counter(s for s, _ in und)
        r = {v: (2 * units + n) // (2 * n) for v in verts}
        for _ in range(iterations):
            sums = defaultdict(int)
            for s, t in und:
                sums[t] += (2 * r[s] + od[s]) // (2 * od[s])
            r = {
                v: (2 * ((den - num) * units + num * sums.get(v, 0) * n) + den * n)
                // (2 * den * n)
                for v in verts
            }
        return {v: r[v] / units for v in verts}

    rng = random.Random(5)
    cases = [
        [("a", "b"), ("b", "c"), ("c", "a"), ("hub", "a"), ("hub", "b"),
         ("hub", "c"), ("hub", "d"), ("d", "e")],
        [(f"v{rng.randint(0, 30)}", f"v{rng.randint(0, 30)}") for _ in range(80)],
    ]
    for edge_list in cases:
        edge_list = [(s, t) for s, t in edge_list if s != t] or [("x", "y")]
        got = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(
                spark.createDataFrame(edge_list, "src string, dst string")
            ).collect()
        }
        assert got == py_pagerank(edge_list)


def test_pagerank_empty_graph(spark):
    from entity_extractor_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty)
    assert out.columns == ["vertex", "pagerank"] and out.count() == 0


def _brute_triangles(edges: list[tuple[str, str]]) -> int:
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    count = 0
    for a in adj:
        for b in adj[a]:
            if b > a:
                count += sum(1 for c in adj[b] if c > b and c in adj[a])
    return count


def test_triangle_count_known_graph(spark):
    """K4 has exactly 4 triangles; a pendant edge, a self-loop and a
    duplicate edge add none."""
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = k4 + [("d", "e"), ("e", "e"), ("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert G.triangle_count(df).collect()[0]["triangles"] == 4


def test_triangle_count_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert G.triangle_count(df).collect()[0]["triangles"] == 0


@pytest.mark.parametrize("seed,nv,ne", [(11, 12, 30), (12, 25, 90), (13, 8, 40)])
def test_triangle_count_matches_bruteforce(spark, seed, nv, ne):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = G.triangle_count(df).collect()[0]["triangles"]
    assert got == _brute_triangles(edges)


def _brute_lpa(edges: list[tuple[str, str]], iterations: int) -> dict[str, str]:
    from collections import Counter

    adj: dict[str, set[str]] = {}
    verts: set[str] = set()
    for a, b in edges:
        verts.update((a, b))
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    labels = {v: v for v in verts}
    for _ in range(iterations):
        nxt = {}
        for v in verts:
            c = Counter(labels[u] for u in adj.get(v, ()))
            nxt[v] = min(c, key=lambda l: (-c[l], l)) if c else v
        labels = nxt
    return labels


def test_label_propagation_bridged_triangles(spark):
    """Two triangles joined by one bridge edge stay separate communities
    (connected_components would merge them); a self-loop-only vertex keeps
    its own id."""
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x"), ("s", "s")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["label"] for r in G.label_propagation(df, iterations=3).collect()}
    assert got == _brute_lpa(edges, 3)
    assert len({got["a"], got["x"], got["s"]}) == 3  # three communities


@pytest.mark.parametrize("seed,nv,ne,it", [(21, 14, 30, 2), (22, 30, 70, 3), (23, 9, 50, 4)])
def test_label_propagation_matches_bruteforce(spark, seed, nv, ne, it):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["label"] for r in G.label_propagation(df, iterations=it).collect()}
    assert got == _brute_lpa(edges, it)
    got17 = {
        r["vertex"]: r["label"]
        for r in G.label_propagation(df.repartition(17), iterations=it).collect()
    }
    assert got17 == got


def test_label_propagation_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    out = G.label_propagation(df)
    assert out.columns == ["vertex", "label"] and out.count() == 0


def _brute_kcore(edges: list[tuple[str, str]], k: int, rounds: int):
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    verts = set(adj)
    for _ in range(rounds):
        keep = {v for v in verts if sum(1 for u in adj[v] if u in verts) >= k}
        verts = keep
    return {
        v: sum(1 for u in adj[v] if u in verts)
        for v in verts
        if sum(1 for u in adj[v] if u in verts) > 0
    }


def test_k_core_known_graph(spark):
    """K5 plus a pendant path: the 3-core is exactly the K5 (degree 4
    each); the path peels away over two cascading rounds."""
    k5 = [(a, b) for a in "abcde" for b in "abcde" if a < b]
    edges = k5 + [("e", "x"), ("x", "y"), ("y", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["degree"] for r in G.k_core(df, 3).collect()}
    assert got == {v: 4 for v in "abcde"}


@pytest.mark.parametrize("seed,nv,ne,k,rounds", [(31, 15, 60, 4, 3), (32, 25, 80, 3, 2), (33, 10, 45, 5, 8)])
def test_k_core_matches_bruteforce(spark, seed, nv, ne, k, rounds):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: r["degree"] for r in G.k_core(df, k, rounds=rounds).collect()}
    assert got == _brute_kcore(edges, k, rounds)


def test_k_core_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    out = G.k_core(df, 2)
    assert out.columns == ["vertex", "degree"] and out.count() == 0


def test_common_neighbors_topk_known_answer(spark):
    """Path + hub graph with hand-countable wedges: 1-2-3-4-5 plus hub h
    adjacent to 1,2,3. Non-adjacent pairs by common neighbors:
    (1,3):{2,h} = 2, (2,h? adjacent) ... verified by brute force below."""
    from itertools import combinations

    from entity_extractor_spark.operators.graph import common_neighbors_topk

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 1), (9, 2), (9, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r["u"], r["v"], r["common_neighbors"])
        for r in common_neighbors_topk(df, k=100, max_middle_degree=10).collect()
    ]
    adj = {}
    for s, t in edges:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    exp = []
    for u, v in combinations(sorted(adj), 2):
        if v in adj[u]:
            continue
        cn = len(adj[u] & adj[v])
        if cn:
            exp.append((u, v, cn))
    exp.sort(key=lambda r: (-r[2], r[0], r[1]))
    got.sort(key=lambda r: (-r[2], r[0], r[1]))
    assert got == exp
    assert got[0][2] == 2  # best pair shares two neighbors


def test_common_neighbors_hub_middle_excluded(spark):
    """A star center above the degree cap generates no wedges: its leaf
    pairs must NOT appear; wedges through low-degree middles survive."""
    from entity_extractor_spark.operators.graph import common_neighbors_topk

    star = [(100, i) for i in range(1, 8)]  # center degree 7
    extra = [(1, 50), (2, 50)]  # middle 50 has degree 2
    df = spark.createDataFrame(star + extra, "src long, dst long")
    rows = common_neighbors_topk(df, k=100, max_middle_degree=3).collect()
    got = {(r["u"], r["v"]): r["common_neighbors"] for r in rows}
    # (1,2) via middle 50; (50,100) via middles 1 AND 2; leaf pairs (3,4)
    # etc. connect only through the capped hub and must vanish
    assert got == {(1, 2): 1, (50, 100): 2}


def test_common_neighbors_validates_args(spark):
    import pytest

    from entity_extractor_spark.operators.graph import common_neighbors_topk

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        common_neighbors_topk(df, k=0, max_middle_degree=5)
    with pytest.raises(ValueError):
        common_neighbors_topk(df, k=5, max_middle_degree=1)


def test_k_hop_known_answer(spark):
    """Path 1-2-3-4-5 plus branch 3-6; seeds {1}: dist = hop index, 5 and
    6 beyond k=2 excluded; min-dist wins when two paths reach a vertex."""
    from entity_extractor_spark.operators.graph import k_hop_neighborhood

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "vertex long")
    got = {
        (r["vertex"], r["dist"])
        for r in k_hop_neighborhood(df, seeds, 2).collect()
    }
    # 3 is reachable in 1 hop via the 1-3 edge (not 2 via 1-2-3)
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2), (6, 2)}


def test_k_hop_zero_returns_seeds(spark):
    from entity_extractor_spark.operators.graph import k_hop_neighborhood

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (7,)], "vertex long")
    got = {(r["vertex"], r["dist"]) for r in k_hop_neighborhood(df, seeds, 0).collect()}
    assert got == {(1, 0), (7, 0)}


def test_k_hop_early_exit_on_exhausted_component(spark):
    """k larger than the component diameter: BFS stops when the frontier
    empties and never revisits."""
    from entity_extractor_spark.operators.graph import k_hop_neighborhood

    df = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "vertex long")
    got = {(r["vertex"], r["dist"]) for r in k_hop_neighborhood(df, seeds, 10).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}


def _ppr_python(edges, seeds, iterations, units=10**9, num=17, den=20):
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = set(adj) | set(seeds)
    s = len(seeds)
    r = {v: ((2 * units + s) // (2 * s) if v in seeds else 0) for v in verts}
    for _ in range(iterations):
        sums = {v: 0 for v in verts}
        for u in verts:
            if r[u] and u in adj:
                share = (2 * r[u] + len(adj[u])) // (2 * len(adj[u]))
                for v in adj[u]:
                    sums[v] += share
        nr = {}
        for v in verts:
            if v in seeds:
                nr[v] = (2 * ((den - num) * units + num * sums[v] * s) + den * s) // (
                    2 * den * s
                )
            else:
                nr[v] = (2 * num * sums[v] + den) // (2 * den)
        r = nr
    return {v: x / units for v, x in r.items()}


def test_personalized_pagerank_matches_python(spark):
    from entity_extractor_spark.operators.graph import personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5)]
    seeds = {1}
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "vertex long")
    got = {r["vertex"]: r["ppr"] for r in personalized_pagerank(edf, sdf, iterations=3).collect()}
    exp = _ppr_python(edges, seeds, 3)
    assert got == exp
    # seed outranks the far end; everything reachable has positive mass
    assert got[1] > got[5] > 0


def test_personalized_pagerank_isolated_seed_keeps_teleport(spark):
    from entity_extractor_spark.operators.graph import personalized_pagerank

    edf = spark.createDataFrame([(1, 2)], "src long, dst long")
    sdf = spark.createDataFrame([(9,)], "vertex long")
    got = {r["vertex"]: r["ppr"] for r in personalized_pagerank(edf, sdf, iterations=2).collect()}
    # isolated seed: rank = (1-d)/1 = 0.15 exactly; graph vertices get 0
    assert got[9] == 0.15 and got[1] == 0.0 and got[2] == 0.0


def test_personalized_pagerank_empty_seeds_raises(spark):
    import pytest

    from entity_extractor_spark.operators.graph import personalized_pagerank

    edf = spark.createDataFrame([(1, 2)], "src long, dst long")
    sdf = spark.createDataFrame([], "vertex long")
    with pytest.raises(ValueError):
        personalized_pagerank(edf, sdf)


def test_link_prediction_topk_vs_brute_force(spark):
    """link_prediction_topk (RA + Jaccard) against a plain-Python replay
    on a random graph, twice (cap binding and not): pair set, both scores,
    and the (ra desc, cn desc, u, v) ranking must match exactly — all the
    arithmetic is integer, so there is no tolerance."""
    from itertools import combinations

    from entity_extractor_spark.operators.graph import link_prediction_topk

    edges = _random_edges(7, 30, 80)
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")

    adj: dict[str, set[str]] = {}
    for s, t in edges:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)

    for cap in (3, 100):
        exp = []
        for u, v in combinations(sorted(adj), 2):
            if v in adj[u]:
                continue
            mids = [m for m in adj[u] & adj[v] if len(adj[m]) <= cap]
            if not mids:
                continue
            cn = len(mids)
            ra = sum(10**9 // len(adj[m]) for m in mids)
            jac = cn * 10**6 // (len(adj[u]) + len(adj[v]) - cn)
            exp.append((u, v, cn, jac, ra))
        exp.sort(key=lambda r: (-r[4], -r[2], r[0], r[1]))
        k = 10
        got = [
            (r["u"], r["v"], r["common_neighbors"], r["jaccard_ppm"], r["ra_1e9"])
            for r in link_prediction_topk(df, k=k, max_middle_degree=cap).collect()
        ]
        got.sort(key=lambda r: (-r[4], -r[2], r[0], r[1]))
        assert got == exp[:k], f"cap={cap}"


def test_link_prediction_validates_args(spark):
    import pytest

    from entity_extractor_spark.operators.graph import link_prediction_topk

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        link_prediction_topk(df, k=0, max_middle_degree=5)
    with pytest.raises(ValueError):
        link_prediction_topk(df, k=5, max_middle_degree=1)


# ------------------------------------------------------ transitive closure --

def _brute_closure(edges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """Min walk length >= 1 between every ordered pair (BFS per source);
    includes (s, s, len) when s sits on a cycle, like the operator."""
    from collections import deque

    adj: dict[str, list[str]] = {}
    nodes = set()
    for s, d in edges:
        nodes.update((s, d))
        if s != d:
            adj.setdefault(s, []).append(d)
    out: dict[tuple[str, str], int] = {}
    for s in sorted(nodes):
        dist: dict[str, int] = {}
        dq = deque()
        for v in adj.get(s, []):
            if v not in dist:
                dist[v] = 1
                dq.append(v)
        while dq:
            u = dq.popleft()
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        for v, d in dist.items():
            out[(s, v)] = d
    return out


def test_transitive_closure_diamond_takes_min_dist(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"), ("e", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"]): r["dist"] for r in G.transitive_closure(df).collect()}
    assert got == _brute_closure(edges)
    assert got[("a", "d")] == 2  # via e, not the 3-hop b-c path


def test_transitive_closure_cycle_stabilizes(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"]): r["dist"] for r in G.transitive_closure(df).collect()}
    assert got == _brute_closure(edges)
    assert got[("a", "a")] == 3  # self-reachability through the cycle


def test_transitive_closure_deep_chain_converges_in_log_rounds(spark):
    n = 20
    edges = [(f"v{i:02d}", f"v{i+1:02d}") for i in range(n)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"]): r["dist"] for r in G.transitive_closure(df).collect()}
    assert got == _brute_closure(edges)
    assert len(got) == n * (n + 1) // 2
    assert got[("v00", f"v{n:02d}")] == n


@pytest.mark.parametrize("seed,nv,ne", [(11, 12, 18), (12, 15, 25), (13, 8, 30)])
def test_transitive_closure_matches_bruteforce(spark, seed, nv, ne):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"]): r["dist"] for r in G.transitive_closure(df).collect()}
    assert got == _brute_closure(edges)


def test_transitive_closure_max_rounds_caps_depth(spark):
    # depth cap with max_rounds=1: one doubling over R_1 reaches dist <= 2
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"]): r["dist"]
           for r in G.transitive_closure(df, max_rounds=1).collect()}
    assert max(got.values()) == 2
    assert ("a", "e") not in got


# ------------------------------------------------------------------- HITS --

def _python_hits(edges, iterations=2):
    UNITS = 10**9
    e = sorted({(s, d) for s, d in edges})
    verts = sorted({x for p in e for x in p})
    h = {v: UNITS for v in verts}
    a = {}

    def norm(raw):
        m = max(raw.values()) if raw else 0
        if not m:
            return {v: 0 for v in raw}
        return {v: (2 * s * UNITS + m) // (2 * m) for v, s in raw.items()}

    for _ in range(iterations):
        ra = {v: 0 for v in verts}
        for s, d in e:
            ra[d] += h[s]
        a = norm(ra)
        rh = {v: 0 for v in verts}
        for s, d in e:
            rh[s] += a[d]
        h = norm(rh)
    return {v: (a[v] / 1e9, h[v] / 1e9) for v in verts}


def test_hits_star_separates_hubs_from_authorities(spark):
    # leaves all point at the center: center is the ONLY authority,
    # leaves are the (equal, maximal) hubs, and roles do not leak
    edges = [(f"leaf{i}", "center") for i in range(4)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["vertex"]: (r["authority"], r["hub"]) for r in G.hits(df).collect()}
    assert got["center"] == (1.0, 0.0)
    for i in range(4):
        assert got[f"leaf{i}"] == (0.0, 1.0)


@pytest.mark.parametrize("seed,nv,ne,it", [(41, 20, 40, 2), (42, 40, 90, 3)])
def test_hits_matches_python_oracle(spark, seed, nv, ne, it):
    edges = _random_edges(seed, nv, ne)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["vertex"]: (r["authority"], r["hub"])
        for r in G.hits(df, iterations=it).collect()
    }
    assert got == _python_hits(edges, iterations=it)


def test_hits_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert G.hits(df).count() == 0


# ------------------------------------------------- incremental components --

def _split_edges(edges, frac_first=0.5, seed=0):
    rng = random.Random(seed)
    first, second = [], []
    for e in edges:
        (first if rng.random() < frac_first else second).append(e)
    return first, second


@pytest.mark.parametrize("seed,nv,ne", [(71, 40, 60), (72, 100, 90), (73, 25, 120)])
def test_incremental_matches_full_recompute(spark, seed, nv, ne):
    edges = _random_edges(seed, nv, ne)
    e1, e2 = _split_edges(edges, seed=seed)
    if not e1 or not e2:
        pytest.skip("degenerate split")
    base = G.connected_components(
        spark.createDataFrame(e1, "src string, dst string")
    )
    got = {
        r["vertex"]: r["component"]
        for r in G.incremental_components(
            base, spark.createDataFrame(e2, "src string, dst string")
        ).collect()
    }
    assert got == _brute_components(edges)


def test_incremental_chain_of_increments(spark):
    # three increments that progressively bridge everything into one
    # component rooted at the global min vertex
    b0 = G.connected_components(
        spark.createDataFrame([("d", "e"), ("b", "c")], "src string, dst string")
    )
    b1 = G.incremental_components(
        b0, spark.createDataFrame([("c", "d")], "src string, dst string")
    )
    b2 = G.incremental_components(
        b1, spark.createDataFrame([("a", "e"), ("x", "y")], "src string, dst string")
    )
    got = {r["vertex"]: r["component"] for r in b2.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                   "x": "x", "y": "x"}


def test_incremental_untouched_components_pass_through(spark):
    base = G.connected_components(
        spark.createDataFrame([("a", "b"), ("m", "n")], "src string, dst string")
    )
    got = {
        r["vertex"]: r["component"]
        for r in G.incremental_components(
            base, spark.createDataFrame([("b", "c")], "src string, dst string")
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "m": "m", "n": "m"}


# ---------------------------------------------------------- weighted SSSP --

def _brute_sssp(edges, seeds):
    """Dijkstra over non-negative integer weights."""
    import heapq

    adj: dict = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {s: 0 for s in seeds}
    pq = [(0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist.get(u, 1 << 62):
            continue
        for v, w in adj.get(u, []):
            nd = dd + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_sssp_prefers_cheap_long_path(spark):
    # a->b->c->d costs 3; direct a->d costs 10: min dist wins, not hops
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "d", 10)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("a",)], "vertex string")
    got = {r["vertex"]: r["dist"] for r in G.weighted_sssp(df, seeds).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_sssp_multi_seed_and_unreachable(spark):
    edges = [("a", "b", 5), ("x", "y", 1), ("z", "q", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("a",), ("x",)], "vertex string")
    got = {r["vertex"]: r["dist"] for r in G.weighted_sssp(df, seeds).collect()}
    assert got == {"a": 0, "b": 5, "x": 0, "y": 1}  # z, q unreachable


def test_sssp_zero_weight_and_cycle(spark):
    edges = [("a", "b", 0), ("b", "a", 0), ("b", "c", 2)]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("a",)], "vertex string")
    got = {r["vertex"]: r["dist"] for r in G.weighted_sssp(df, seeds).collect()}
    assert got == {"a": 0, "b": 0, "c": 2}


@pytest.mark.parametrize("seed,nv,ne", [(81, 25, 60), (82, 40, 100)])
def test_sssp_matches_dijkstra(spark, seed, nv, ne):
    rng = random.Random(seed)
    edges = [
        (f"v{rng.randrange(nv):03d}", f"v{rng.randrange(nv):03d}",
         rng.randrange(0, 9))
        for _ in range(ne)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    seeds = spark.createDataFrame([("v000",), ("v001",)], "vertex string")
    got = {r["vertex"]: r["dist"] for r in G.weighted_sssp(df, seeds).collect()}
    assert got == _brute_sssp(edges, ["v000", "v001"])


def test_sssp_negative_weight_fails_loudly(spark):
    df = spark.createDataFrame([("a", "b", -1)], "src string, dst string, weight long")
    seeds = spark.createDataFrame([("a",)], "vertex string")
    with pytest.raises(Exception, match="negative edge weight"):
        G.weighted_sssp(df, seeds).collect()


# ----------------------------------------------------- bipartite projection --

def test_bipartite_project_known_answer(spark):
    rows = [
        ("c1", "d1"), ("c2", "d1"), ("c3", "d1"),   # d1 shared by 3
        ("c1", "d2"), ("c2", "d2"),                  # d2 shared by 2
        ("c4", "d3"),                                # singleton right
        ("c1", "d1"),                                # duplicate row: ignored
    ]
    df = spark.createDataFrame(rows, "l string, r string")
    got = {(r["l1"], r["l2"]): r["weight"]
           for r in G.bipartite_project(df, "l", "r").collect()}
    assert got == {("c1", "c2"): 2, ("c1", "c3"): 1, ("c2", "c3"): 1}


def test_bipartite_project_hub_right_excluded(spark):
    rows = [("c1", "viral"), ("c2", "viral"), ("c3", "viral"),
            ("c1", "ok"), ("c2", "ok")]
    df = spark.createDataFrame(rows, "l string, r string")
    got = {(r["l1"], r["l2"]): r["weight"]
           for r in G.bipartite_project(df, "l", "r", max_right_degree=2).collect()}
    assert got == {("c1", "c2"): 1}  # viral right contributes nothing


def test_bipartite_project_min_weight(spark):
    rows = [("a", "r1"), ("b", "r1"), ("a", "r2"), ("b", "r2"), ("a", "r3"),
            ("c", "r3")]
    df = spark.createDataFrame(rows, "l string, r string")
    got = {(r["l1"], r["l2"]): r["weight"]
           for r in G.bipartite_project(df, "l", "r", min_weight=2).collect()}
    assert got == {("a", "b"): 2}


def test_bipartite_project_validates(spark):
    df = spark.createDataFrame([("a", "r")], "l string, r string")
    with pytest.raises(ValueError):
        G.bipartite_project(df, "l", "r", min_weight=0)
    with pytest.raises(ValueError):
        G.bipartite_project(df, "l", "r", max_right_degree=1)


# ------------------------------------------------------------------ k-truss

def _truss_brute(edges: set[tuple[int, int]], k: int, rounds: int):
    """Python replay of the fixed-round synchronous truss peel."""
    cur = {tuple(sorted(e)) for e in edges}
    sup: dict[tuple[int, int], int] = {}
    for _ in range(rounds):
        adj: dict[int, set[int]] = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
        cur = {e for e, s in sup.items() if s >= k - 2}
        sup = {e: s for e, s in sup.items() if s >= k - 2}
    return sup


def test_k_truss_k5_plus_pendant(spark):
    from entity_extractor_spark.operators.graph import k_truss

    ed = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(4, 10), (10, 11)]
    df = spark.createDataFrame(ed, "src long, dst long")
    got = {(r.src, r.dst): r.support for r in k_truss(df, k=4, rounds=3).collect()}
    # K5 edges all have support 3 (each pair has 3 common neighbors);
    # pendant path closes no triangle and peels in round 1
    assert got == {(a, b): 3 for a in range(5) for b in range(a + 1, 5)}


def test_k_truss_bridge_peels_cascade(spark):
    from entity_extractor_spark.operators.graph import k_truss

    # two triangles joined by a bridge: at k=3 the triangles survive
    # (support 1), the bridge has support 0 and peels
    ed = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5)]
    df = spark.createDataFrame(ed, "src long, dst long")
    got = {(r.src, r.dst): r.support for r in k_truss(df, k=3, rounds=2).collect()}
    assert got == {(0, 1): 1, (1, 2): 1, (0, 2): 1, (3, 4): 1, (4, 5): 1, (3, 5): 1}


def test_k_truss_matches_bruteforce_random(spark):
    import random

    from entity_extractor_spark.operators.graph import k_truss

    random.seed(11)
    for trial, (n, m, k) in enumerate([(18, 60, 4), (14, 45, 5), (22, 80, 3)]):
        edges = set()
        while len(edges) < m:
            a, b = random.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {(r.src, r.dst): r.support for r in k_truss(df, k=k, rounds=3).collect()}
        assert got == _truss_brute(edges, k, 3), f"trial {trial}"


def test_k_truss_validates(spark):
    from entity_extractor_spark.operators.graph import k_truss

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest as _pt

    with _pt.raises(ValueError):
        k_truss(df, k=2)
    with _pt.raises(ValueError):
        k_truss(df, k=4, rounds=0)


# ------------------------------------------------- harmonic centrality

def test_harmonic_centrality_matches_bfs_bruteforce(spark):
    import random
    from collections import deque

    from entity_extractor_spark.operators.graph import harmonic_centrality

    random.seed(23)
    n, m = 25, 60
    edges = set()
    while len(edges) < m:
        a, b = random.sample(range(n), 2)
        edges.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = [0, 3, 7, 99]  # 99 is not in the graph: contributes nothing
    rounds = 3
    want = {}
    for s in seeds:
        if s not in adj:
            continue
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= rounds:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d >= 1:
                r, h = want.get(v, (0, 0))
                want[v] = (r + 1, h + 1_000_000 // d)
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "v long")
    got = {r.vertex: (r.reached_seeds, r.harmonic_ppm)
           for r in harmonic_centrality(edf, sdf, rounds=rounds).collect()}
    assert got == want


def test_harmonic_centrality_validates(spark):
    import pytest as _pt

    from entity_extractor_spark.operators.graph import harmonic_centrality

    with _pt.raises(ValueError):
        harmonic_centrality(None, None, rounds=0)


# -------------------------------------------------------------------- SCC --

def _tarjan_scc(edges):
    """Iterative Tarjan: vertex -> min id of its SCC."""
    adj: dict = {}
    verts = set()
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        verts.add(u)
        verts.add(v)
    idx: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    out: dict = {}
    counter = [0]
    for root in sorted(verts):
        if root in idx:
            continue
        work = [(root, 0)]
        while work:
            u, pi = work[-1]
            if pi == 0:
                idx[u] = low[u] = counter[0]
                counter[0] += 1
                stk.append(u)
                onstk.add(u)
            recurse = False
            nbrs = adj.get(u, [])
            for j in range(pi, len(nbrs)):
                w = nbrs[j]
                if w not in idx:
                    work[-1] = (u, j + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in onstk:
                    low[u] = min(low[u], idx[w])
            if recurse:
                continue
            if low[u] == idx[u]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == u:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                p = work[-1][0]
                low[p] = min(low[p], low[u])
    return out


def test_strongly_connected_known_answer(spark):
    """Two 3-cycles bridged by a one-way edge stay SEPARATE SCCs; adding
    the reverse bridge merges them — the mutual-reachability definition,
    not mere weak connectivity."""
    from entity_extractor_spark.operators.graph import strongly_connected

    ring1 = [(1, 2), (2, 3), (3, 1)]
    ring2 = [(10, 11), (11, 12), (12, 10)]
    one_way = ring1 + ring2 + [(3, 10)]
    df = spark.createDataFrame(one_way, "src long, dst long")
    got = {r.vertex: r.scc for r in strongly_connected(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}

    both_ways = one_way + [(12, 2)]
    df2 = spark.createDataFrame(both_ways, "src long, dst long")
    got2 = {r.vertex: r.scc for r in strongly_connected(df2).collect()}
    assert got2 == {v: 1 for v in (1, 2, 3, 10, 11, 12)}


def test_strongly_connected_random_vs_tarjan(spark):
    """Random directed multigraphs vs an iterative Tarjan replay —
    cycles, DAG fringes, nested/overlapping rings all exact."""
    rng = random.Random(17)
    from entity_extractor_spark.operators.graph import strongly_connected

    for _ in range(3):
        n = 50
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randrange(30, 120))
            }
        )
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.vertex: r.scc
            for r in strongly_connected(df, max_rounds=60).collect()
        }
        assert got == _tarjan_scc(edges)


def test_strongly_connected_unconverged_raises(spark):
    """A graph that cannot finish peeling within max_rounds raises loudly
    instead of returning a partial (silently corrupting) labeling."""
    from entity_extractor_spark.operators.graph import strongly_connected

    # chain of nested cycles: each outer round peels one, so 4 SCCs
    # cannot finish in 2 rounds
    edges = []
    for k in range(4):
        a, b = 2 * k + 1, 2 * k + 2
        edges += [(a, b), (b, a)]
        if k:
            edges.append((2 * k - 1, a))
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(Exception, match="unassigned|converge"):
        strongly_connected(df, max_rounds=2)
    got = {r.vertex: r.scc for r in strongly_connected(df, max_rounds=8).collect()}
    assert got == _tarjan_scc(edges)


def test_mutual_knn_graph_semantics(spark):
    import pytest

    from entity_extractor_spark.operators.graph import mutual_knn_graph

    # hub h connects to a,b,c strongly ranked; with k=1: a's best is h,
    # h's best is a (weight 9) -> mutual; (h,b) is b's best but h ranks
    # it 2nd -> dropped at k=1, kept at k=2.
    edges = spark.createDataFrame(
        [("h", "a", 9), ("h", "b", 5), ("h", "c", 1), ("a", "c", 2),
         ("h", "a", 4)],  # parallel edge: max weight 9 wins
        "src string, dst string, weight long",
    )
    k1 = {
        (r.u, r.v): r for r in mutual_knn_graph(edges, 1).collect()
    }
    assert set(k1) == {("a", "h")}
    assert (k1[("a", "h")].weight, k1[("a", "h")].rank_uv, k1[("a", "h")].rank_vu) == (9, 1, 1)
    k2 = {(r.u, r.v) for r in mutual_knn_graph(edges, 2).collect()}
    assert ("b", "h") in k2 and ("a", "h") in k2
    # self loops dropped, guards raise
    loop = spark.createDataFrame([("x", "x", 5)], "src string, dst string, weight long")
    assert mutual_knn_graph(loop, 2).count() == 0
    with pytest.raises(ValueError):
        mutual_knn_graph(edges, 0)
    bad = spark.createDataFrame([("x", None, 5)], "src string, dst string, weight long")
    with pytest.raises(Exception, match="NULL dst"):
        mutual_knn_graph(bad, 2).collect()


# ------------------------------------------------------ temporal_reachability --


def _reach(spark, edge_rows, seeds, h):
    from entity_extractor_spark.operators.graph import temporal_reachability

    e = spark.createDataFrame(edge_rows, "src string, dst string, ts long")
    s = spark.createDataFrame([(x,) for x in seeds], "vertex string")
    return {
        (r["source"], r["vertex"]): (r["arrive_ts"], r["hops"])
        for r in temporal_reachability(e, s, h).collect()
    }


def test_temporal_vs_static_path(spark):
    """a->b at t=10, b->c at t=5: static 2-hop reaches c, temporal must
    NOT; reversed timestamps do flow."""
    out = _reach(spark, [("a", "b", 10), ("b", "c", 5)], ["a"], 3)
    assert out == {("a", "a"): (None, 0), ("a", "b"): (10, 1)}
    out2 = _reach(spark, [("a", "b", 5), ("b", "c", 10)], ["a"], 3)
    assert out2[("a", "c")] == (10, 2)


def test_temporal_equal_ts_and_earliest_arrival(spark):
    """Equal timestamps chain (>= semantics); among two routes the
    EARLIEST arrival wins and hops break ties at that arrival."""
    edges = [
        ("a", "b", 5), ("b", "c", 5),          # c via 2 hops at t=5
        ("a", "c", 7),                          # direct but later
        ("a", "d", 3), ("d", "c", 5),          # also arrives t=5, 2 hops
    ]
    out = _reach(spark, edges, ["a"], 3)
    assert out[("a", "c")] == (5, 2)  # t=5 beats t=7 despite 1 hop
    # earliest arrival propagates: c can continue on ts >= 5
    out2 = _reach(spark, edges + [("c", "e", 6)], ["a"], 3)
    assert out2[("a", "e")] == (6, 3)


def test_temporal_hop_bound_and_multi_seed(spark):
    edges = [("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("d", "e", 4)]
    out = _reach(spark, edges, ["a", "c"], 2)
    assert ("a", "d") not in out or out[("a", "d")][1] <= 2
    assert out[("a", "c")] == (2, 2)
    assert out[("c", "e")] == (4, 2)
    assert ("a", "e") not in out  # 4 hops away, bound 2
    with __import__("pytest").raises(ValueError):
        _reach(spark, edges, ["a"], -1)
