"""Connected components over an edge DataFrame — the canonicalization
primitive (stage s5). GraphFrames-style iterative DataFrame joins, no RDDs.

Two physical strategies behind one signature:
  * driver union-find — exact, one bounded collect that is also the size
    probe, for vocabulary graphs under SMALL_GRAPH_EDGES (the common case:
    the DISTINCT name<->CAS graph is orders of magnitude smaller than the
    observation table);
  * alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014) — O(log^2 n) rounds
    regardless of diameter, for graphs too large to collect.

Scale notes (10^12-doc corpus, hub chemicals => skewed degree):
  * the min() aggregations are algebraic => map-side partial aggregation
    absorbs hub-key skew before any shuffle;
  * the edges-to-labels join is skewed on hub vertices => AQE skew-join
    splitting (enabled in session.py) handles it at runtime;
  * per-iteration localCheckpoint truncates the lineage so the plan does
    not grow with iterations (SURVEY.md §4 iterative-graph row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


SMALL_GRAPH_EDGES = 2_000_000


def _clean_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical (src, dst) projection with nulls dropped — the shared
    first step of every graph operator here."""
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )


def _symmetrized(e: DataFrame) -> DataFrame:
    """Undirected view: both orientations of every edge, deduplicated."""
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _fingerprint(df: DataFrame, *cols: str) -> tuple[int, int]:
    """(count, xxhash64-sum) of the rows' `cols` — the fixpoint check of
    every iterative operator here: two scalars per round instead of a
    subtract join. The decimal(38,0) accumulator sums 64-bit hashes over
    any realistic row count without ANSI long overflow."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """edges(src,dst) [undirected] -> (vertex, component) where component is
    the min vertex id (lexicographic) in the vertex's component.

    algorithm:
      'auto' — union-find when the distinct graph fits on the driver,
               otherwise large/small-star. The size check IS the driver
               collect (bounded at SMALL_GRAPH_EDGES + 1 rows), so a small
               graph costs one distributed pass and an oversize graph pays
               one discarded bounded collect before the star loop.
      'star' — force the distributed large-star/small-star loop.
    """
    if algorithm not in ("auto", "star"):
        raise ValueError(
            f"connected_components: algorithm must be 'auto' or 'star', got {algorithm!r}"
        )
    e = _clean_edges(edges, src, dst)
    spark = edges.sparkSession
    if algorithm == "auto":
        # union-find needs no symmetrized view, only the distinct edges
        edge_rows = e.distinct().limit(SMALL_GRAPH_EDGES + 1).collect()
        if len(edge_rows) <= SMALL_GRAPH_EDGES:
            return _union_find_labels(spark, edge_rows)
    # the star loop derives its vertex and edge sets from the undirected
    # graph: materialize it once
    return _star_labels(spark, _symmetrized(e).localCheckpoint(eager=True), max_iter)


def _union_find_labels(spark: SparkSession, edge_rows: list) -> DataFrame:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    vertices: set[str] = set()
    for row in edge_rows:
        a, b = row["src"], row["dst"]
        vertices.add(a)
        vertices.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root union keeps the "component = min vertex id" contract
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = sorted((v, find(v)) for v in vertices)
    return spark.createDataFrame(rows, "vertex string, component string")


def _star_labels(spark: SparkSession, und: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al. 2014, §3).

    Invariant: the evolving directed edge set (child -> parent candidate)
    always connects exactly the original components; at convergence it is a
    star forest with every non-root pointing at its component min.

      large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u
      small-star(u): over edges oriented child=max, m = min(N_small(u) ∪ {u});
                     emit (v, m) for v in N_small(u) ∪ {u}

    Both steps are one groupBy-min + one join — algebraic aggregations, so
    map-side partial aggregation absorbs hub skew; no driver data path.
    Convergence is detected by a (count, xxhash64-sum) fingerprint of the
    edge multiset — two scans' worth of metadata, no subtract join.
    """
    vertices = und.select(F.col("src").alias("vertex")).distinct().localCheckpoint(eager=True)
    # drop self-loops: they carry no connectivity and the star steps would
    # re-derive them forever
    edges2 = und.where(F.col("src") != F.col("dst")).localCheckpoint(eager=True)

    fp = _fingerprint(edges2, "src", "dst")
    for _ in range(max_iter):
        # ---- large-star ----
        bidir = edges2.union(
            edges2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = bidir.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        edges2 = (
            bidir.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star ----
        oriented = edges2.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).where(F.col("src") != F.col("dst"))
        mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        joined = oriented.join(mins, "src")
        edges2 = (
            joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(joined.select(F.col("src"), F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = _fingerprint(edges2, "src", "dst")
        if new_fp == fp:
            break
        fp = new_fp

    # Star forest -> labels; vertices with no surviving edge (singletons /
    # self-loop-only) label themselves.
    mapping = edges2.select(F.col("src").alias("vertex"), F.col("dst").alias("component"))
    return (
        vertices.join(mapping, "vertex", "left")
        .select("vertex", F.coalesce("component", "vertex").alias("component"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    undirected: bool = True,
) -> DataFrame:
    """Deterministic fixed-iteration PageRank over an edge table —
    entity-importance scores for the KG (disambiguation priors, triple
    ranking; the graph-centrality counterpart of a7_degree_count's raw
    degree). Simplified formulation (dangling mass not redistributed), with
    damping d = damping_num/damping_den (default 17/20 = 0.85):

        rank_0(v)   = 1/N
        rank_i+1(v) = (1-d)/N + d * sum_{u->v} rank_i(u)/outdeg(u)

    Determinism: ranks live in FIXED-POINT integer units of 1e-9 and every
    step is exact integer arithmetic — half-up integer division
    floor((2a+b)/2b) for a/b, the damping blend as one rational
    (den*units + num*den*... all over a common denominator). There is no
    float op until the final display cast, so the scores are bit-identical
    across engines, partitionings, AQE re-plans and retries — stronger
    than the round-double-then-sum-decimal technique (kmeans_centroids),
    which still leaves per-row ROUND(double) calls exposed to
    engine-specific half-at-1e-9 boundary behavior (observed once in 125k
    vertices at sf0.1).

    Magnitudes: the widest intermediate is ~34 * units * N; BIGINT holds it
    to N ~ 2.7e8 vertices. Past that, lift the three arithmetic columns to
    DECIMAL(38,0) (exact integer decimal, same operators) — the dataflow
    does not change.

    Scale shape: one equi-join (ranks x edges; AQE picks broadcast vs
    shuffle, hub-dst skew is absorbed map-side by the algebraic integer
    SUM) plus one groupBy per iteration; per-iteration localCheckpoint
    truncates lineage exactly like connected_components. The vertex count
    N is a single scalar agg-collect (same cost class as lineage.py's
    counter aggs). No driver-side data path, no Python rows.
    """
    units = 1_000_000_000  # 1e-9 fixed-point grid
    e = _clean_edges(edges, src, dst)
    e = (_symmetrized(e) if undirected else e.distinct()).localCheckpoint(eager=True)

    # After symmetrization every vertex appears on the src side; only the
    # directed path needs the dst side to pick up sink-only vertices.
    vertices = e.select(F.col("src").alias("vertex"))
    if not undirected:
        vertices = vertices.union(e.select(F.col("dst").alias("vertex")))
    vertices = vertices.distinct().localCheckpoint(eager=True)
    n = vertices.count()
    if n == 0:  # empty graph: no vertices, no ranks (avoid 1/0 below)
        return vertices.select(
            "vertex", F.lit(0.0).alias("pagerank")
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))

    # r0 = round_half_up(units/N); update numerator/denominator:
    #   (1-d)/N + d*s/units ... in units: (den-num)*units/(den*N) + num*s/den
    #   = ((den-num)*units + num*s*N) / (den*N), rounded half-up.
    r0 = (2 * units + n) // (2 * n)
    ranks = vertices.select("vertex", F.lit(r0).cast("long").alias("r"))
    num, den = damping_num, damping_den
    for _ in range(iterations):
        shares = (
            e.join(ranks, e["src"] == ranks["vertex"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("vertex"),
                F.expr("(2*r + odeg) div (2*odeg)").cast("long").alias("share"),
            )
        )
        sums = shares.groupBy("vertex").agg(F.sum("share").alias("s"))
        upd = (
            f"(2*({den - num}L*{units}L + {num}L*coalesce(s, 0L)*{n}L) + {den}L*{n}L) "
            f"div (2L*{den}L*{n}L)"
        )
        ranks = (
            vertices.join(sums, "vertex", "left")
            .select("vertex", F.expr(upd).cast("long").alias("r"))
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "vertex", (F.col("r").cast("double") / F.lit(float(units))).alias("pagerank")
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge table — the standard
    cohesion diagnostic for the entity graph (how clique-like are the
    material/chemical/supplier neighborhoods that canonicalization and
    propagation will traverse).

    Algorithm (the scale-aware formulation, Suri & Vassilvitskii 2011 /
    Cohen 2009): totally order vertices by (degree, id) and orient every
    undirected edge from the smaller to the larger endpoint. The oriented
    graph is acyclic and each triangle {a ≺ b ≺ c} survives as exactly one
    wedge a→b→c plus its closing edge a→c, so

        triangles = |(a,b) ⋈ (b,c) ⋈ (a,c)|  over oriented edges.

    Why the orientation matters at 100 TB: wedge fan-out from a vertex is
    bounded by its ORIENTED out-degree, which the (degree, id) order caps
    at O(sqrt(|E|)) for any graph — a hub with degree 10^6 contributes
    almost no wedges because nearly all its edges point INTO it. The naive
    symmetric self-join would square the hub instead. All three joins are
    hash-partitioned equi-joins with algebraic count aggregation; no
    driver-side data path.
    """
    und = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))  # self-loops close no triangle
        .localCheckpoint(eager=True)
    )
    # after symmetrization, out-degree on src IS the undirected degree
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    oriented = (
        und.join(deg.select(F.col("src"), F.col("deg").alias("sdeg")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("ddeg")),
            "dst",
        )
        .where(
            (F.col("sdeg") < F.col("ddeg"))
            | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        # oriented feeds THREE join inputs below; materialize once instead
        # of recomputing the degree joins per consumer
        .localCheckpoint(eager=True)
    )
    wedges = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b")).join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b"
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
    )
    return closed.agg(F.count(F.lit(1)).alias("triangles"))


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", iterations: int = 3
) -> DataFrame:
    """Deterministic synchronous label propagation (community detection)
    over an undirected edge table — groups the entity graph into densely
    connected neighborhoods (finer than connected_components, which merges
    through any single bridge edge; communities are where canonicalization
    review and per-neighborhood sampling operate).

    Semantics (fixed `iterations` rounds, all vertices update together):

        label_0(v)   = v
        label_i+1(v) = the most frequent label among v's neighbors,
                       ties broken by the SMALLEST label

    The (count DESC, label ASC) argmax is a total order, so every round —
    and therefore the result — is a pure function of the edge set:
    bit-identical across engines, partitionings, AQE re-plans and retries.
    (Classic LPA breaks ties randomly; a seeded-random variant would pin
    results to one engine's RNG, which is exactly what the cross-engine
    oracle forbids.) Self-loops are ignored; a vertex whose only edges are
    self-loops keeps its own id.

    Scale shape per round: one equi-join (labels x edges — hub-dst skew is
    absorbed by AQE skew splitting) and two algebraic aggregations
    (count per (vertex,label), then an argmax via MIN over a (-count,
    label) struct — both partial-aggregate map-side, so a hub vertex's
    million neighbor labels collapse within each map task before the
    exchange). localCheckpoint per round truncates lineage exactly like
    pagerank/connected_components. No driver-side data path.
    """
    und = _symmetrized(_clean_edges(edges, src, dst)).localCheckpoint(eager=True)
    vertices = und.select(F.col("src").alias("vertex")).distinct().localCheckpoint(
        eager=True
    )
    nbrs = und.where(F.col("src") != F.col("dst"))
    labels = vertices.select("vertex", F.col("vertex").alias("label"))
    for _ in range(iterations):
        counted = (
            nbrs.join(labels, nbrs["dst"] == labels["vertex"])
            .groupBy(nbrs["src"].alias("v"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = counted.groupBy("v").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l")))[
                "l"
            ].alias("label")
        )
        labels = (
            vertices.join(best, vertices["vertex"] == best["v"], "left")
            .select(
                "vertex", F.coalesce("label", "vertex").alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst", rounds: int = 8
) -> DataFrame:
    """k-core peeling over an undirected edge table: iteratively drop
    vertices of degree < k for `rounds` rounds, return the surviving
    (vertex, degree) pairs — the density pruning that strips low-support
    noise (one-off co-mentions, crawler junk) from the entity graph
    before expensive canonicalization, and the standard "nucleus" report
    for KG quality dashboards.

    Fixed-round formulation for the same reason as label_propagation /
    pagerank: a data-dependent fixpoint loop cannot be value-checked by an
    unrolled cross-engine oracle, but R synchronous rounds can, and once
    the peeling has converged (R >= peel depth — O(log n) rounds in
    practice because cascades shrink geometrically) the result IS the true
    k-core. Every round is pure integer arithmetic — bit-exact anywhere.

    Scale shape per round: one algebraic degree count (map-side partials)
    and two semi-join prunes of the edge table against the surviving
    vertex set (AQE broadcasts it as peeling shrinks it); localCheckpoint
    truncates lineage per round. The edge table only ever SHRINKS — no
    round can exceed the first round's cost. No driver-side data path.
    """
    cur = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        cur = (
            cur.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return cur.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def common_neighbors_topk(
    edges: DataFrame,
    k: int,
    max_middle_degree: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link prediction by common-neighbor count: the top-k NON-adjacent
    vertex pairs (u, v, common_neighbors) sharing the most neighbors —
    the classic candidate generator for missing KG edges (two materials
    co-ordered with the same thirty parts but never together are almost
    certainly related; the reference proposes edges only where a
    same-document mention pair exists, artifact_ingestor_service.py, and
    can never suggest a cross-document link).

    Wedge generation fans out quadratically in the MIDDLE vertex's degree
    — one 10^6-degree hub alone yields 10^12 pairs — so middles with
    degree > max_middle_degree are EXCLUDED, not sampled: counts are then
    exact over the capped-middle wedge set on any engine (a deterministic,
    value-checkable contract; callers trade recall for cost explicitly,
    the standard practice for similarity search on power-law graphs).
    End vertices u, v are never capped — hubs may still RECEIVE scores.

    Scale shape: degree agg, one self-equi-join on the middle vertex
    (fan-out bounded by |V| * cap^2 / 2), count agg per pair, one
    left-anti join against existing edges, then orderBy().limit(k) —
    a distributed TakeOrderedAndProject, never a global sort. Ties at
    the k boundary break deterministically by (count desc, u, v)."""
    if k <= 0 or max_middle_degree < 2:
        raise ValueError("k must be > 0 and max_middle_degree >= 2")
    und = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    # src-side count of the symmetrized table IS the undirected degree
    mid_ok = (
        und.groupBy(F.col("src").alias("m"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") <= max_middle_degree)
        .select("m")
    )
    nbrs = und.select(F.col("src").alias("m"), F.col("dst").alias("u")).join(
        mid_ok, "m"
    )
    wedges = nbrs.join(
        nbrs.select(F.col("m"), F.col("u").alias("v")), "m"
    ).where(F.col("u") < F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors")
    )
    existing = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return (
        scored.join(existing, ["u", "v"], "left_anti")
        .orderBy(F.col("common_neighbors").desc(), F.col("u"), F.col("v"))
        .limit(k)
    )


def link_prediction_topk(
    edges: DataFrame,
    k: int,
    max_middle_degree: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weighted link prediction: the top-k non-adjacent pairs
    (u, v, common_neighbors, jaccard_ppm, ra_1e9) ranked by the
    resource-allocation index — RA = sum over shared neighbors z of
    1/deg(z) — which down-weights promiscuous middles (a part ordered in
    every second order says little; a part shared by exactly two
    materials says a lot). Jaccard = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| is
    reported alongside in ppm. The reference proposes edges only where a
    same-document mention pair exists (artifact_ingestor_service.py) and
    has no notion of structural link scores at all.

    Exactness: RA is a BIGINT sum of 10^9 div deg(z) terms and Jaccard is
    cn * 10^6 div (deg_u + deg_v - cn) — pure integer arithmetic, bit-
    identical on any engine/partitioning (the pagerank fixed-point rule;
    never a float sum whose order could drift). Wedges are generated over
    middles with degree <= max_middle_degree EXACTLY as in
    common_neighbors_topk: hub middles are excluded, not sampled, so the
    capped-wedge scores are deterministic and value-checkable; end
    vertices keep their TRUE degrees for the Jaccard denominator.

    Scale shape: degree agg, one middle-keyed self-join bounded by
    |V| * cap^2 / 2, one algebraic (count + sum) agg per pair, one
    left-anti join against existing edges, orderBy().limit(k) =
    distributed TakeOrderedAndProject; the two degree lookups join ONLY
    the k survivors (broadcast-sized), never the full candidate set.
    Ranking ties break deterministically by (ra desc, cn desc, u, v)."""
    if k <= 0 or max_middle_degree < 2:
        raise ValueError("k must be > 0 and max_middle_degree >= 2")
    und = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("src").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    mid_ok = deg.where(F.col("deg") <= max_middle_degree).select(
        F.col("z").alias("m"), F.expr("CAST(1000000000 div deg AS BIGINT)").alias("_ra")
    )
    nbrs = und.select(F.col("src").alias("m"), F.col("dst").alias("u")).join(
        mid_ok, "m"
    )
    wedges = nbrs.join(
        nbrs.select("m", F.col("u").alias("v")), "m"
    ).where(F.col("u") < F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("_ra").alias("ra_1e9"),
    )
    existing = und.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    top = (
        scored.join(existing, ["u", "v"], "left_anti")
        .orderBy(
            F.col("ra_1e9").desc(),
            F.col("common_neighbors").desc(),
            F.col("u"),
            F.col("v"),
        )
        .limit(k)
    )
    du = deg.select(F.col("z").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("z").alias("v"), F.col("deg").alias("_dv"))
    return (
        top.join(du, "u").join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.expr(
                "CAST(common_neighbors * 1000000 div (_du + _dv - common_neighbors)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            "ra_1e9",
        )
    )


def k_hop_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
) -> DataFrame:
    """Breadth-first seed expansion: (vertex, dist) for every vertex
    reachable within k undirected hops of any seed, dist = MINIMUM hop
    count (0 for the seeds themselves). The KG subsetting primitive —
    "everything within 2 hops of these entities" — which the reference
    can only do one node at a time through its per-entity edge lookups
    (global_edge_repository.py get_edges_for_node loops).

    Scale shape: classic frontier BFS — k synchronous rounds, each ONE
    equi-join of the current frontier against the edge table (shuffle on
    the join key) plus a left-anti join against the visited set, both
    frontier-sized, never |V|-sized. The visited set is localCheckpoint'd
    per round so lineage stays O(1) instead of O(k) replans. Rounds stop
    early when a frontier empties (the isEmpty probe is one cheap job per
    round). Deterministic by construction — no tie-breaks exist: a vertex
    joins `visited` in the first round that reaches it, and min-dist is
    enforced by the anti-join, so any engine agrees exactly."""
    if k < 0:
        raise ValueError("k must be >= 0")
    und = _symmetrized(_clean_edges(edges, src, dst)).localCheckpoint(eager=True)
    visited = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .where(F.col("vertex").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for step in range(1, k + 1):
        nxt = (
            und.join(frontier.select(F.col("vertex").alias("src")), "src")
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(visited.select("vertex"), "vertex", "left_anti")
            .withColumn("dist", F.lit(step).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vertex",
    iterations: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Personalized (seed-teleport) PageRank: relevance of every vertex TO
    a seed set — the query-dependent complement of global pagerank()'s
    importance. Teleport mass lands only on seeds:

        rank_0(v)   = 1/|S| if v in S else 0
        rank_i+1(v) = (1-d)*[v in S]/|S| + d * sum_{u->v} rank_i(u)/deg(u)

    KG use: rank candidate entities by relevance to the entities already
    mentioned in a document (disambiguation context prior), or expand a
    topic from a seed set with graded scores where k_hop_neighborhood
    gives only a cut. The reference has no relevance notion beyond raw
    degree (global_node_repository.py).

    Determinism + scale shape are inherited verbatim from pagerank():
    exact BIGINT fixed-point (1e-9 units, damping as a rational, half-up
    integer division), one equi-join + one algebraic groupBy per
    iteration, per-iteration localCheckpoint. Widest intermediate is
    ~2*num*units*|S| — BIGINT-safe to |S| ~ 2.7e8 seeds; lift to
    DECIMAL(38,0) past that. Seeds not present in the edge table still
    hold and emit teleport mass (isolated seeds keep rank (1-d)/|S|)."""
    units = 1_000_000_000
    e = _symmetrized(_clean_edges(edges, src, dst)).localCheckpoint(eager=True)
    sd = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .where(F.col("vertex").isNotNull())
        .distinct()
    )
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .union(sd)
        .distinct()
        .join(sd.withColumn("_is_seed", F.lit(1)), "vertex", "left")
        .select("vertex", F.coalesce("_is_seed", F.lit(0)).alias("i"))
        .localCheckpoint(eager=True)
    )
    s_count = vertices.where(F.col("i") == 1).count()
    if s_count == 0:
        raise ValueError("seeds is empty")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    r0 = (2 * units + s_count) // (2 * s_count)
    ranks = vertices.select(
        "vertex", "i", (F.col("i") * F.lit(r0)).cast("long").alias("r")
    )
    num, den = damping_num, damping_den
    for _ in range(iterations):
        shares = (
            e.join(ranks.select("vertex", "r"), e["src"] == F.col("vertex"))
            .join(outdeg, "src")
            .where(F.col("r") != 0)
            .select(
                F.col("dst").alias("vertex"),
                F.expr("(2*r + odeg) div (2*odeg)").cast("long").alias("share"),
            )
        )
        sums = shares.groupBy("vertex").agg(F.sum("share").alias("s"))
        upd = (
            f"CASE WHEN i = 1 THEN (2*({den - num}L*{units}L + "
            f"{num}L*coalesce(s, 0L)*{s_count}L) + {den}L*{s_count}L) "
            f"div (2L*{den}L*{s_count}L) "
            f"ELSE (2L*{num}L*coalesce(s, 0L) + {den}L) div (2L*{den}L) END"
        )
        ranks = (
            vertices.join(sums, "vertex", "left")
            .select("vertex", "i", F.expr(upd).cast("long").alias("r"))
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "vertex", (F.col("r").cast("double") / F.lit(float(units))).alias("ppr")
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """All-pairs reachability with MINIMUM hop distance over a directed
    edge set — the ontology/taxonomy closure primitive ("every ancestor
    of every entity, with depth") behind subsumption queries, rollup to
    any hierarchy level, and SPARQL-style property paths (p+). The
    reference can only walk hierarchies one row at a time
    (global_edge_repository.py get_edges_for_node + a Python loop per
    level); at 100 TB the closure must be relational.

    Path doubling on the (min, +) semiring:

        R_1        = E (dist 1)
        R_{2k}(a,c) = min(R_k(a,c), min_b R_k(a,b) + R_k(b,c))

    so a closure of depth d converges in ceil(log2 d) rounds — 40-deep
    taxonomies cost 6 joins where frontier-per-level iteration (or a
    recursive CTE, the oracle's formulation) costs 40. Each round is ONE
    self-equi-join on the hop vertex plus ONE algebraic min-groupBy (map-
    side partial absorbs fan-in hubs); per-round localCheckpoint keeps
    lineage O(1); convergence is the shared (count, xxhash64-sum) _fingerprint
    — metadata only, no subtract join. Deterministic: min
    over a fixed set, no tie to break. Cycles are safe (min dist to self
    via the cycle is finite and stabilizes) but the intended input is the
    DAG shape of hierarchies; output rows are (src, dst, dist >= 1).

    Cost envelope: |closure| itself — O(n*d) for trees, up to O(n^2) for
    dense DAGs; the operator materializes what the query asks for, the
    caller bounds d via max_rounds (depth cap 2^max_rounds)."""
    e = (
        _clean_edges(edges, src, dst)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )

    reach = e
    fp = _fingerprint(reach, "src", "dst", "dist")
    for _ in range(max_rounds):
        hops = (
            reach.alias("a")
            .join(
                reach.select(
                    F.col("src").alias("_mid"),
                    F.col("dst").alias("_dst2"),
                    F.col("dist").alias("_d2"),
                ),
                F.col("a.dst") == F.col("_mid"),
            )
            .select(
                F.col("a.src").alias("src"),
                F.col("_dst2").alias("dst"),
                (F.col("a.dist") + F.col("_d2")).alias("dist"),
            )
        )
        reach = (
            reach.union(hops)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        nfp = _fingerprint(reach, "src", "dst", "dist")
        if nfp == fp:
            break
        fp = nfp
    return reach


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Deterministic fixed-iteration HITS (hubs & authorities) over a
    DIRECTED edge table — the second classic spectral centrality next to
    pagerank, and the right one when the graph is a pointing structure
    (catalogs -> products, documents -> entities): a good AUTHORITY is
    pointed at by good hubs, a good HUB points at good authorities. The
    reference ranks nodes only by raw degree
    (global_node_repository.py); HITS separates "links a lot" from
    "is linked by the right linkers".

        a_i(v) = sum_{u->v} h_{i-1}(u),  then a normalized
        h_i(u) = sum_{u->v} a_i(v),      then h normalized

    Determinism doctrine (same as pagerank): scores live in fixed-point
    integer units of 1e-9 and every step is exact integer arithmetic.
    Normalization is by the MAX (L-inf) — x * units / max in half-up
    integer division over DECIMAL(38,0) intermediates (x*units reaches
    ~N*1e18; DECIMAL(38,0) holds it to N ~ 1e20-per-units headroom) — so
    the scores are bit-identical across engines, partitionings and
    retries; the classic L2 norm needs a square root no two engines
    round identically. Max > 0 is structural while edges exist (every
    edge's dst has an in-edge, every in-edged vertex keeps >= 1 unit,
    see the iteration-1 induction in the contract row); a defensive
    guard still stops the loop rather than divide by zero.

    Scale shape per half-iteration: one equi-join (edges x scores; AQE
    picks broadcast vs shuffle; hub-side skew absorbed by the algebraic
    integer SUM's map-side partials), one all-vertex left join to keep
    structural zeros, and ONE scalar max agg-collect (metadata-only, the
    same cost class as pagerank's N probe). localCheckpoint per
    half-iteration keeps lineage O(1). No Python rows, no windows.
    """
    units = 1_000_000_000
    e = _clean_edges(edges, src, dst).distinct().localCheckpoint(eager=True)
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if vertices.isEmpty():
        return vertices.select(
            "vertex",
            F.lit(0.0).alias("authority"),
            F.lit(0.0).alias("hub"),
        )

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        m = raw.agg(F.max("s")).collect()[0][0]
        if not m:
            return raw.select("vertex", F.lit(0).cast("long").alias(col))
        return raw.select(
            "vertex",
            F.expr(
                f"CAST((2 * CAST(s AS DECIMAL(38,0)) * {units}L + {m}L) "
                f"div (2 * {m}L) AS BIGINT)"
            ).alias(col),
        ).localCheckpoint(eager=True)

    hub = vertices.select("vertex", F.lit(units).cast("long").alias("h"))
    auth = None
    for _ in range(iterations):
        raw_a = (
            e.join(hub.withColumnRenamed("vertex", "src"), "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum("h").alias("s"))
        )
        raw_a = vertices.join(raw_a, "vertex", "left").select(
            "vertex", F.coalesce("s", F.lit(0)).alias("s")
        )
        auth = _normalized(raw_a, "a")
        raw_h = (
            e.join(auth.withColumnRenamed("vertex", "dst"), "dst")
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.sum("a").alias("s"))
        )
        raw_h = vertices.join(raw_h, "vertex", "left").select(
            "vertex", F.coalesce("s", F.lit(0)).alias("s")
        )
        hub = _normalized(raw_h, "h")
    return auth.join(hub, "vertex").select(
        "vertex",
        (F.col("a").cast("double") / F.lit(float(units))).alias("authority"),
        (F.col("h").cast("double") / F.lit(float(units))).alias("hub"),
    )


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Incremental connected-components maintenance: given yesterday's
    (vertex, component) labels (component = min vertex id, the
    connected_components convention) and TODAY'S new edge batch, produce
    the labels of the union graph WITHOUT re-touching yesterday's edges.
    The daily-ingest shape of canonical-entity maintenance: the KG's
    merge graph only grows, and re-running full CC over 10^12 edges to
    absorb 10^7 new ones re-shuffles the world — this contracts it
    instead, the CC analog of dedupe.incremental_lsh_matches.

    Soundness: every existing component behaves as one supernode (its
    label); relabeling each new edge's endpoints by their labels (their
    own id when unseen) yields the CONTRACTED graph, whose components
    are exactly the merged components of the union graph. Labels are
    min-ids, so the contracted min IS the global min and the invariant
    survives arbitrarily many increments (the equivalence
    incremental(CC(E1), E2) == CC(E1 u E2) is unit-gated on random
    splits, including label-vertex collisions and brand-new vertices).

    Scale shape: two broadcast-or-shuffle equi-joins sized by the NEW
    batch relabel the endpoints; connected_components then runs on the
    contracted graph — O(affected components + new vertices) rows, not
    O(all edges) (its adaptive union-find fast path usually absorbs it
    driver-side); one final key join applies the old->new mapping to the
    label table, whose untouched rows pass through a null-merge. No pass
    over historical edges, ever."""
    lab = labels.select(
        F.col("vertex").alias("_v"), F.col("component").alias("_c")
    ).where(F.col("_v").isNotNull() & F.col("_c").isNotNull())
    e = _clean_edges(new_edges, src, dst)

    def relabel(frame: DataFrame, col: str) -> DataFrame:
        return (
            frame.join(lab.withColumnRenamed("_v", col), col, "left")
            .withColumn(col, F.coalesce("_c", F.col(col)))
            .drop("_c")
        )

    contracted = relabel(relabel(e, "src"), "dst").select("src", "dst")
    merged = connected_components(contracted)  # (vertex, component)

    # old label (or new vertex id) -> merged root
    mapping = merged.select(
        F.col("vertex").alias("_c"), F.col("component").alias("_root")
    )
    kept = lab.join(mapping, "_c", "left").select(
        F.col("_v").alias("vertex"),
        F.coalesce("_root", "_c").alias("component"),
    )
    new_vertices = (
        merged.join(lab, merged["vertex"] == lab["_v"], "left_anti")
        .select("vertex", "component")
    )
    return kept.union(new_vertices)


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    seed_col: str = "vertex",
    max_rounds: int = 20,
) -> DataFrame:
    """Multi-source weighted shortest paths over a DIRECTED edge table
    with non-negative INTEGER weights — (vertex, dist) for every vertex
    reachable from any seed, dist = minimum total weight (0 for seeds).
    k_hop_neighborhood counts hops; this prices them: latency-weighted
    reachability, cheapest-derivation depth in an ontology, trust decay
    along weighted KG edges. The relational Bellman-Ford: the reference
    could only walk it one node at a time (global_edge_repository.py).

    Each round relaxes EVERY edge once:

        dist'(v) = min(dist(v), min_{u->v}(dist(u) + w(u, v)))

    i.e. one equi-join of current distances against the edge table plus
    one algebraic min-groupBy (map-side partials absorb fan-in hubs) —
    the same skeleton as transitive_closure, converging in (longest
    shortest-path edge count) rounds, fingerprint-stop + max_rounds cap.
    Negative weights are rejected (Bellman-Ford would need cycle
    detection; KG edge costs are non-negative); weights are validated
    lazily executor-side, no extra scan. Determinism: min over a fixed
    set — no tie to break. localCheckpoint bounds lineage per round."""
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.when(F.col(weight).isNull(), F.lit(None).cast("long"))
            .when(F.col(weight) >= 0, F.col(weight).cast("long"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("weighted_sssp: negative edge weight "),
                        F.col(weight).cast("string"),
                    )
                )
            )
            .alias("_w"),
        )
        .where(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & F.col("_w").isNotNull()
        )
        .localCheckpoint(eager=True)
    )

    dist = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .where(F.col("vertex").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )

    fp = _fingerprint(dist, "vertex", "dist")
    for _ in range(max_rounds):
        relaxed = (
            dist.join(e, dist["vertex"] == e["src"])
            .select(F.col("dst").alias("vertex"), (F.col("dist") + F.col("_w")).alias("dist"))
        )
        dist = (
            dist.union(relaxed)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        nfp = _fingerprint(dist, "vertex", "dist")
        if nfp == fp:
            break
        fp = nfp
    return dist


def bipartite_project(
    df: DataFrame,
    left_col: str,
    right_col: str,
    max_right_degree: int | None = 1_000,
    min_weight: int = 1,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite relation: edge
    (l1 < l2, weight = #distinct shared right-nodes) for every left pair
    sharing at least min_weight rights. THE co-occurrence graph builder
    of KG construction — entities co-mentioned in a document, parts
    co-ordered, terms co-occurring — done ad hoc everywhere (this repo's
    own q25 co-order CTE included); first-class here so the hub policy
    is explicit instead of implicit.

    Hub policy: a right-node shared by d lefts emits C(d,2) pairs — one
    viral document with 10^5 entities is 5*10^9 pairs, and its signal is
    noise (everything co-occurs with everything). Rights above
    max_right_degree are EXCLUDED — deterministically, not sampled —
    the same capped-middle doctrine as common_neighbors_topk, so the
    output is a pure function of the data and the cap is the documented
    semantic ("co-occurrence within non-viral contexts"). None disables
    the cap for pre-bounded relations.

    Scale shape: one distinct on (left, right), one degree agg + filter
    on the SAME right key (exchange reused), one right-keyed self-join
    whose fan-out the cap bounds at C(cap,2) per right, one algebraic
    count to (l1, l2) — partials absorb pair skew map-side."""
    if min_weight < 1:
        raise ValueError("min_weight must be >= 1")
    if max_right_degree is not None and max_right_degree < 2:
        raise ValueError("max_right_degree must be >= 2 (or None)")
    lr = (
        df.select(F.col(left_col).alias("_l"), F.col(right_col).alias("_r"))
        .where(F.col("_l").isNotNull() & F.col("_r").isNotNull())
        .distinct()
    )
    if max_right_degree is not None:
        deg = lr.groupBy("_r").agg(F.count(F.lit(1)).alias("_d"))
        lr = (
            lr.join(deg.where(F.col("_d") <= max_right_degree), "_r")
            .drop("_d")
        )
    a = lr.select(F.col("_l").alias("l1"), "_r")
    b = lr.select(F.col("_l").alias("l2"), "_r")
    return (
        a.join(b, "_r")
        .where(F.col("l1") < F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def k_truss(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst", rounds: int = 3
) -> DataFrame:
    """k-truss peeling: keep edges that sit in >= k-2 triangles,
    recounted for `rounds` synchronous rounds over the shrinking graph —
    the EDGE-level cohesion filter, strictly stronger than k_core's
    vertex degrees. For an entity graph this is the difference between
    "this co-mention happened k times somewhere" (degree survives
    spam hubs) and "this relation is embedded in k-2 mutually-connected
    contexts" (a triangle needs two corroborating neighbors that also
    know EACH OTHER) — the standard denoiser before canonicalization
    merges clusters across weak bridges, because bridges by definition
    live in few triangles and peel first.

    Fixed-round formulation for the same reason as k_core/pagerank: R
    synchronous rounds ARE value-checkable by an unrolled cross-engine
    oracle while a data-dependent fixpoint is not; cascades shrink
    geometrically, so small R converges in practice (the contract gate's
    graph converges in 3). Output = final round's surviving canonical
    (src < dst) edges with the support count that round measured. Pure
    integer arithmetic — bit-exact anywhere.

    Scale shape per round: triangle SUPPORT is counted by the same
    degree-ordered orientation as triangle_count (Suri & Vassilvitskii
    2011) — wedge fan-out capped at O(sqrt(|E|)) per vertex, so hub
    vertices cannot square — then each enumerated triangle contributes
    +1 to its three canonical edges via an algebraic count (partials
    collapse map-side). The edge table only ever shrinks; round 1 is an
    upper bound on every round's cost. localCheckpoint bounds lineage.
    No driver-side data path.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k-2 triangle support threshold)")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    cur = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") < F.col("dst"))  # canonical undirected form
        .localCheckpoint(eager=True)
    )
    sup = None
    for _ in range(rounds):
        und = cur.union(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        oriented = (
            und.join(deg.select("src", F.col("deg").alias("sdeg")), "src")
            .join(deg.select(F.col("src").alias("dst"), F.col("deg").alias("ddeg")), "dst")
            .where(
                (F.col("sdeg") < F.col("ddeg"))
                | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)  # feeds three join inputs below
        )
        tri = (
            oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .join(oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b")
            .join(
                oriented.select(F.col("src").alias("a"), F.col("dst").alias("c")),
                ["a", "c"],
            )
        )
        contrib = (
            tri.select(F.least("a", "b").alias("e1"), F.greatest("a", "b").alias("e2"))
            .union(tri.select(F.least("b", "c"), F.greatest("b", "c")))
            .union(tri.select(F.least("a", "c"), F.greatest("a", "c")))
        )
        sup = (
            contrib.groupBy("e1", "e2")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= k - 2)
            # zero-support edges never appear in contrib, so the inner
            # semantics of "support >= k-2 >= 1" need no outer join
            .join(
                cur,
                (F.col("e1") == F.col("src")) & (F.col("e2") == F.col("dst")),
            )
            .select("src", "dst", "support")
            .localCheckpoint(eager=True)
        )
        cur = sup.select("src", "dst")
    return sup


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled harmonic centrality: for a deterministic seed sample S,
    score(v) = sum over seeds s (s != v, d(s,v) <= rounds) of
    1e6 div d(s,v) — the closeness-family centrality that stays defined
    on disconnected graphs (unreachable pairs contribute zero instead of
    poisoning a mean). Exact all-pairs closeness is O(V*E) and unpayable
    at 100 TB; the standard estimator (Eppstein-Wang style) runs exact
    multi-source BFS from |S| sampled seeds and scales — S is the
    caller's deterministic sample (sample_fixed_k / hash mod), so the
    result is a pure function of (graph, S), engine-replayable, and the
    per-round cost is |S| x |E| equi-join work, not V x E.

    Fixed-round doctrine (k_core/k_truss/pagerank): `rounds` synchronous
    frontier expansions are value-checkable by an unrolled oracle;
    beyond the graph's effective diameter extra rounds add nothing.
    Truncation at `rounds` is also the standard locality cutoff: a
    10-hop-away seed contributes 1e5 ppm noise, not signal.

    Scale shape per round: ONE (vertex-keyed) equi-join of the distance
    frontier against the symmetrized edge table + ONE algebraic min per
    (seed, vertex) — hash partitioned, hot vertices partial-aggregate
    map-side; localCheckpoint bounds lineage. Output: (vertex,
    reached_seeds, harmonic_ppm) in pure BIGINT.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    und = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("seed"),
        F.col(seeds.columns[0]).alias("vertex"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    for _ in range(rounds):
        nxt = (
            dist.join(und, dist["vertex"] == und["src"])
            .select("seed", F.col("dst").alias("vertex"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionAll(nxt)
            .groupBy("seed", "vertex")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.where(F.col("dist") >= 1)
        .groupBy("vertex")
        .agg(
            F.count(F.lit(1)).alias("reached_seeds"),
            F.sum(F.expr("1000000 DIV dist")).alias("harmonic_ppm"),
        )
    )


def edge_lift(
    pair_counts: DataFrame,
    top_k: int,
    min_support: int = 2,
    src: str = "src",
    dst: str = "dst",
    count_col: str = "n",
) -> DataFrame:
    """PMI-style association strength for KG edge pruning: given canonical
    (src < dst) co-occurrence pair counts, score each edge with
    lift_ppm = c_ab * T * 10^6 div (c_a * c_b) — the integer-grid
    pointwise-mutual-information ratio P(ab) / (P(a) P(b)), where c_a is
    the node's total incidence mass and T the total pair mass. Lift >
    10^6 means the pair co-occurs more than independence predicts; a raw
    count keeps hub x hub noise, lift surfaces the genuinely associated
    pairs (distinctive_terms' doctrine applied to graph edges).

    Output: top_k edges with support >= min_support ordered by
    (lift_ppm DESC, src, dst) — a distributed TakeOrderedAndProject,
    never a global sort. Products run in DECIMAL(38,0): c_ab * T * 10^6
    overflows BIGINT at web scale (10^8 * 10^12 * 10^6). The scalar T
    comes from one agg-collect over the localCheckpoint'd counts (the
    pagerank pattern — a 1-row crossJoin would plan as BNLJ), and the
    checkpoint is reused by the degree agg and the join, so the pair
    table is computed once."""
    if top_k <= 0 or min_support < 1:
        raise ValueError("top_k must be > 0 and min_support >= 1")
    pc = pair_counts.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"),
        F.col(count_col).cast("bigint").alias("c_ab"),
    ).localCheckpoint(eager=True)
    total = pc.agg(F.sum("c_ab")).collect()[0][0] or 0
    if total == 0:
        return pc.select(
            "src", "dst", "c_ab", F.lit(None).cast("bigint").alias("lift_ppm")
        ).where(F.lit(False))
    deg = (
        pc.select(F.col("src").alias("v"), "c_ab")
        .unionAll(pc.select(F.col("dst").alias("v"), "c_ab"))
        .groupBy("v")
        .agg(F.sum("c_ab").alias("c_v"))
    )
    scored = (
        pc.where(F.col("c_ab") >= min_support)
        .join(deg.withColumnRenamed("v", "src").withColumnRenamed("c_v", "c_a"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("c_v", "c_b"), "dst")
        .withColumn(
            "lift_ppm",
            F.expr(
                f"CAST(CAST(c_ab AS DECIMAL(38,0)) * {int(total)}"
                " * 1000000 DIV (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)"
            ),
        )
        .select("src", "dst", "c_ab", "lift_ppm")
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), F.col("src"), F.col("dst")
    ).limit(top_k)


def coarsen(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    label_col: str = "label",
    keep_self_loops: bool = False,
) -> DataFrame:
    """Graph summarization: collapse vertices to their labels (canonical
    entity ids from connected_components, attribute groups, community
    ids) and emit the supergraph (label_a <= label_b, n_edges) — the
    entity-level view a KG exposes after canonicalization, and the input
    to multilevel partitioning. Edges whose endpoints share a label
    become self-loops: dropped by default (they are the intra-entity
    mass), kept as (l, l) rows when keep_self_loops=True.

    Scale shape: two hash joins on the vertex key (the label map is
    usually much smaller than the edge list and broadcasts), one
    canonicalizing least/greatest projection, one algebraic count.
    Callers must pass a TOTAL label map (connected_components emits one):
    an endpoint missing from the map raises executor-side via an
    assert_true guard on the left-joined label — never a silent edge
    drop (inner join) or a fabricated singleton supernode (coalesce
    fallback); a NULL label in the map itself trips the same guard."""
    lab = labels.select(
        F.col(vertex_col).alias("_v"), F.col(label_col).alias("_l")
    )
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .join(lab.withColumnRenamed("_v", "_s").withColumnRenamed("_l", "_ls"), "_s", "left")
        .join(lab.withColumnRenamed("_v", "_d").withColumnRenamed("_l", "_ld"), "_d", "left")
        .select(
            F.when(
                F.assert_true(
                    F.col("_ls").isNotNull() & F.col("_ld").isNotNull(),
                    F.lit("coarsen: edge endpoint missing from the label map"),
                ).isNull(),
                F.least("_ls", "_ld"),
            ).alias("label_a"),
            F.greatest("_ls", "_ld").alias("label_b"),
        )
    )
    if not keep_self_loops:
        e = e.where(F.col("label_a") != F.col("label_b"))
    return e.groupBy("label_a", "label_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a vertex labeling over an undirected simple
    graph — the quality score that turns label_propagation from "it
    produced labels" into "the labels are better than chance". Q =
    sum_l (e_l/m - (a_l/(2m))^2) where m = |edges|, e_l = intra-community
    edges, a_l = degree mass of community l. Returned on the ppm integer
    grid via the single-floor rational form
        q_ppm = floor( sum_l (4*m*e_l - a_l^2) * 10^6 / (4*m^2) )
    with the floor computed sign-safely as (n - ((n % d) + d) % d) / d —
    Q is legitimately negative for anti-community labelings, and
    truncating DIV (Spark) vs floor // (DuckDB) disagree on negatives
    (the gap_fill lesson). All products run in DECIMAL(38,0): a_l <= 2m
    so a_l^2 reaches 4*10^24 at web scale.

    Output: one row (m_edges, n_communities, q_ppm). Scale shape: one
    degree agg + two label joins (broadcastable map, assert-guarded
    total like coarsen) + one per-community algebraic agg + one global
    algebraic fold — no windows, no driver iteration. Input edges must
    be canonical (src < dst, distinct); self-loops rejected loudly."""
    lab = labels.select(
        F.col(vertex_col).alias("_v"), F.col(label_col).alias("_l")
    )
    e = edges.select(
        F.when(
            F.assert_true(
                F.col(src) != F.col(dst),
                F.lit("modularity: self-loop in canonical edge input"),
            ).isNull(),
            F.col(src),
        ).alias("_s"),
        F.col(dst).alias("_d"),
    )
    le = (
        e.join(lab.withColumnRenamed("_v", "_s").withColumnRenamed("_l", "_ls"), "_s", "left")
        .join(lab.withColumnRenamed("_v", "_d").withColumnRenamed("_l", "_ld"), "_d", "left")
        .select(
            F.when(
                F.assert_true(
                    F.col("_ls").isNotNull() & F.col("_ld").isNotNull(),
                    F.lit("modularity: edge endpoint missing from the label map"),
                ).isNull(),
                F.col("_ls"),
            ).alias("_ls"),
            "_ld",
        )
        .localCheckpoint(eager=True)
    )
    deg_mass = (
        le.select(F.col("_ls").alias("_l"))
        .unionAll(le.select(F.col("_ld").alias("_l")))
        .groupBy("_l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a_l"))
    )
    intra = (
        le.where(F.col("_ls") == F.col("_ld"))
        .groupBy(F.col("_ls").alias("_l"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_l"))
    )
    m = le.count()
    if m == 0:
        return le.sparkSession.createDataFrame(
            [], "m_edges bigint, n_communities bigint, q_ppm bigint"
        )
    per = deg_mass.join(intra, "_l", "left").withColumn(
        "e_l", F.coalesce("e_l", F.lit(0).cast("bigint"))
    )
    num = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum(
            F.expr(
                f"4 * CAST({m} AS DECIMAL(38,0)) * e_l"
                " - CAST(a_l AS DECIMAL(38,0)) * a_l"
            )
        ).alias("_n"),
    )
    d = 4 * m * m
    return num.select(
        F.lit(m).cast("bigint").alias("m_edges"),
        "n_communities",
        F.expr(
            f"CAST((_n * 1000000 - ((((_n * 1000000) % {d}) + {d}) % {d}))"
            f" DIV {d} AS BIGINT)"
        ).alias("q_ppm"),
    )


def strongly_connected(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 12,
    max_inner: int = 40,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — (vertex, scc)
    where scc is the min vertex id in the vertex's SCC. The directed
    sibling of connected_components: CC over a triple table answers
    "related at all?"; SCC answers "mutually derivable?" — cyclic
    same_as/subclass tangles that must collapse to ONE canonical entity
    before a hierarchy rollup (a cycle in an is-a graph otherwise makes
    transitive_closure's "every ancestor" answer include the whole
    cycle for each member), and feedback loops in dependency KGs.

    Orzan-style coloring, fully relational — the closure is NEVER
    materialized (mutual-reachability via transitive_closure squares
    each SCC and is the oracle's job, not the operator's):

      per outer round, over the still-unassigned subgraph:
      1. forward min-label fixpoint: color(v) = min id over v's ancestors
         (incl. v) — hash-min propagation along edge direction, the CC
         inner loop's directed form; every vertex of one SCC ends with
         the same color (same ancestor set);
      2. roots: color(v) == v (no smaller vertex reaches v);
      3. backward confirmation fixpoint WITHIN color classes: v is
         confirmed iff v can reach its root through vertices of its own
         color — confirmed set of root r IS SCC(r) (r reaches v by
         color, v reaches r by confirmation);
      4. peel: assign scc = color to confirmed vertices, drop them and
         their incident edges, repeat.

    Each round peels at least the root SCC of every current color class
    (>= 1 SCC per class per round), so rounds scale with the nesting
    depth of SCCs along paths, not with |V| — log-ish on real KG graphs.
    Both fixpoints are one equi-join + one algebraic min/distinct per
    step with localCheckpoint-bounded lineage and (count, hash-sum)
    fingerprint convergence (metadata only, no subtract join). All
    shuffles key on vertex id. Unassigned vertices after max_rounds
    raise loudly — a partial SCC labeling silently corrupts every
    downstream canonicalization.

    Self-loops are dropped (a vertex is trivially in its own SCC);
    isolated vertices don't appear in an edge list — union them in as
    singletons downstream if needed."""
    e_all = (
        _clean_edges(edges, src, dst)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    assigned = None
    e = e_all
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        if verts.isEmpty():
            break
        # 1. forward min-label fixpoint (directed hash-min)
        color = verts.select("v", F.col("v").alias("color")).localCheckpoint(
            eager=True
        )
        fp = _fingerprint(color, "v", "color")
        for _i in range(max_inner):
            pushed = (
                e.join(color, e["src"] == color["v"])
                .select(F.col("dst").alias("v"), "color")
            )
            color = (
                color.union(pushed)
                .groupBy("v")
                .agg(F.min("color").alias("color"))
                .localCheckpoint(eager=True)
            )
            nfp = _fingerprint(color, "v", "color")
            if nfp == fp:
                break
            fp = nfp
        else:
            raise RuntimeError(
                "strongly_connected: forward coloring did not converge in "
                f"{max_inner} inner rounds — raise max_inner"
            )
        # 2+3. backward confirmation within color classes: restrict edges
        # to same-color endpoints, walk backward from the roots
        ce = (
            e.join(color.select(F.col("v").alias("src"), F.col("color").alias("_cs")), "src")
            .join(color.select(F.col("v").alias("dst"), F.col("color").alias("_cd")), "dst")
            .where(F.col("_cs") == F.col("_cd"))
            .select("src", "dst", F.col("_cs").alias("color"))
            .localCheckpoint(eager=True)
        )
        conf = (
            color.where(F.col("v") == F.col("color"))
            .select("v", "color")
            .localCheckpoint(eager=True)
        )
        fp = _fingerprint(conf, "v", "color")
        for _i in range(max_inner):
            back = (
                ce.join(conf, ce["dst"] == conf["v"])
                .select(F.col("src").alias("v"), ce["color"])
            )
            conf = (
                conf.union(back).distinct().localCheckpoint(eager=True)
            )
            nfp = _fingerprint(conf, "v", "color")
            if nfp == fp:
                break
            fp = nfp
        else:
            raise RuntimeError(
                "strongly_connected: backward confirmation did not converge "
                f"in {max_inner} inner rounds — raise max_inner"
            )
        # 4. peel
        batch = conf.select("v", F.col("color").alias("scc"))
        assigned = (
            batch if assigned is None else assigned.union(batch)
        ).localCheckpoint(eager=True)
        verts = verts.join(batch.select("v"), "v", "left_anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(batch.select(F.col("v").alias("src")), "src", "left_anti")
            .join(batch.select(F.col("v").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    if not verts.isEmpty():
        raise RuntimeError(
            f"strongly_connected: {verts.count()} vertices unassigned after "
            f"{max_rounds} rounds — raise max_rounds"
        )
    if assigned is None:  # no edges at all -> no vertices, empty result
        return e_all.select(
            F.col("src").alias("vertex"), F.col("dst").alias("scc")
        )
    return assigned.select(F.col("v").alias("vertex"), "scc")


def lp_candidate_scores(
    edges: DataFrame,
    query_vertices: DataFrame,
    vertex_col: str,
    max_middle_degree: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Query-centric link prediction: for each QUERY vertex u, every
    non-adjacent candidate v with (u, v, common_neighbors, ra_1e9) —
    the serving/evaluation form of link_prediction_topk (which answers
    "globally strongest missing edges"; this answers "what should THIS
    entity link to", the shape a per-entity recommender or a held-out
    evaluation needs).

    Same exactness contract as the global form: middles above
    max_middle_degree are EXCLUDED, not sampled, so capped-wedge counts
    and RA sums (BIGINT 10^9 div deg terms) are deterministic and
    value-checkable on any engine. Candidates adjacent to the query in
    the OBSERVED graph are anti-joined away (the 'filtered' setting of
    KG link-prediction evaluation).

    Scale shape: the query set prunes the u-side of the wedge join
    BEFORE the middle-keyed self-join, so fan-out is bounded by
    |queries| * cap^2, not |V| * cap^2; everything else is the
    link_prediction_topk plan without the final top-k."""
    if max_middle_degree < 2:
        raise ValueError("max_middle_degree must be >= 2")
    und = (
        _symmetrized(_clean_edges(edges, src, dst))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    q = query_vertices.select(F.col(vertex_col).alias("u")).where(
        F.col("u").isNotNull()
    ).distinct()
    deg = und.groupBy(F.col("src").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    mid_ok = deg.where(F.col("deg") <= max_middle_degree).select(
        F.col("z").alias("m"),
        F.expr("CAST(1000000000 div deg AS BIGINT)").alias("_ra"),
    )
    nbrs_u = (
        und.select(F.col("src").alias("m"), F.col("dst").alias("u"))
        .join(q, "u")
        .join(mid_ok, "m")
    )
    nbrs_v = und.select(F.col("src").alias("m"), F.col("dst").alias("v")).join(
        mid_ok.select("m"), "m"
    )
    wedges = nbrs_u.join(nbrs_v, "m").where(F.col("u") != F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum("_ra").cast("long").alias("ra_1e9"),
    )
    existing = und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return scored.join(existing, ["u", "v"], "left_anti")


def mutual_knn_graph(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Mutual-kNN sparsification: keep the undirected edge (u, v) iff v
    is in u's top-k neighbours AND u is in v's top-k, ranked by
    (weight DESC, neighbour ASC — a total order). The standard
    densification guard before clustering a similarity graph (LPA/CC
    over co-order or near-dup edges): a hub's weak edges glue
    everything into one blob unless BOTH endpoints vouch for the link.

        (u, v, weight, rank_uv, rank_vu)   with u < v

    Duplicate/parallel input edges collapse by MAX weight first (an
    observed pair's strongest evidence counts once); self-loops are
    dropped; NULL endpoints or weights raise executor-side (an
    unrankable edge silently vanishing changes every neighbourhood).

    Scale shape: one (u, v) max-agg, one symmetrized per-source
    row_number window (WindowGroupLimit pre-prunes to k rows per
    partition map-side — a 10^6-degree hub costs k, not degree), then
    ONE self-equi-join of the two bounded top-k tables on the flipped
    key. Output is <= |V| * k / 2 rows by construction."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be > 0")
    chk = lambda c: F.when(F.col(c).isNotNull(), F.col(c)).otherwise(  # noqa: E731
        F.raise_error(F.lit(f"mutual_knn_graph: NULL {c}"))
    )
    base = (
        edges.select(
            chk(src).alias("a"), chk(dst).alias("b"),
            chk(weight_col).cast("long").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )
    sym = base.unionAll(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    ).groupBy("a", "b").agg(F.max("w").alias("w"))
    wnd = Window.partitionBy("a").orderBy(F.col("w").desc(), F.col("b").asc())
    topk = (
        sym.withColumn("rk", F.row_number().over(wnd).cast("long"))
        .where(F.col("rk") <= k)
        .localCheckpoint()
    )
    rev = topk.select(
        F.col("b").alias("a"), F.col("a").alias("b"), F.col("rk").alias("rk_vu")
    )
    return (
        topk.join(rev, ["a", "b"])
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.col("w").alias("weight"),
            F.col("rk").alias("rank_uv"),
            F.col("rk_vu").alias("rank_vu"),
        )
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
    seed_col: str = "vertex",
) -> DataFrame:
    """Time-respecting reachability (temporal BFS — Pan & Saramäki
    2011): which vertices can information FROM each seed reach within
    max_hops contacts, where consecutive contacts must be
    time-ordered (each edge's timestamp >= the arrival time at its
    source)? Static reachability (k_hop_neighborhood above) overstates
    influence on a contact network: A->B at noon and B->C at 9am is a
    path in the static graph but information cannot flow through it.
    Output: (source, vertex, arrive_ts, hops) — EARLIEST arrival per
    (seed, vertex), hops = fewest contacts among earliest arrivals;
    seeds appear at hops 0 with arrive_ts NULL (origin, no contact yet).

    Correctness of the greedy state: keeping only the earliest arrival
    per (source, vertex) is lossless — any continuation legal from a
    later arrival (edge ts >= later) is legal from an earlier one, so
    the pruned frontier reaches exactly the same set with arrival times
    <= any alternative. That collapses state from all temporal paths
    (exponential) to one row per (source, vertex).

    Scale shape: k_hop's frontier discipline — max_hops synchronous
    rounds, each ONE equi-join of the frontier against the edge table
    on the source vertex with the time predicate applied in-join, then
    an algebraic min(struct(arrive, hops)) per (source, vertex) merging
    round results into the state; state and frontier are
    localCheckpoint'd per round (O(1) lineage), rounds stop early when
    no arrival improves. NULL edge endpoints/timestamps are dropped
    (clean-edges contract); directed — symmetrize upstream for contact
    semantics."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = (
        edges.select(
            F.col(src).alias("_u"), F.col(dst).alias("_v"), F.col(ts).alias("_t")
        )
        .where(
            F.col("_u").isNotNull() & F.col("_v").isNotNull() & F.col("_t").isNotNull()
        )
        .localCheckpoint(eager=True)
    )
    state = (
        seeds.select(F.col(seed_col).alias("source"))
        .where(F.col("source").isNotNull())
        .distinct()
        .select(
            "source",
            F.col("source").alias("vertex"),
            F.lit(None).cast(e.schema["_t"].dataType).alias("arrive_ts"),
            F.lit(0).cast("long").alias("hops"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = state
    for _ in range(1, int(max_hops) + 1):
        cand = (
            frontier.join(e, frontier.vertex == e._u)
            .where(F.col("arrive_ts").isNull() | (F.col("_t") >= F.col("arrive_ts")))
            .select(
                "source",
                F.col("_v").alias("vertex"),
                F.col("_t").alias("arrive_ts"),
                (F.col("hops") + 1).alias("hops"),
            )
        )
        merged = (
            state.unionByName(cand)
            .groupBy("source", "vertex")
            .agg(
                F.min(
                    F.struct(
                        # NULL arrive_ts (the seed origin) must stay the
                        # minimum: flag seeds 0, contacts 1
                        F.when(F.col("arrive_ts").isNull(), 0)
                        .otherwise(1)
                        .alias("o"),
                        F.col("arrive_ts").alias("a"),
                        F.col("hops").alias("h"),
                    )
                ).alias("_b")
            )
            .select(
                "source", "vertex",
                F.col("_b.a").alias("arrive_ts"),
                F.col("_b.h").alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        # next frontier: strictly improved or newly reached vertices
        nxt = merged.join(
            state.withColumnRenamed("arrive_ts", "_pa").withColumnRenamed(
                "hops", "_ph"
            ),
            ["source", "vertex"],
            "left",
        ).where(
            F.col("_ph").isNull()
            | (
                F.col("_pa").isNotNull()
                & (F.col("arrive_ts") < F.col("_pa"))
            )
        ).select("source", "vertex", "arrive_ts", "hops").localCheckpoint(
            eager=True
        )
        state = merged
        if nxt.isEmpty():
            break
        frontier = nxt
    return state
