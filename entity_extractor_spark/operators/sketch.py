"""KMV (k-minimum-values) distinct-count sketch — deterministic,
mergeable, cross-engine-exact approximate COUNT(DISTINCT).

Why not approx_count_distinct: Spark's HLL++ and DuckDB's HLL use
different hash functions and register layouts, so their estimates can
never hash-match — un-oracle-able, and two runs of two engines disagree.
KMV replaces it with a sketch every engine can replay bit-for-bit: hash
each key onto the uniform 48-bit grid md5[0:12] (the sampling module's
portable-hash convention), keep each group's k smallest DISTINCT hash
values, and estimate

    distinct ~= (k-1) * 2^48 DIV kth_smallest_hash     (BIGINT arithmetic)

(the classic KMV/bottom-k estimator: if k uniform points occupy [0, h_k],
the full set's density extrapolates to the whole range). Groups with
fewer than k distinct hashes report their EXACT count — the sketch
degrades to truth, never the reverse.

Scale shape: one DISTINCT on (group, hash) — map-side partial dedup —
then a row_number window per GROUP (partitioned, and Spark's
WindowGroupLimit pre-prunes rank<=k map-side, so a billion-key group
ships ~k rows per task, not its whole mass), then one algebraic agg. The
sketch state (k hashes per group) is tiny and MERGEABLE: union two
sketches' hash sets and re-take the k smallest — exactly how a 100 TB
corpus aggregates per-shard sketches without re-scanning
(tests/test_sketch.py proves merge(sketch(A), sketch(B)) == sketch(A|B)).

Reference analog: the corpus-stats queries the ingest dashboard issues
(SELECT COUNT(DISTINCT ...) per folder, processors/queue.py) — exact
there because the corpus is small; at 100 TB the exact form is a full
shuffle of every key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = 1 << 48  # md5[0:12] hex = uniform 48-bit grid
_SALT = "kmv"


def kmv_hash(key: Column) -> Column:
    """Uniform 48-bit hash of a key (portable: DuckDB replays it with
    string/md5 functions; same recipe as sampling.sample_bucket minus the
    modulus)."""
    h = F.md5(F.concat_ws("|", key.cast("string"), F.lit(_SALT)))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long")


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group approximate distinct count: (group, n_kept, est_distinct).

    n_kept = min(k, #distinct hashes) — the sketch size actually held;
    est_distinct is exact when n_kept < k, else the bottom-k estimate.
    Hash collisions on the 48-bit grid under-count by ~n^2/2^49 —
    negligible below ~10^12 distinct keys per group."""
    if k < 2:
        raise ValueError("k must be >= 2")
    hashes = (
        df.select(F.col(group_col), kmv_hash(F.col(key_col)).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("_h")
    kept = hashes.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return kept.groupBy(group_col).agg(
        F.count("*").alias("n_kept"),
        F.when(
            F.count("*") < k, F.count("*")
        )
        .otherwise(
            F.expr(f"CAST({(k - 1) * HASH_SPACE} AS BIGINT) DIV MAX(_h)")
        )
        .alias("est_distinct"),
    )


def kmv_slice_jaccard(
    df: DataFrame,
    slice_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise set overlap between corpus slices WITHOUT comparing the
    sets: per-slice KMV sketches plus sketch ALGEBRA. For each slice pair
    (a < b):

        est_union        = estimate of the MERGED sketch (union the two
                           hash sets, re-take the k smallest — exactly the
                           mergeability the unit tests prove)
        est_intersection = max(0, est_a + est_b - est_union)   (incl-excl)
        jaccard_ppm      = est_intersection * 10^6 DIV est_union

    Output: (slice_a, slice_b, est_a, est_b, est_union, est_intersection,
    jaccard_ppm). Each estimate degrades to the EXACT distinct count when
    its sketch holds fewer than k hashes. Intersection error compounds to
    ~2-3x a single sketch's 1/sqrt(k), the documented KMV trade — size k
    accordingly.

    This answers curation's overlap questions ("how much of slice A's
    vocabulary / user base / shingle set is already in B?") at sketch cost:
    the full data is touched ONCE to build per-slice sketches (same shape
    as kmv_distinct); the pairwise stage then runs on #slices rows of
    k-hash arrays — for the tens-to-thousands of slices a real mixture
    has, driver-trivial, while the naive list_intersect over raw key sets
    would shuffle the whole corpus per pair. The slice-pair theta-join
    (slice_a < slice_b over a #slices-row table) is a deliberate,
    allowlisted broadcast-nested-loop over sketch rows, never over data.

    Intersection arithmetic runs in DECIMAL(38,0): est values reach
    (k-1)*2^48 when a kth hash is pathologically small, and * 10^6 must
    not overflow BIGINT (jaccard_ppm itself is <= 10^6 and casts back)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    hashes = (
        df.select(F.col(slice_col).alias("_s"), kmv_hash(F.col(key_col)).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy("_s").orderBy("_h")
    sketches = (
        hashes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy("_s")
        .agg(F.sort_array(F.collect_list("_h")).alias("_hs"))
        .localCheckpoint(eager=True)
    )

    def est_expr(hs_sql: str) -> Column:
        return F.expr(
            f"CASE WHEN size({hs_sql}) < {k} THEN CAST(size({hs_sql}) AS BIGINT) "
            f"ELSE CAST({(k - 1) * HASH_SPACE} AS BIGINT) DIV element_at({hs_sql}, {k}) END"
        )

    a = sketches.select(F.col("_s").alias("slice_a"), F.col("_hs").alias("_ha"))
    b = sketches.select(F.col("_s").alias("slice_b"), F.col("_hs").alias("_hb"))
    pairs = a.join(b, F.col("slice_a") < F.col("slice_b"))
    merged = F.slice(F.array_sort(F.array_union(F.col("_ha"), F.col("_hb"))), 1, k)
    out = (
        pairs.withColumn("_hm", merged)
        .withColumn("est_a", est_expr("_ha"))
        .withColumn("est_b", est_expr("_hb"))
        .withColumn("est_union", est_expr("_hm"))
        .withColumn(
            "est_intersection",
            F.greatest(
                F.lit(0).cast("long"),
                (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long"),
            ),
        )
    )
    return out.select(
        "slice_a",
        "slice_b",
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        F.expr(
            "CASE WHEN est_union > 0 THEN CAST("
            "CAST(est_intersection AS DECIMAL(38,0)) * 1000000"
            " DIV CAST(est_union AS DECIMAL(38,0)) AS BIGINT) END"
        ).alias("jaccard_ppm"),
    )


def cms_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-Min sketch of a key column's frequency distribution:
    (row_id, bucket, cnt) — depth independent hash rows, each key counted
    into bucket hash48(key|row_id|salt) % width per row. The MERGEABLE
    frequency sketch (sum two tables cell-wise == sketch of the union,
    unit-proved) — the companion of kmv_distinct: KMV answers "how many
    distinct", CMS answers "how often is THIS key" over streams/shards
    without holding the key space. Deterministic and cross-engine exact:
    counts are plain integer sums on the md5 grid (Cormode & Muthukrishnan
    2005 — never the random-seeded hashing of library sketches, which no
    second engine can replay).

    Scale shape: one map-side explode to depth rows per input row, then
    ONE groupBy over at most depth*width cells — partial aggregation
    collapses each task's contribution to <= depth*width rows before the
    (tiny) shuffle. The sketch is ~depth*width BIGINTs regardless of input
    size."""
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    rows = df.select(F.col(key_col).cast("string").alias("_k")).withColumn(
        "row_id", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("_k"), F.col("row_id"), F.lit(salt))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        rows.select(F.col("row_id").cast("long").alias("row_id"), bucket.alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-frequency estimates from a cms_table sketch: (key, est) with
    est = min over the depth rows of the key's cell — an OVERESTIMATE,
    never an under (est >= true count, error <= total/width per row
    w.h.p.; unit-gated). Keys whose cell is empty estimate 0. depth/width/
    salt must match the cms_table build.

    Scale shape: the query keys explode to depth rows MAP-SIDE (a literal
    sequence — never a 1-row crossJoin, which plans as a nested loop),
    LEFT-join the depth*width-cell sketch on (row_id, bucket) —
    broadcast-sized by construction — then one min per key."""
    q = (
        keys.select(F.col(key_col).alias("key"))
        .distinct()
        .withColumn("_rid", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))))
        .withColumn("row_id", F.col("_rid").cast("long"))
        .drop("_rid")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("key").cast("string"), F.col("row_id"), F.lit(salt)
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        q.withColumn("bucket", bucket)
        .join(F.broadcast(cms), ["row_id", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def sample_quantiles(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    percentiles: tuple[int, ...] = (50, 90, 99),
    k: int = 256,
) -> DataFrame:
    """Per-group approximate quantiles by deterministic bottom-k row
    sampling — the mergeable quantile companion of kmv_distinct, for when
    group_percentiles' exact path is too wide (its sort is over distinct
    VALUES; a continuous metric with 10^9 distinct values per group sorts
    10^9 rows — this sorts k).

    Why not approx_percentile/GK sketches: both are ORDER-DEPENDENT (the
    sketch state depends on which partition saw which row first), so two
    runs disagree and no oracle can replay them. Here the sample is the
    k rows with the SMALLEST uniform hash of (group, id) — a fixed
    property of the data: partition-, retry- and engine-invariant, and
    mergeable exactly like KMV (union shard samples, re-take bottom-k).
    The estimate is then the EXACT type-1 percentile of the sample
    (rank ceil(p*n/100) — pure integers). Groups with <= k rows keep
    every row, so the sketch degrades to the exact answer. Sampling
    error is the usual order-statistic ~1/sqrt(k) in rank space; k is
    the dial.

    Returns (group, pct, value_est, n_sampled, n_rows). Scale shape: one
    window per group ordered by (hash, id) — Spark's WindowGroupLimit
    pre-prunes rank <= k map-side, so a 10^9-row group ships ~k rows per
    task — then the type-1 rank arithmetic over k-row groups."""
    if k <= 0:
        raise ValueError("k must be positive")
    v = df.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).alias("_id"),
        F.col(value_col).alias("_val"),
    ).where(
        F.col("_grp").isNotNull()
        & F.col("_id").isNotNull()
        & F.col("_val").isNotNull()
    )
    h = F.md5(
        F.concat_ws(
            "|", F.col("_grp").cast("string"), F.col("_id").cast("string"),
            F.lit("qsk"),
        )
    )
    v = v.withColumn("_h", F.conv(F.substring(h, 1, 12), 16, 10).cast("long"))
    totals = v.groupBy("_grp").agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy("_grp").orderBy("_h", "_id")
    sample = (
        v.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_h", "_id")
    )
    # exact type-1 percentiles of the sample (distinct-value collapse)
    counts = sample.groupBy("_grp", "_val").agg(F.count(F.lit(1)).alias("_c"))
    wv = Window.partitionBy("_grp").orderBy("_val")
    cum = counts.withColumn("_cum", F.sum("_c").over(wv)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy("_grp"))
    )
    pcts = F.array(*[F.lit(int(p)) for p in percentiles])
    return (
        cum.withColumn("pct", F.explode(pcts))
        .withColumn("_t", F.expr("(pct * _n + 99) div 100"))
        .where(
            (F.col("_cum") >= F.col("_t"))
            & (F.col("_cum") - F.col("_c") < F.col("_t"))
        )
        .join(totals, "_grp")
        .select(
            F.col("_grp").alias(group_col),
            F.col("pct").cast("long").alias("pct"),
            F.col("_val").alias("value_est"),
            F.col("_n").cast("long").alias("n_sampled"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def join_size_estimate(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    sample_ppm: int = 100_000,
) -> DataFrame:
    """Forecast |A join B on key| BEFORE paying the shuffle — correlated
    sampling (Vengerov et al., VLDB 2015): both sides keep only keys
    whose shared deterministic hash lands under the same threshold
    (kmv_hash < sample_ppm/1e6 of the hash space), so a sampled key is
    sampled on BOTH sides and its full frequency product survives;
    estimate = (sum over sampled keys of fA*fB) * 1e6 div sample_ppm.
    Independent Bernoulli ROW-sampling would break the key correlation
    (a key sampled on one side but not the other contributes garbage);
    hash-correlated sampling sees a key's full fA*fB whenever it sees
    the key at all.

    This is the cardinality probe a planner wants exposed as an
    operator: at 100 TB, knowing a proposed join explodes to 10^14 rows
    is worth one pushed-down scan-level hash filter per side (the
    sampled fraction never leaves the scan stage) + one p-fraction
    equi-join over pre-aggregated (key, count) rows. The hash grid is
    the md5 48-bit one every sketch here uses: the estimate is a pure
    function of (data, sample_ppm) — partition/retry/engine-invariant.

    Regimes, stated plainly: sample_ppm = 1e6 is EXACT at distinct-key
    cost — two algebraic (key, count) aggs + one distinct-key join; the
    join explosion itself never materializes, so exact mode is already
    cheap and is the right default below ~10^10 distinct keys. Sampled
    mode is for beyond that, and its variance concentrates in the head:
    a single key dominating the join is included with probability p and
    missed otherwise (all-or-nothing), so on skewed joins either pin
    the hot keys exactly first (skew.skew_profile emits exactly that
    top-k list; subtract, sample the tail) or run exact mode. Estimates
    are trustworthy when no surviving key dominates the sampled sum.

    Output (one row): n_sampled_keys (matched keys in the sample),
    sampled_pairs (exact BIGINT sum of fA*fB over them), est_join_rows
    (scaled, DECIMAL(38,0) arithmetic so hot-key products * 1e6 cannot
    overflow, floor-cast back to BIGINT).
    """
    if not (0 < sample_ppm <= 1_000_000):
        raise ValueError("sample_ppm must be in (0, 1000000]")
    thresh = HASH_SPACE * sample_ppm // 1_000_000

    def side(df: DataFrame, key: str, alias: str) -> DataFrame:
        return (
            df.select(F.col(key).alias("_k"))
            .where(F.col("_k").isNotNull() & (kmv_hash(F.col("_k")) < thresh))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    fa = side(a, a_key, "_fa")
    fb = side(b, b_key, "_fb")
    return (
        fa.join(fb, "_k")
        .agg(
            F.count(F.lit(1)).alias("n_sampled_keys"),
            F.coalesce(F.sum(F.col("_fa") * F.col("_fb")), F.lit(0)).alias(
                "sampled_pairs"
            ),
        )
        .select(
            "n_sampled_keys",
            "sampled_pairs",
            F.expr(
                "CAST(CAST(sampled_pairs AS DECIMAL(38,0)) * 1000000"
                f" DIV {int(sample_ppm)} AS BIGINT)"
            ).alias("est_join_rows"),
        )
    )


# ------------------------------------------------------------------- HLL --
#
# KMV (above) is this module's default distinct sketch because its state
# is a plain sorted hash list. HLL earns its place for a different reason:
# its per-group state is a FIXED m-register table whose merge is a pure
# per-bucket MAX — no windows, no row_number, no per-group ordering at
# all. Build and merge are both single algebraic groupBy aggs, which is
# the shape you want when the sketch is maintained INCREMENTALLY (today's
# partition's registers max-merged into yesterday's persisted register
# table — Flajolet et al., AofA 2007; same register algebra as Spark's
# own approx_count_distinct, but positioned on the md5 grid so DuckDB —
# or any ANSI engine — replays it bit-for-bit; the builtin HLL++ can
# never hash-match across engines).

_HLL_RHO_MAX = 49  # 48 payload bits => rho in [1, 49]


def _hll_check(b_bits: int) -> int:
    if type(b_bits) is not int or b_bits not in (8, 12, 16):
        # hex-digit-aligned bucket widths keep the bucket substring
        # replayable as substring(md5, 1, b/4) on every engine
        raise ValueError("hll: b_bits must be 8, 12 or 16")
    return b_bits // 4


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    b_bits: int = 12,
) -> DataFrame:
    """Sparse HLL register table per group: (group..., bucket, register)
    — one row per NON-EMPTY bucket (register >= 1), so a small group
    costs what it holds, not m = 2^b_bits rows. bucket = first b_bits of
    md5(key|hll); register = max over the bucket's keys of rho(w), the
    1-based position of the leftmost 1-bit in the NEXT 48 hash bits
    (w = 0 => rho = 49). rho is computed as 49 - length(bin(w)) — bin()
    prints without leading zeros on Spark and DuckDB alike, so no
    float log2 ever runs. NULL keys are skipped (COUNT DISTINCT
    semantics).

    Scale shape: ONE algebraic groupBy max — partials collapse map-side,
    a billion-row group ships at most m register rows per task. Merging
    two register tables (two corpus shards, two days) is the SAME agg
    over their union; tests prove merge(reg(A), reg(B)) == reg(A | B)
    exactly, hence identical estimates — the no-recount incremental
    story."""
    hexd = _hll_check(b_bits)
    h = F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit("hll")))
    w = F.conv(F.substring(h, hexd + 1, 12), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            *[F.col(g) for g in group_cols],
            F.conv(F.substring(h, 1, hexd), 16, 10)
            .cast("long")
            .alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").cast("long").alias("register"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    b_bits: int = 12,
) -> DataFrame:
    """Distinct-count estimate from a register table, exact integer
    arithmetic end to end: per group

        S        = sum(2^(49 - register)) + zero_buckets * 2^49
        est_distinct = alpha_m * m^2 / (S / 2^49)
                     = (7213*m * m^2 * 2^49) div ((10000*m + 10790) * S)

    with alpha_m = 0.7213/(1 + 1.079/m) carried as the exact rational
    7213m/(10000m + 10790) and the whole quotient in DECIMAL(38,0)
    (peak numerator ~2^105 at m = 2^16 — inside 38 digits), so two
    engines and any partitioning agree to the last digit. Bias regimes
    are REPORTED, not hidden: zero_buckets > 0 with a small estimate
    means the classic low-range underbias (linear counting's domain —
    its ln() is transcendental, so per the repo no-transcendentals
    doctrine the caller applies it OFFLINE from the (m, zero_buckets)
    columns this emits); standard error ~1.04/sqrt(m) otherwise.

    Output: (group..., n_buckets, zero_buckets, est_distinct). An empty
    group (no register rows) simply has no output row — matching
    COUNT(DISTINCT) over GROUP BY, which emits nothing for absent
    groups."""
    _hll_check(b_bits)
    m = 1 << b_bits
    pow49 = 1 << _HLL_RHO_MAX
    alpha_num = 7213 * m
    alpha_den = 10000 * m + 10790
    # fail loudly on a register table built with a DIFFERENT b_bits: a
    # bucket >= m (or an out-of-range rho) would otherwise drive
    # zero_buckets negative and emit garbage estimates with no error
    guard = F.assert_true(
        (F.col("bucket") >= 0)
        & (F.col("bucket") < m)
        & (F.col("register") >= 1)
        & (F.col("register") <= _HLL_RHO_MAX),
        F.concat_ws(
            " ",
            F.lit(f"hll_estimate: register row outside b_bits={b_bits} grid"),
            F.lit("(bucket"),
            F.col("bucket").cast("string"),
            F.lit(", register"),
            F.col("register").cast("string"),
            F.lit(") — was the table built with a different b_bits?"),
        ),
    )
    registers = registers.where(guard.isNull())
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            # each term <= 2^48; m = 2^16 all-ones would sum to 2^64 —
            # past BIGINT, so the sum runs in DECIMAL(38,0)
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT),"
                    f" {_HLL_RHO_MAX} - CAST(register AS INT))"
                    " AS DECIMAL(38,0))"
                )
            ).alias("_s_nonzero"),
        )
        .withColumn("zero_buckets", (F.lit(m) - F.col("n_buckets")).cast("long"))
        .withColumn(
            "est_distinct",
            F.expr(
                f"CAST(CAST({alpha_num} AS DECIMAL(38,0)) * {m} * {m} * {pow49}"
                f" div (CAST({alpha_den} AS DECIMAL(38,0))"
                f" * (_s_nonzero + CAST(zero_buckets AS DECIMAL(38,0)) * {pow49}))"
                " AS BIGINT)"
            ),
        )
        .select(*group_cols, "n_buckets", "zero_buckets", "est_distinct")
    )


def hll_sliding(registers: DataFrame, idx_col: str, k: int) -> DataFrame:
    """Trailing-k-bucket merged register table, one window per OBSERVED
    bucket index: window w = buckets [w-k+1, w] (partial at the head —
    fewer than k buckets exist, the merge covers what does). This is
    the flagship reason HLL registers beat distinct COUNTS as persisted
    state: sliding-window distincts cannot be summed from per-bucket
    counts (users overlap across days), but register tables max-merge —
    so 'distinct users over the trailing 90 days, daily' is k
    bucket-table merges instead of 90 re-scans of the raw data.

    Scale shape: one explode of each register row into the <= k windows
    it serves (k-bounded fan-out over m-bounded register tables — pure
    metadata arithmetic, the raw data is never touched), a broadcast
    semi-join against the observed window ends (drops phantom windows
    past the last bucket), ONE algebraic (win_end, bucket) max. Feed
    the result straight to hll_estimate(group_cols=['win_end'])."""
    if type(k) is not int or k < 1:
        raise ValueError("hll_sliding: k must be an int >= 1")
    ends = registers.select(F.col(idx_col).alias("win_end")).distinct()
    exploded = registers.select(
        F.explode(
            F.sequence(F.col(idx_col), F.col(idx_col) + (k - 1))
        ).alias("win_end"),
        "bucket",
        "register",
    )
    return (
        exploded.join(F.broadcast(ends), "win_end")
        .groupBy("win_end", "bucket")
        .agg(F.max("register").cast("long").alias("register"))
    )
