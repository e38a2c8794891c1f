"""Single-pass data-quality audit — Deequ-style constraint checks as one
algebraic aggregation.

A KG build should not trust its inputs or publish its outputs unaudited:
orphaned edges, out-of-range measures, null keys and broken invariants
all need counting BEFORE the corpus ships. The naive form runs one
COUNT(*) WHERE NOT rule per rule — R full scans; this operator folds
every rule into ONE aggregate pass (sum of indicator columns, map-side
partials, whole-stage codegen) and emits a long-form metrics table.

NULL semantics are strict, like Deequ's Check: a rule that evaluates to
NULL (unknown) counts as a VIOLATION — an audit that silently passes
NULL rows hides exactly the rows it exists to catch.

Rates are ppm by BIGINT floor division — bit-exact cross-engine.

Reference analog: the reference validates per-row inside its ingest loop
and drops bad rows ad hoc (artifact_ingestor_service.py try/except per
document); here the violations become a first-class, value-checkable
table instead of log lines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PPM = 1_000_000


def constraint_audit(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """(rule, total_rows, violations, violation_ppm) — one row per rule,
    ordered output left to the caller. `rules` maps rule name -> boolean
    Column that is True when the row SATISFIES the rule; False or NULL
    counts as a violation.

    Scale shape: one aggregation over the table computes count(*) plus one
    conditional sum per rule (all algebraic, partials combine map-side);
    the wide one-row result is exploded to long form via a map literal —
    no second scan, no joins, no Python. Audit a 100 TB table at the cost
    of a single column-pruned pass over exactly the columns the rules
    mention."""
    if not rules:
        raise ValueError("rules must be non-empty")
    aggs = [F.count("*").cast("long").alias("_total")]
    for i, cond in enumerate(rules.values()):
        aggs.append(
            F.sum(F.when(cond, F.lit(0)).otherwise(F.lit(1))).cast("long").alias(f"_v{i}")
        )
    wide = df.agg(*aggs)
    pairs = []
    for i, name in enumerate(rules.keys()):
        pairs.extend([F.lit(name), F.col(f"_v{i}")])
    return wide.select(
        F.col("_total"), F.explode(F.create_map(*pairs)).alias("rule", "violations")
    ).select(
        "rule",
        F.col("_total").alias("total_rows"),
        "violations",
        F.when(F.col("_total") > 0, F.expr(f"violations * {_PPM} DIV _total"))
        .otherwise(F.lit(None).cast("long"))
        .alias("violation_ppm"),
    )


def merge_conflicts(
    df: DataFrame, cluster_col: str, attr_col: str
) -> DataFrame:
    """Post-merge QA for entity resolution: per canonical cluster, does
    the merged entity carry CONTRADICTORY values of an attribute?
    Output (cluster, n_members, n_values, has_conflict, val_min, val_max)
    — n_values counts distinct non-NULL attribute values, has_conflict =
    n_values > 1, and val_min/val_max bound the disagreement so a reviewer
    sees WHAT conflicts without a second query.

    The reference upserts node properties last-writer-wins and never
    notices the clobber (global_node_repository.py update path); this
    makes every clobber countable BEFORE it ships, the merge-quality
    sibling of er_metrics.pair_metrics (which grades the clustering
    itself).

    Scale shape: ONE groupBy(cluster) with algebraic aggs (count +
    count_distinct via partial aggregation, min/max) — no joins, no
    windows; hub clusters collapse map-side."""
    return df.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct(attr_col).cast("long").alias("n_values"),
        (F.countDistinct(attr_col) > 1).alias("has_conflict"),
        F.min(attr_col).alias("val_min"),
        F.max(attr_col).alias("val_max"),
    )


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass column profile — per column: non-null count, null count,
    null ppm, exact distinct count, and min/max rendered as strings so
    every column type fits one long-form schema. The "what is in this
    table" report a curator runs before trusting a new 100 TB drop, and
    the input half of constraint_audit (profile first, then write rules
    against what the profile shows). The reference has no profiling at
    all — bad columns surface as per-row try/except log lines
    (artifact_ingestor_service.py).

    Scale shape: ONE aggregation over exactly the profiled columns
    (column-pruned scan). count/min/max are algebraic; the exact
    count(DISTINCT c) per column makes Spark plan an Expand (one
    duplicated stream per distinct aggregate) — the honest cost of exact
    cardinality, O(|columns|) passes worth of shuffle in one stage.
    Callers profiling hundreds of columns should batch calls or accept
    approx_count_distinct; exactness is the default here because the
    profile doubles as a cross-engine correctness gate. Min/max rendering
    is CAST(... AS STRING): exact for integer/string/date columns; for
    float columns prefer profiling a quantized copy (engine float-to-
    string rendering differs).
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("_total")]
    for i, c in enumerate(columns):
        aggs.extend(
            [
                F.count(c).cast("long").alias(f"_nn{i}"),
                F.countDistinct(c).cast("long").alias(f"_nd{i}"),
                F.min(c).cast("string").alias(f"_mn{i}"),
                F.max(c).cast("string").alias(f"_mx{i}"),
            ]
        )
    wide = df.agg(*aggs)
    pairs = []
    for i, c in enumerate(columns):
        pairs.extend(
            [
                F.lit(c),
                F.struct(
                    F.col(f"_nn{i}").alias("nn"),
                    F.col(f"_nd{i}").alias("nd"),
                    F.col(f"_mn{i}").alias("mn"),
                    F.col(f"_mx{i}").alias("mx"),
                ),
            ]
        )
    return wide.select(
        "_total", F.explode(F.create_map(*pairs)).alias("column", "_m")
    ).select(
        "column",
        F.col("_total").alias("total_rows"),
        F.col("_m.nn").alias("non_null"),
        (F.col("_total") - F.col("_m.nn")).alias("nulls"),
        F.when(
            F.col("_total") > 0,
            F.expr(f"(_total - _m.nn) * {_PPM} DIV _total"),
        )
        .otherwise(F.lit(None))
        .cast("long")
        .alias("null_ppm"),
        F.col("_m.nd").alias("n_distinct"),
        F.col("_m.mn").alias("min_str"),
        F.col("_m.mx").alias("max_str"),
    )


def _type1_median(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact type-1 median per group (value at rank ceil(n/2)) via the
    distinct-value-collapse pattern of text_quality.group_percentiles:
    the sort runs over DISTINCT (group, value) pairs, never raw rows."""
    from pyspark.sql import Window

    counts = df.groupBy(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("_g").orderBy("_v")
    return (
        counts.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_n", F.sum("_c").over(Window.partitionBy("_g")))
        .withColumn("_t", F.expr("(_n + 1) div 2"))
        .where(
            (F.col("_cum") >= F.col("_t"))
            & (F.col("_cum") - F.col("_c") < F.col("_t"))
        )
        .select(F.col("_g").alias(group_col), F.col("_v").alias("_median"))
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    k_ppm: int = 3_500_000,
) -> DataFrame:
    """Robust per-group outlier detection on an INTEGER value column:
    flag rows whose absolute deviation from the group median exceeds
    k x MAD (median absolute deviation), k in ppm (default 3.5 — the
    classic Iglewicz-Hoaglin cut, here applied to raw MAD without the
    1.4826 normal-consistency factor, so choose k against MAD units).
    Median/MAD resist exactly the contamination that breaks mean/stddev
    fences: one 10^9 sentinel value drags a z-score fence past every
    real outlier but moves the median not at all. The quality gate for
    per-source anomaly triage (a crawler that suddenly emits 100x-size
    documents) that the reference's per-row try/except cannot express.

    Both medians are exact type-1 (pure integer ranks — engines agree
    bit-for-bit; see group_percentiles' doctrine), computed over
    DISTINCT-value-collapsed tables, and the per-group (median, mad)
    tables are BROADCAST back onto the rows: two collapsed sorts + two
    broadcast joins, the raw data is scanned, never shuffled. The flag
    predicate and robust_ppm score are pure BIGINT arithmetic
    (adev * 10^6 vs k_ppm * mad). mad = 0 (>= half the group identical)
    flags ANY nonzero deviation and reports robust_ppm = NULL rather
    than a division blowup."""
    if not isinstance(k_ppm, int) or isinstance(k_ppm, bool) or k_ppm <= 0:
        raise ValueError("k_ppm must be a positive int")
    v = df.select(
        F.col(group_col).alias("_grp"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("long").alias("_val"),
    ).where(
        F.col("_grp").isNotNull()
        & F.col("_id").isNotNull()
        & F.col("_val").isNotNull()
    )
    med = _type1_median(v, "_grp", "_val")
    dev = v.join(F.broadcast(med), "_grp").withColumn(
        "_adev", F.abs(F.col("_val") - F.col("_median"))
    )
    mad = _type1_median(dev, "_grp", "_adev").withColumnRenamed(
        "_median", "_mad"
    )
    return (
        dev.join(F.broadcast(mad), "_grp")
        .where(F.col("_adev") * _PPM > F.lit(k_ppm) * F.col("_mad"))
        .select(
            F.col("_grp").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_val").alias("value"),
            F.col("_median").alias("med"),
            F.col("_adev").alias("abs_dev"),
            F.col("_mad").alias("mad"),
            F.when(
                F.col("_mad") > 0,
                F.expr(f"_adev * {_PPM} DIV _mad"),
            )
            .otherwise(F.lit(None))
            .cast("long")
            .alias("robust_ppm"),
        )
    )


def source_scorecard(
    df: DataFrame,
    group_col: str,
    text_col: str,
    short_tokens: int = 50,
) -> DataFrame:
    """Per-source corpus health dashboard — the table a 100 TB ingest
    pipeline publishes after every batch so a rotting source (collapsing
    doc counts, exploding duplicate rate, shrinking documents) is caught
    at the SOURCE granularity where the fix lives (drop the feed,
    re-negotiate the crawl), not as corpus-wide drift.

    Per group: n_docs, total_tokens, mean_tokens_ppm (fixed-point mean
    doc length), exact_dup_ppm (1 - distinct text-hash / docs — the
    boilerplate signal), short_docs + short_ppm (docs under
    short_tokens whitespace tokens — the truncated-fetch signal). All
    ratios on the BIGINT ppm grid; the only non-algebraic piece is the
    exact distinct text-hash count, the same honestly-priced Expand as
    profile_columns.

    Degenerate-text semantics, pinned because the rotten docs are what
    this table exists to surface: NULL or whitespace-only text counts
    ZERO tokens (a bare split('') would report 1), and NULL texts hash
    to one explicit sentinel group — two NULL-text docs ARE duplicates
    of the same nothing, and md5(NULL)=NULL would otherwise silently
    drop them from the distinct count and overstate dup rates for
    sources with a single NULL doc.

    Scale shape: ONE grouped aggregation over a narrow projection
    (token counts are a codegen'd split+size, no explode); hub sources
    partial-aggregate map-side on every column except the distinct.
    """
    blank = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    toks = F.when(blank, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    ).cast("long")
    base = df.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("source"),
        toks.alias("_nt"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("<NULL>")).alias("_h"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.countDistinct("_h").alias("_nd"),
            F.sum(F.when(F.col("_nt") < short_tokens, 1).otherwise(0)).alias(
                "short_docs"
            ),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(f"total_tokens * {_PPM} DIV n_docs").alias("mean_tokens_ppm"),
            F.expr(f"(n_docs - _nd) * {_PPM} DIV n_docs").alias("exact_dup_ppm"),
            "short_docs",
            F.expr(f"short_docs * {_PPM} DIV n_docs").alias("short_ppm"),
        )
    )


_FD_NULL = "<NULL>"


def functional_dependencies(
    df: DataFrame, candidates: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency discovery over candidate (determinant ->
    dependent) column pairs — the schema-inference step a curator runs
    before trusting a denormalized 100 TB drop: "is p_partkey -> p_name
    actually a key here, or did the join fan out?". The reference assumes
    its MySQL schema's FDs hold; over ingested files nothing guarantees
    them, so they must be measured.

    Output, one row per candidate: n_keys (distinct determinant values),
    n_viol_keys (determinant values mapping to >1 distinct dependent),
    max_distinct_deps (worst fan-out), fd_holds (n_viol_keys == 0).
    Rows with a NULL determinant are excluded (an FD says nothing about
    an absent key); a NULL dependent counts as the explicit sentinel
    value — key->{NULL, 'x'} IS a violation, not an accident of
    count(DISTINCT) null-skipping (the source_scorecard lesson).

    Scale shape: all candidates stack into ONE pass — union of (cand,
    det, dep) string projections, one two-phase distinct aggregation by
    (cand, det), one algebraic rollup by cand. Candidate count multiplies
    the mapped row volume (|candidates| projections of 2 columns each),
    not the number of jobs."""
    if not candidates:
        raise ValueError("candidates must be non-empty")
    stacked = None
    for det, dep in candidates:
        part = df.select(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.col(det).cast("string").alias("_det"),
            F.coalesce(F.col(dep).cast("string"), F.lit(_FD_NULL)).alias(
                "_dep"
            ),
        ).where(F.col("_det").isNotNull())
        stacked = part if stacked is None else stacked.unionAll(part)
    per_key = stacked.groupBy("determinant", "dependent", "_det").agg(
        F.countDistinct("_dep").alias("_nd")
    )
    return per_key.groupBy("determinant", "dependent").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_viol_keys"),
        F.max("_nd").cast("bigint").alias("max_distinct_deps"),
        (F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0)) == 0).alias(
            "fd_holds"
        ),
    )


def distribution_drift(
    a: DataFrame, b: DataFrame, cols: list[str]
) -> DataFrame:
    """Per-column distribution drift between two snapshots — the
    monitoring primitive that catches "yesterday's crawl is 40% one
    host" or "the language mix silently shifted" BEFORE a corpus ships.
    For each column: both snapshots' value histograms (NULL is a
    category — a null-rate shift is drift too), frequencies on the ppm
    grid (p = c * 10^6 div n, exact BIGINT floor), then

        tvd_ppm  = sum over values of |p_a - p_b|  div 2   (total
                   variation distance: the mass that must move to turn
                   one distribution into the other; 0 = identical,
                   10^6 = disjoint)
        linf_ppm = max over values of |p_a - p_b|          (the single
                   worst-moving value)

    PSI's ln() is transcendental, so per the repo doctrine TVD/L-inf —
    already exact integers — are the shipped metrics; both are what a
    threshold alert actually consumes. Output: (field, n_a, n_b,
    n_values, tvd_ppm, linf_ppm), one row per column.

    Intended for CATEGORICAL or pre-bucketed columns (status, language,
    priority, host, stats.histogram bucket ids); a 10^9-cardinality raw
    key column gives a histogram as big as the data — bucket it first.

    Scale shape: ONE stacked-explode histogram pass per snapshot for
    ALL k columns (never k scans), map-side partials absorb hot values;
    one (field, value) null-safe full-outer join over histogram rows
    (bounded by distinct values, not data); one per-field agg. An EMPTY
    snapshot raises executor-side — drift against nothing is an
    upstream failure, not a number."""
    if not cols:
        raise ValueError("distribution_drift: cols must be non-empty")

    def hist(df: DataFrame, cnt: str) -> DataFrame:
        stacked = F.array(
            *[
                F.struct(
                    F.lit(c).alias("field"),
                    F.col(c).cast("string").alias("v"),
                )
                for c in cols
            ]
        )
        return (
            df.select(F.explode(stacked).alias("fv"))
            .select("fv.field", "fv.v")
            .groupBy("field", "v")
            .agg(F.count(F.lit(1)).alias(cnt))
        )

    ha = hist(a, "c_a").withColumnRenamed("field", "f_a").withColumnRenamed("v", "v_a")
    hb = hist(b, "c_b").withColumnRenamed("field", "f_b").withColumnRenamed("v", "v_b")
    joined = ha.join(
        hb,
        (F.col("f_a") == F.col("f_b")) & F.col("v_a").eqNullSafe(F.col("v_b")),
        "full_outer",
    ).select(
        F.coalesce(F.col("f_a"), F.col("f_b")).alias("field"),
        F.coalesce(F.col("c_a"), F.lit(0)).alias("c_a"),
        F.coalesce(F.col("c_b"), F.lit(0)).alias("c_b"),
    )
    raw_totals = joined.groupBy("field").agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    # Drive the output from a LITERAL field spine (one row per requested
    # column, exists even when BOTH snapshots are empty) so the
    # empty-snapshot guard is always reachable: a guard living only on
    # histogram-derived rows silently vanishes exactly when the feed
    # died entirely — the worst drift incident reporting "no drift".
    spine = a.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in cols])).alias("field")
    )
    checked = (
        spine.join(raw_totals, "field", "left")
        .select(
            "field",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            F.coalesce("n_values", F.lit(0)).cast("long").alias("n_values"),
        )
        .withColumn(
            "n_a",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("n_a")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("distribution_drift: empty snapshot for field "),
                        F.col("field"),
                    )
                )
            ),
        )
    )
    # per-value ppm delta, then ONE algebraic per-field agg; the totals
    # table is #columns rows — broadcast back onto histogram rows
    delta = F.abs(
        F.expr("CAST(c_a AS BIGINT) * 1000000 div n_a")
        - F.expr("CAST(c_b AS BIGINT) * 1000000 div n_b")
    )
    deltas = (
        joined.join(F.broadcast(raw_totals), "field")
        .withColumn("_d", delta)
        .groupBy("field")
        .agg(
            F.expr("sum(_d) div 2").alias("tvd_ppm"),
            F.max("_d").alias("linf_ppm"),
        )
    )
    # checked (the guarded spine) is the OUTER side: its raise_error
    # must evaluate even if the delta side is runtime-empty
    return checked.join(deltas, "field", "left").select(
        "field", "n_a", "n_b", "n_values", "tvd_ppm", "linf_ppm"
    )


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns — the
    privacy gate a training corpus with user-derived metadata passes
    BEFORE release (Sweeney 2002): a record is re-identifiable when its
    quasi-identifier combination is shared by fewer than k records.
    One summary row:

        (n_rows, n_groups, min_group_size, violating_groups,
         rows_at_risk, risk_ppm, k_holds)

    rows_at_risk = rows living in groups smaller than k; risk_ppm =
    their ppm share (exact BIGINT floor); k_holds = no group smaller
    than k. NULL quasi-identifier values form groups like any other
    value — a NULL zip code is still a fingerprint.

    Scale shape: ONE algebraic groupBy count over the quasi columns
    (map-side partials absorb hot combos) + one summary agg over group
    rows — data rows are touched once."""
    if not quasi_cols:
        raise ValueError("k_anonymity_report: quasi_cols must be non-empty")
    if type(k) is not int or k < 2:
        raise ValueError("k_anonymity_report: k must be an int >= 2")
    groups = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("_c"))
    return groups.agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("_c").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("_c") < k, 1).otherwise(0))
        .cast("long")
        .alias("violating_groups"),
        F.sum(F.when(F.col("_c") < k, F.col("_c")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    ).select(
        "n_rows",
        "n_groups",
        "min_group_size",
        "violating_groups",
        "rows_at_risk",
        F.expr("CAST(rows_at_risk * 1000000 div n_rows AS BIGINT)").alias(
            "risk_ppm"
        ),
        (F.col("min_group_size") >= k).alias("k_holds"),
    )


# --------------------------------------------------------------- Benford --
#
# First-significant-digit law audit. Naturally-grown multiplicative
# quantities (transaction amounts, populations, file sizes) follow
# Benford's law: P(first digit = d) = log10(1 + 1/d). Fabricated,
# truncated, or unit-capped numbers don't — which makes the first-digit
# histogram a classic forensic screen for synthetic or corrupted feeds
# entering a corpus (Nigrini's forensic-accounting test, applied here to
# ingest monitoring). The log10 constants are transcendental, so per the
# repo no-transcendentals doctrine they are OFFLINE literals on the ppm
# grid (they telescope to exactly 10^6, so the expected distribution is
# itself an exact ppm histogram); everything engine-side is BIGINT.

_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """First-significant-digit histogram vs Benford expectation, one row
    per (column, digit 1..9) — ALL nine digits always present (a digit
    with zero observations is signal, not a missing row):

        (field, n_total, n_counted, digit, n_obs, obs_ppm, exp_ppm,
         abs_delta_ppm)

    The first significant digit is extracted lexically: render the value
    as a string, strip every character that is not 1-9, take the first
    survivor. That is rendering-format-proof — "1234.56", "0.0042" and
    "4.2E-5" all yield their true leading significant digit whether the
    engine prints decimals, integers, or scientific notation — so any
    ANSI engine replays it verbatim. NULLs and exact zeros have no
    significant digit: excluded from the histogram (standard Benford
    treatment) but visible as n_total - n_counted. A field with ZERO
    counted values raises executor-side — auditing an all-null/zero
    column is an upstream failure, not a flat histogram.

    Consumers: alert on sum(abs_delta_ppm) div 2 (TVD vs Benford) or
    max(abs_delta_ppm) per field — both exact integers, one trivial agg
    over the 9k output rows.

    Scale shape: ONE stacked-explode pass over all k columns (never k
    scans), one algebraic (field, digit) count whose map-side partials
    absorb any value skew, a k-row totals table broadcast onto a 9k-row
    literal digit spine. Data rows are touched exactly once."""
    if not cols:
        raise ValueError("benford_audit: cols must be non-empty")
    stacked = F.array(
        *[
            F.struct(
                F.lit(c).alias("field"),
                F.substring(
                    F.regexp_replace(F.col(c).cast("string"), "[^1-9]", ""),
                    1,
                    1,
                ).alias("d"),
            )
            for c in cols
        ]
    )
    cells = df.select(F.explode(stacked).alias("fd")).select(
        "fd.field", "fd.d"
    )
    counts = (
        cells.where(F.col("d") != "")
        .groupBy("field", "d")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .withColumn("digit", F.col("d").cast("long"))
        .drop("d")
    )
    totals = cells.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("d") != "", 1).otherwise(0))
        .cast("long")
        .alias("n_counted"),
    )
    checked = totals.withColumn(
        "n_counted",
        F.when(F.col("n_counted") > 0, F.col("n_counted")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("benford_audit: no nonzero values for field "),
                    F.col("field"),
                )
            )
        ),
    )
    spine = checked.select(
        "field",
        "n_total",
        "n_counted",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("digit"),
                        F.lit(p).cast("long").alias("exp_ppm"),
                    )
                    for d, p in sorted(_BENFORD_PPM.items())
                ]
            )
        ).alias("de"),
    ).select("field", "n_total", "n_counted", "de.digit", "de.exp_ppm")
    return (
        spine.join(counts, ["field", "digit"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)).cast("long"))
        .withColumn(
            "obs_ppm",
            F.expr(f"CAST(n_obs * {_PPM} div n_counted AS BIGINT)"),
        )
        .select(
            "field",
            "n_total",
            "n_counted",
            "digit",
            "n_obs",
            "obs_ppm",
            "exp_ppm",
            F.abs(F.col("obs_ppm") - F.col("exp_ppm")).alias(
                "abs_delta_ppm"
            ),
        )
    )


def watermark_audit(
    events: DataFrame,
    ts_col: str,
    arrival_cols: list[str],
    group_col: str,
    delays_seconds: list[int],
    num_ranges: int = 32,
) -> DataFrame:
    """Watermark policy tuning table: for each candidate allowed-lateness
    W, how many events WOULD a Structured-Streaming watermark of W
    seconds drop — replayed over the historical stream before anyone
    commits to a delay. An event is dropped under W iff its event time
    is more than W behind the maximum event time among all STRICTLY
    EARLIER arrivals (the standard watermark = max-event-time - delay;
    first arrival is never late). The streaming pipeline
    (streaming/windows.py) enforces a watermark at run time; this is
    the batch instrument that says what the right W is, per group:
    (group, delay_s, n_events, n_late, late_ppm).

    Arrival order is the caller's `arrival_cols` lexicographic total
    order (pass a tiebreaking id last — a partial order would make the
    prefix max partition-dependent). NULL timestamps or arrival keys
    raise executor-side (an unplaceable event invalidates the audit).

    Scale shape: the global running max over arrival order — normally a
    partitionless window, the banned scale-killer — is assembled like
    sorted_neighborhood's global rank: range-repartition by arrival,
    per-partition running max from a PARTITIONED window, plus the
    bounded #partitions-row collect of per-partition maxima whose
    python-side prefix folds into a literal map. One range exchange,
    one partitioned window; the delay fan-out is a literal explode of
    len(delays) ints and the rollup is algebraic."""
    if not delays_seconds:
        raise ValueError("delays_seconds must be non-empty")
    if any(type(d) is not int or d < 0 for d in delays_seconds):
        raise ValueError("delays_seconds must be non-negative ints")
    if not arrival_cols:
        raise ValueError("arrival_cols must be non-empty")
    # TIMESTAMP_NTZ has no unix_micros; route through TIMESTAMP (session
    # is pinned UTC, so the reinterpretation is identity — the range_join
    # convention)
    checked_tus = F.when(
        F.col(ts_col).isNotNull(),
        F.unix_micros(F.col(ts_col).cast("timestamp")),
    ).otherwise(
        F.raise_error(F.lit("watermark_audit: NULL event time")).cast("long")
    )
    arr_checks = [
        F.when(
            F.col(c).isNotNull(), F.lit(True)
        ).otherwise(F.raise_error(F.lit(f"watermark_audit: NULL arrival key {c}")))
        for c in arrival_cols
    ]
    base = events.select(
        F.col(group_col).alias("_g"),
        checked_tus.alias("_tus"),
        *[F.col(c).alias(f"_a{i}") for i, c in enumerate(arrival_cols)],
        *[chk.alias(f"_chk{i}") for i, chk in enumerate(arr_checks)],
    ).drop(*[f"_chk{i}" for i in range(len(arr_checks))])
    acols = [F.col(f"_a{i}") for i in range(len(arrival_cols))]
    keyed = (
        base.repartitionByRange(int(num_ranges), *acols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: probe + window
    )
    from pyspark.sql import Window as W

    pmax = {
        r._pid: r.m
        for r in keyed.groupBy("_pid").agg(F.max("_tus").alias("m")).collect()
    }
    prefix, acc = {}, None
    for pid in sorted(pmax):
        prefix[pid] = acc
        acc = pmax[pid] if acc is None else max(acc, pmax[pid])
    entries = [(pid, v) for pid, v in sorted(prefix.items()) if v is not None]
    if entries:
        pref_map = F.create_map(*[F.lit(x) for kv in entries for x in kv])
    else:
        pref_map = F.create_map(F.lit(-1), F.lit(0))
    win = (
        W.partitionBy("_pid")
        .orderBy(*acols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev = F.greatest(
        F.coalesce(F.max("_tus").over(win), F.lit(None).cast("long")),
        pref_map[F.col("_pid")],
    )
    # greatest() ignores NULLs; both NULL (true first event) -> no prev
    flagged = keyed.withColumn("_prev", prev).select("_g", "_tus", "_prev")
    d = flagged.withColumn(
        "delay_s",
        F.explode(F.array(*[F.lit(int(x)) for x in sorted(set(delays_seconds))])),
    )
    late = F.col("_prev").isNotNull() & (
        F.col("_tus") < F.col("_prev") - F.col("delay_s").cast("long") * 1_000_000
    )
    return (
        d.groupBy(F.col("_g").alias(group_col), F.col("delay_s").cast("long").alias("delay_s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        )
        .withColumn("late_ppm", F.expr("n_late * 1000000 div n_events"))
    )
