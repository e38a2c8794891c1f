"""Physical data-layout operators: the Z-order (Morton) clustering key,
table-maintenance planners and the zone maps that measure pruning.

At 100 TB the scan you DON'T do is the fastest operator in the engine.
Partition pruning (plans/tableio.py) handles one
coarse dimension; Z-order handles the next two finer ones: interleave
the bits of two bucketized sort keys and range-partition files by the
interleaved value, and every file's (min, max) footer covers a roughly
SQUARE region of the (x, y) plane instead of a full-width slab — so
point/range predicates on EITHER column skip most files, which is
exactly what Delta OPTIMIZE ZORDER BY / Iceberg sort orders buy on a
real lakehouse. Everything here is exact integer arithmetic (bucket =
(v - min) * 2^bits div (range + 1); interleave = shifts and masks), so
the key is reproducible on any engine and stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _interleave_expr(bits: int) -> str:
    """x bits land in odd positions (high), y bits in even — one codegen'd
    shift/mask chain, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(f"(((_zx >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((_zy >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def zorder_values(
    df: DataFrame, x_col: str, y_col: str, bits: int = 16
) -> DataFrame:
    """Append `zx`, `zy` (bucketized coordinates in [0, 2^bits)) and
    `zvalue` (their bit interleave) for two INTEGER columns. Buckets are
    value-range quantized — (v - min) * 2^bits div (max - min + 1) — off
    the two min/max scalars (one pruned-scan agg, collected and embedded
    as literals: never a crossJoin(broadcast(1-row)), which plans as
    BNLJ). NULL coordinates are rejected loudly (a NULL has no position
    on the curve — filter or impute upstream); ranges wide enough to
    overflow the product raise with the fix (lower `bits`) instead of
    wrapping. Narrow codegen'd projection, zero shuffle — the shuffle
    belongs to the writer's range partition on zvalue.
    """
    if not (1 <= bits <= 20):
        raise ValueError("bits must be in [1, 20]")
    row = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col),
        F.sum(F.when(F.col(x_col).isNull() | F.col(y_col).isNull(), 1).otherwise(0)),
    ).collect()[0]
    lo_x, hi_x, lo_y, hi_y, nulls = row
    if nulls or lo_x is None or lo_y is None:
        raise ValueError(
            f"zorder_values: NULLs in ({x_col}, {y_col}) — a NULL has no "
            "curve position; filter or impute upstream"
        )
    scale = 1 << bits
    for lo, hi, name in ((lo_x, hi_x, x_col), (lo_y, hi_y, y_col)):
        if (int(hi) - int(lo)) * scale >= (1 << 63):
            raise ValueError(
                f"zorder_values: range of {name} too wide for bits={bits}; "
                "lower bits or pre-bucket the column"
            )
    # cast to BIGINT BEFORE multiplying: an IntegerType column would
    # otherwise evaluate (v - lo) * 2^bits in 32-bit arithmetic and wrap
    # silently long before the Python-side 2^63 range guard fires
    zx = (
        f"CAST((CAST({x_col} AS BIGINT) - {int(lo_x)}) * {scale}"
        f" DIV {int(hi_x) - int(lo_x) + 1} AS BIGINT)"
    )
    zy = (
        f"CAST((CAST({y_col} AS BIGINT) - {int(lo_y)}) * {scale}"
        f" DIV {int(hi_y) - int(lo_y) + 1} AS BIGINT)"
    )
    return (
        df.withColumn("_zx", F.expr(zx))
        .withColumn("_zy", F.expr(zy))
        .withColumn("zvalue", F.expr(_interleave_expr(bits)))
        .withColumnRenamed("_zx", "zx")
        .withColumnRenamed("_zy", "zy")
    )


def compaction_plan(
    files: DataFrame,
    file_col: str,
    bytes_col: str,
    target_bytes: int,
    partition_col: str | None = None,
) -> DataFrame:
    """Small-file compaction assignment — the planning half of Iceberg/
    Delta `rewrite_data_files` / `OPTIMIZE`: given the file listing of a
    table (or one snapshot's manifests), assign every file to an output
    group of ~target_bytes so a rewrite job can merge each group into
    one right-sized file:

        ([partition,] file, bytes, grp, grp_bytes, grp_files)

    The small-files problem is the tax every streaming/per-batch
    committer pays (thousands of batch_* dirs -> thousands of tiny
    parquet footers; at 100 TB the NameNode/manifest pressure and
    per-file open cost dominate the scan): the fix is a periodic
    compaction, and the fix's FIRST step is this deterministic plan.

    Packing is contiguous first-fit in file-name order: cumulative bytes
    within the partition, grp = (cum - bytes) div target — a file whose
    cumsum crosses the boundary starts in the group it began in, so
    groups slightly overshoot target_bytes rather than splitting a file
    (files are atomic units). Name-ordered packing is deliberate over
    best-fit bin packing: it is deterministic, one-pass, preserves any
    existing name-correlated sort locality (zorder/date-named files stay
    clustered), and at worst wastes one file per group boundary —
    bounded, and irrelevant next to the per-file fixed costs being
    eliminated. A file >= target_bytes is never split: it overshoots
    its group (alone in it when it lands on a group boundary) and the
    next file's start offset skips the groups its span covered — so
    already-compact files cost at most sharing one group with the
    small-file tail that preceded them.

    Scale shape: ONE exchange on the partition key; the cumsum, group
    id, and per-group totals all run in windows over that same exchange
    (partition-local — never a global window: with partition_col=None a
    single-partition cumsum is the honest cost of planning one
    unpartitioned table and is flagged in the caller's plan audit).
    Byte sums run in BIGINT (an exabyte is 10^18 — inside range; ANSI
    overflow is loud, never a wrap). Negative/NULL sizes raise
    executor-side: a listing glitch must not silently skew packing."""
    if target_bytes <= 0:
        raise ValueError("compaction_plan: target_bytes must be > 0")
    from pyspark.sql import Window

    part = [partition_col] if partition_col else []
    # guard the CALLER'S column (pre-alias): hardcoding "bytes" here would
    # break any other bytes_col name and, worse, silently validate an
    # unrelated input column that happens to be named "bytes"
    ok = F.col(bytes_col).isNotNull() & (F.col(bytes_col) >= 0)
    d = files.select(
        *part,
        F.col(file_col).alias("file"),
        F.when(
            F.assert_true(
                ok, F.lit("compaction_plan: bytes must be non-NULL and >= 0")
            ).isNull(),
            F.col(bytes_col),
        ).cast("long").alias("bytes"),
    )
    w = (
        Window.partitionBy(*part)
        .orderBy("file")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = d.withColumn("_cum", F.sum("bytes").over(w)).withColumn(
        "grp", F.expr(f"(_cum - bytes) DIV {int(target_bytes)}")
    )
    wg = Window.partitionBy(*part, "grp")
    return planned.select(
        *part,
        "file",
        "bytes",
        "grp",
        F.sum("bytes").over(wg).cast("long").alias("grp_bytes"),
        F.count(F.lit(1)).over(wg).cast("long").alias("grp_files"),
    )


def table_gc_plan(
    listing: DataFrame,
    manifest: DataFrame,
    file_col: str = "file",
) -> DataFrame:
    """Filesystem-vs-manifest reconciliation — the audit half of Iceberg
    `remove_orphan_files` and the corruption alarm no committer should
    run without:

        (file, status)   status in {'orphan', 'missing'}

    orphan  = on disk but referenced by no manifest entry (the debris of
              killed writers and dead snapshots — delete CANDIDATES, to
              be age-filtered by the caller before any delete: a file
              written by an in-flight commit is also unreferenced until
              its manifest lands, which is exactly why this operator
              only REPORTS);
    missing = referenced by the manifest but absent from the listing —
              never a cleanup item: it means readers are about to throw
              FileNotFound, the one state that must page a human.
    Files in both inputs are healthy and not emitted.

    Scale shape: two hash anti-joins on the file path (each side
    deduplicated first — a manifest may legally reference a file from
    multiple snapshots), unioned. File listings are ~10^6-10^8 rows at
    100 TB — small relative to data, and the anti-joins shuffle only
    paths. NULL paths raise executor-side (a NULL in either feed is a
    broken lister/manifest reader, not a reconcilable file)."""
    def side(df: DataFrame, status: str) -> DataFrame:
        ok = F.col(file_col).isNotNull()
        return df.select(
            F.when(
                F.assert_true(
                    ok, F.lit(f"table_gc_plan: NULL path in {status} input")
                ).isNull(),
                F.col(file_col),
            ).alias("file")
        ).distinct()

    disk = side(listing, "listing")
    ref = side(manifest, "manifest")
    orphans = disk.join(ref, "file", "left_anti").select(
        "file", F.lit("orphan").alias("status")
    )
    missing = ref.join(disk, "file", "left_anti").select(
        "file", F.lit("missing").alias("status")
    )
    return orphans.unionByName(missing)


# -------------------------------------------------------------- zone maps --


def zone_map(df: DataFrame, file_col: str, value_col: str) -> DataFrame:
    """Per-file zone map over one column: (file_id, n_rows, n_nulls,
    vmin, vmax) — exactly what a parquet footer / Iceberg manifest entry
    stores, materialized as a TABLE so pruning can be *estimated and
    audited* without touching the data again. min/max ignore NULLs (parquet stats
    semantics): an all-null file reports vmin = vmax = NULL with its
    null count. ONE algebraic file-grouped agg — data touched once; the
    output is file-count-sized, i.e. metadata-sized."""
    return df.groupBy(F.col(file_col).alias("file_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def zone_map_prune(zm: DataFrame, lo: int, hi: int) -> DataFrame:
    """Which files does the range predicate `value BETWEEN lo AND hi`
    have to scan? The min/max footer test every lakehouse planner runs,
    as an auditable operator: kept = [vmin, vmax] intersects [lo, hi]
    (NOT (vmax < lo OR vmin > hi)); an all-null file (vmin IS NULL) is
    skipped because a range predicate never matches NULL. Output: the
    zone map plus `kept` and `rows_scan_upper` (n_rows - n_nulls for
    kept files, 0 otherwise — an UPPER bound, since the footer cannot
    see which NON-null rows inside a kept file match, but the NULL rows
    it CAN see provably never match a range predicate, so they never
    inflate the bound; boundary files carry the remaining gap between
    bound and truth).

    This is the measurement half of the layout family: a re-layout
    (partitioning, Z-order) claims better pruning — sum(rows_scan_upper) over
    this table, before vs after re-layout, is the number that proves it
    (the same arithmetic Delta/Iceberg `files_scanned` metrics report).
    Pure metadata arithmetic over file-count-sized input: zero data
    rows touched, zero shuffles beyond the zone map's own agg."""
    for name, v in (("lo", lo), ("hi", hi)):
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError(f"zone_map_prune: {name} must be an int")
    if lo > hi:
        raise ValueError("zone_map_prune: lo must be <= hi")
    kept = (
        F.col("vmin").isNotNull()
        & ~((F.col("vmax") < lo) | (F.col("vmin") > hi))
    )
    return zm.select(
        "file_id",
        "n_rows",
        "n_nulls",
        "vmin",
        "vmax",
        kept.alias("kept"),
        F.when(kept, F.col("n_rows") - F.col("n_nulls"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rows_scan_upper"),
    )


def snapshot_retention_plan(
    snapshots: DataFrame,
    id_col: str,
    ts_col: str,
    as_of: str,
    keep_all_days: int,
    keep_daily_days: int,
) -> DataFrame:
    """Snapshot-retention planning — the deterministic planning half of
    Iceberg/Delta `expire_snapshots`, completing the table-maintenance
    family (compaction_plan groups small files, table_gc_plan reconciles
    files vs manifests, THIS decides which snapshots the manifests of
    which may be dropped at all): grandfather-father-son thinning
    against a caller-supplied `as_of` date (never wall-clock — a
    retention plan must be replayable):

        age <= keep_all_days           -> keep  ('recent')
        keep_all < age <= keep_daily   -> keep the LAST snapshot of each
                                          calendar day ('daily-rep');
                                          the rest expire ('superseded')
        age > keep_daily_days          -> expire ('aged-out')
        the newest snapshot overall    -> always keep ('current') — a
                                          table must never lose its head,
                                          whatever the policy says

    Output: (snapshot_id, ts, age_days, action in {keep, expire},
    reason). Ties inside a day break by snapshot id DESC (latest id is
    the day's representative — a total order, engine-invariant). NULL
    ids/timestamps raise executor-side: a snapshot you cannot identify
    or date is a corrupted metadata table, not a retention decision.
    Snapshots dated AFTER as_of raise too (a replayable plan cannot
    contain the future).

    Scale shape: one day-partitioned row_number window (bounded by
    snapshots-per-day) + one collected max-id scalar (pagerank scalar
    doctrine) + pure column arithmetic; the snapshot table is metadata-
    sized, but nothing here would break if it weren't."""
    from pyspark.sql import Window

    if keep_all_days < 0 or keep_daily_days < keep_all_days:
        raise ValueError(
            "need 0 <= keep_all_days <= keep_daily_days"
        )
    chk = lambda c: F.when(F.col(c).isNotNull(), F.col(c)).otherwise(  # noqa: E731
        F.raise_error(F.lit(f"snapshot_retention_plan: NULL {c}"))
    )
    base = snapshots.select(
        chk(id_col).alias("snapshot_id"), chk(ts_col).cast("date").alias("ts")
    ).withColumn(
        "age_days",
        F.datediff(F.lit(as_of).cast("date"), F.col("ts")).cast("long"),
    ).withColumn(
        "age_days",
        F.when(F.col("age_days") >= 0, F.col("age_days")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("snapshot_retention_plan: snapshot after as_of: "),
                    F.col("snapshot_id").cast("string"),
                )
            )
        ),
    )
    head = base.agg(
        F.max(F.struct(F.col("ts"), F.col("snapshot_id"))).alias("h")
    ).collect()[0].h
    w = Window.partitionBy("ts").orderBy(F.col("snapshot_id").desc())
    ranked = base.withColumn("_day_rank", F.row_number().over(w))
    is_head = (F.col("ts") == F.lit(head.ts)) & (
        F.col("snapshot_id") == F.lit(head.snapshot_id)
    )
    reason = (
        F.when(is_head, F.lit("current"))
        .when(F.col("age_days") <= keep_all_days, F.lit("recent"))
        .when(
            (F.col("age_days") <= keep_daily_days) & (F.col("_day_rank") == 1),
            F.lit("daily-rep"),
        )
        .when(F.col("age_days") <= keep_daily_days, F.lit("superseded"))
        .otherwise(F.lit("aged-out"))
    )
    return ranked.select(
        "snapshot_id",
        "ts",
        "age_days",
        F.when(reason.isin("current", "recent", "daily-rep"), F.lit("keep"))
        .otherwise(F.lit("expire"))
        .alias("action"),
        reason.alias("reason"),
    )
