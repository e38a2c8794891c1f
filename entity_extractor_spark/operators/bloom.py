"""Reusable Bloom-filter semi-join pruning: build a deterministic,
cross-engine-replayable bitmap over a dimension's keys once, then prune
any number of fact scans against it with ZERO shuffles on the fact side.

Spark's own runtime bloom filter (spark.sql.optimizer.runtime.
bloomFilter.enabled) injects this inside a single query; this operator
materializes the filter as a TABLE — buildable tonight, persisted,
broadcast into tomorrow's ingest, shared across jobs and engines. That
is the shape a 100 TB pipeline needs: "drop the 97% of today's crawl
whose entity keys can't possibly join yesterday's KG" must not re-scan
yesterday's KG per query. The reference has no equivalent — its ingest
probes the node table per name (global_node_repository.py), one
round-trip per probe.

Determinism doctrine: positions come from md5 (both engines), packed
63 bits per BIGINT word (bit index <= 62 — the sign bit is never set,
so shifts and bit_or agree on any engine; no unsigned-vs-signed edge).
No false negatives by construction: a key that was built in always
probes true. False positives are quantified, not guessed
(bloom_stats), and the probe emits a flag — policy stays with the
caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WORD = 63  # bits per BIGINT word; keeps the sign bit forever clear


def _validate(m_bits: int, k_hashes: int) -> None:
    if type(m_bits) is not int or not 64 <= m_bits <= 1 << 40:
        # positions draw 48 md5 bits: m past 2^40 would mod-bias the
        # slots (and a 2^40-bit filter is 2 TB — size it down instead)
        raise ValueError("bloom: m_bits must be an int in [64, 2^40]")
    if type(k_hashes) is not int or not 1 <= k_hashes <= 8:
        raise ValueError("bloom: k_hashes must be an int in [1, 8]")


def _pos(key: Column, i: int, m_bits: int) -> Column:
    """Hash position i for a key: 48 md5 bits mod m — exactly replayable
    as CAST(concat('0x', substring(md5(concat(CAST(k AS VARCHAR),
    '|', 'i')), 1, 12)) AS BIGINT) % m on any ANSI engine. F.concat
    (not concat_ws) so a NULL key propagates to a NULL position instead
    of silently hashing the separator."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f"|{i}")))
    return F.pmod(
        F.conv(F.substring(h, 1, 12), 16, 10).cast("long"), F.lit(m_bits)
    )


def bloom_build(
    dim: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Build the filter: (word_idx, bits) — one row per NON-EMPTY
    64-bit word (63 payload bits), so an almost-empty filter is almost
    free to store and broadcast. NULL dim keys are skipped (SQL semi-
    join semantics: NULL joins nothing, so indexing it would only
    manufacture false positives).

    Size m_bits ~ 10-15x the expected distinct keys for a ~1% FP rate
    at k=3; the table is m/63 rows * 16 bytes worst case (130 MB for
    m = 2^29 ~ 50M keys) — broadcastable. Scale shape: a narrow
    k-position explode, then ONE algebraic bit_or aggregation
    (duplicate keys and shared positions collapse map-side)."""
    _validate(m_bits, k_hashes)
    arr = F.array(
        *[_pos(F.col(key_col), i, m_bits) for i in range(1, k_hashes + 1)]
    )
    return (
        dim.where(F.col(key_col).isNotNull())
        .select(F.explode(arr).alias("_pos"))
        .select(
            F.expr(f"_pos div {_WORD}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_WORD} AS INT))"
            ).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_bit)").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int,
    k_hashes: int = 3,
    flag_col: str = "bloom_maybe",
) -> DataFrame:
    """Append `flag_col`: TRUE iff the row's key MIGHT be in the built
    set (never a false negative), FALSE prunes it for certain. NULL
    keys flag FALSE (their positions are NULL, which can never hit —
    matching semi-join semantics).

    Scale shape: the fact side NEVER shuffles — k broadcast hash joins
    on word_idx (the bloom table is small by construction; each join is
    a narrow map over the fact rows) plus codegen'd shift/mask tests.
    m_bits/k_hashes MUST equal the build's; that contract is the
    caller's (persist them next to the filter table)."""
    _validate(m_bits, k_hashes)
    orig = list(df.columns)
    if flag_col in orig:
        raise ValueError(f"bloom_probe: column {flag_col!r} already exists")
    out = df
    flag = F.col(key_col).isNotNull()
    for i in range(1, k_hashes + 1):
        out = out.withColumn(f"_bp{i}", _pos(F.col(key_col), i, m_bits))
        side = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"_bw{i}"),
                F.col("bits").alias(f"_bb{i}"),
            )
        )
        out = out.join(
            side, F.expr(f"_bp{i} div {_WORD}") == F.col(f"_bw{i}"), "left"
        )
        flag = flag & F.expr(
            f"coalesce(shiftright(_bb{i}, CAST(_bp{i} % {_WORD} AS INT))"
            " & 1, 0) = 1"
        )
    return out.select(*orig, flag.alias(flag_col))


def bloom_stats(
    bloom: DataFrame, m_bits: int, k_hashes: int = 3
) -> DataFrame:
    """Health report for a built filter, exact integers only:

        (n_words, bits_set, saturation_ppm, est_fp_ppm)

    saturation_ppm = bits_set * 10^6 div m_bits (fraction of the bitmap
    lit); est_fp_ppm = saturation_ppm^k div 10^(6(k-1)) — the standard
    (bits_set/m)^k false-positive estimate on the ppm grid, computed in
    DECIMAL(38,0). saturation_ppm <= 10^6, so the k-fold product is
    <= 10^(6k): within 38 digits for k <= 6, hence the explicit guard
    HERE (build/probe allow k up to 8). Read it before shipping a
    filter: saturation past ~500000 ppm means m_bits was undersized and
    pruning power is gone. An empty filter reports all zeros."""
    _validate(m_bits, k_hashes)
    if k_hashes > 6:
        raise ValueError("bloom_stats: k_hashes > 6 overflows the ppm grid")
    return (
        bloom.agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.expr(
                "CAST(coalesce(sum(bit_count(bits)), 0) AS BIGINT)"
            ).alias("bits_set"),
        )
        .withColumn(
            "saturation_ppm",
            F.expr(
                f"CAST(CAST(bits_set AS DECIMAL(38,0)) * 1000000"
                f" div {int(m_bits)} AS BIGINT)"
            ),
        )
        .withColumn(
            "est_fp_ppm",
            F.expr(
                "CAST("
                + "CAST(saturation_ppm AS DECIMAL(38,0))"
                + "".join(
                    " * saturation_ppm" for _ in range(k_hashes - 1)
                )
                + f" div {10 ** (6 * (k_hashes - 1))} AS BIGINT)"
            ),
        )
    )
