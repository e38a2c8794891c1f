"""Plan + value gates for the two shuffle-shaping operators:

* sources/bucketed.py — bucketed tables must join with ZERO Exchange on
  either side (the whole point: the hash-partitioning was paid at write
  time), and a groupBy on the bucket key must also skip its Exchange.
* operators/skew.py — salted_join must be row-for-row identical to the
  plain join (inner AND left, incl. unmatched rows), and its physical
  join key must actually include the salt column.
"""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.operators.skew import salted_join
from entity_extractor_spark.sources.bucketed import bucketed_join, write_bucketed


def _no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return old


def test_bucketed_join_has_no_exchange(spark):
    old = _no_broadcast(spark)
    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_t_")
    try:
        left = spark.range(0, 4000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("a")
        )
        right = spark.range(0, 4000, 2).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("b")
        )
        write_bucketed(left, f"tl_{tag}", "k", 8, path=f"{base}/l")
        write_bucketed(right, f"tr_{tag}", "k", 8, path=f"{base}/r")
        j = bucketed_join(spark, f"tl_{tag}", f"tr_{tag}", "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # value equality vs the plain (shuffled) join of the source frames
        got = sorted(tuple(r) for r in j.collect())
        want = sorted(tuple(r) for r in left.join(right, "k").collect())
        assert got == want and len(got) == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS tl_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS tr_{tag}")


def test_bucketed_groupby_has_no_exchange(spark):
    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_g_")
    try:
        df = spark.range(0, 4000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("v")
        )
        write_bucketed(df, f"tg_{tag}", "k", 8, path=f"{base}/g")
        agg = spark.table(f"tg_{tag}").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = {(r["k"], r["s"]) for r in agg.collect()}
        want = {(r["k"], r["s"]) for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS tg_{tag}")


def _skew_frames(spark):
    # one hot key (0) carrying 90% of the rows, plus a long tail
    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1800, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim")
    )
    return big, small


def test_salted_join_equals_plain_inner(spark):
    big, small = _skew_frames(spark)
    got = sorted(tuple(r) for r in salted_join(big, small, "k", salts=8).collect())
    want = sorted(tuple(r) for r in big.join(small, "k").collect())
    assert got == want and len(got) == 2000


def test_salted_join_equals_plain_left_with_unmatched(spark):
    big, small = _skew_frames(spark)
    small_missing = small.where(F.col("k") != 0)  # hot key now unmatched
    got = sorted(
        tuple(r) for r in salted_join(big, small_missing, "k", salts=4, how="left").collect()
    )
    want = sorted(tuple(r) for r in big.join(small_missing, "k", "left").collect())
    assert got == want and len(got) == 2000


def test_salted_join_physical_key_includes_salt(spark):
    big, small = _skew_frames(spark)
    plan = (
        salted_join(big, small, "k", salts=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_skew_salt" in plan


def test_salted_join_rejects_bad_args(spark):
    big, small = _skew_frames(spark)
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", salts=0)
