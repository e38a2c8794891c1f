"""Bucketed table layout: pre-shuffled storage for exchange-free joins.

The reference re-joins its node/edge tables on the same keys every ingest
(`artifact_ingestor_service.py` re-queries by normalized name / CAS per
document); at 100 TB the equivalent DataFrame joins would pay a full
shuffle of both sides EVERY run. Writing the stable side(s) bucketed by
the join key (`df.write.bucketBy(n, key).sortBy(key)`) materializes the
hash-partitioning once, at write time: every later equi-join or groupBy on
that key reads co-located buckets and plans with ZERO Exchange on the
bucketed side (SortMergeJoin straight over the scan — gated by
tests/test_bucketed.py, which asserts no Exchange node in the joined
plan). This is the parquet-native analog of the Iceberg
`bucket(doc_id)` partition transform SURVEY.md §2.1/S6 names.

Bucket-count discipline at scale: both sides of a co-located join must
use the SAME bucket count (Spark joins b-bucket to b-bucket without
exchange; mismatched counts shuffle the smaller-bucketed side). Pick
buckets so one bucket of the big table is ~shuffle-partition sized
(100 TB / 2 GiB ~ 50k buckets); local tests use small counts — the plan
shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | list[str],
    buckets: int,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist df as a catalog table hash-bucketed (and bucket-sorted) by
    key. Overwrites. The write itself shuffles once on the bucket key —
    the point is that no later reader ever shuffles on it again. Pass
    `path` to land the files outside the session warehouse (external
    table) — the bucketing metadata lives in the catalog either way."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join two same-bucket-count tables on their bucket key. With
    bucketing metadata in the catalog Spark plans SortMergeJoin with no
    Exchange on either side (and no Sort either when the tables are
    bucket-sorted): the join cost is the scan, which is the floor."""
    keys = [key] if isinstance(key, str) else list(key)
    return spark.table(left_table).join(spark.table(right_table), keys, how)
