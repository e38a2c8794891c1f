"""Streaming ingest dedup gate — each arriving micro-batch is near-dedup'd
WITHIN itself and AGAINST the accumulated LSH index of all previously-kept
documents, before any expensive downstream stage (mention scan, extraction,
embedding) sees it.

This is the streaming form of dedupe.incremental_lsh_matches with the
keeper decision attached: at 100 TB the corpus arrives continuously, and
re-pairing the whole history per batch is impossible — the index table
(doc_id, band, bucket) of KEPT documents is the only state, it grows by
one small subdir per batch, and each batch pays O(|batch|) hashing plus one
(band, bucket) equi-join.

Decision semantics (deterministic, first-batch-wins like the J7 identity
rule and the reference's sequential file loop):
  1. within-batch: LSH pairs -> connected components -> keeper = min id
     (dedupe.dedup_canonical);
  2. each batch KEEPER whose buckets collide with the index re-points its
     whole component to the smallest matching indexed doc;
  3. only final non-dup docs contribute their buckets to the index — a
     dup never becomes someone's keeper, so chains collapse to the
     earliest kept document.

Idempotency (T5): decisions and index contributions are written to
per-batch subdirs (overwrite = redelivery no-op), and a batch reads ONLY
index contributions from strictly earlier batches — re-running batch k
after batch k+1 committed cannot see the future.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedupe as D
from .stateio import batch_dir, read_state

IDX_SCHEMA = "doc_id bigint, band int, bucket string"
DEC_SCHEMA = "doc_id bigint, keeper bigint, is_dup boolean"


def _idx_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lsh_index")


def _dec_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "decisions")


def read_index(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """The accumulated (doc_id, band, bucket) index of kept documents;
    restricted to batches < before_batch so a redelivered batch never sees
    contributions from its own future."""
    df = read_state(spark, IDX_SCHEMA, _idx_dir(out_dir), before_batch=before_batch)
    return None if df is None else df.drop("_batch")


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """Dedup one micro-batch; returns the committed decision table
    (doc_id, keeper, is_dup) where keeper may be a doc from any earlier
    batch. Writes decisions/batch_NNNNNN and the kept docs' bucket rows to
    lsh_index/batch_NNNNNN (both overwrite => idempotent)."""
    buckets = D.lsh_bucket_table(
        batch_df, id_col, text_col, num_hashes, band_size, shingle_n
    ).localCheckpoint(eager=True)  # reused by pairs, prior match, and the index write

    pairs = D.pairs_from_buckets(buckets)
    decisions = D.dedup_canonical(pairs, batch_df.select(F.col(id_col).alias("doc_id")))

    index = read_index(spark, out_dir, before_batch=batch_id)
    if index is not None:
        keeper_buckets = buckets.join(
            decisions.where(~F.col("is_dup")).select("doc_id"), "doc_id"
        )
        prior = (
            keeper_buckets.join(
                index.select(
                    "band", "bucket", F.col("doc_id").alias("index_id")
                ),
                ["band", "bucket"],
            )
            # a doc_id legitimately re-ingested after being kept collides
            # with its OWN index rows; excluding the self-match preserves
            # the is_dup == (keeper != doc_id) invariant (the re-ingest
            # stays kept-as-itself instead of becoming its own dup)
            .where(F.col("index_id") != F.col("doc_id"))
            .groupBy(F.col("doc_id").alias("keeper"))
            .agg(F.min("index_id").alias("prior_keeper"))
        )
        decisions = (
            decisions.join(prior, "keeper", "left")
            .select(
                "doc_id",
                F.coalesce("prior_keeper", "keeper").alias("keeper"),
                (F.col("is_dup") | F.col("prior_keeper").isNotNull()).alias("is_dup"),
            )
        )

    dec_path = batch_dir(_dec_dir(out_dir), batch_id)
    decisions.write.mode("overwrite").parquet(dec_path)
    committed = spark.read.schema(DEC_SCHEMA).parquet(dec_path)
    kept_buckets = buckets.join(committed.where(~F.col("is_dup")).select("doc_id"), "doc_id")
    kept_buckets.select("doc_id", "band", "bucket").write.mode("overwrite").parquet(
        batch_dir(_idx_dir(out_dir), batch_id)
    )
    return committed


def read_decisions(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """All keep/drop decisions the streaming dedup gate has committed so
    far (batch column stripped), or None before the first batch."""
    df = read_state(spark, DEC_SCHEMA, _dec_dir(out_dir))
    return None if df is None else df.drop("_batch")
