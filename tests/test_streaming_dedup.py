"""Streaming dedup gate: cross-batch chains collapse to the earliest kept
doc, the kept set is LSH-collision-free, redelivery is a no-op."""

from __future__ import annotations

import pyspark.sql.functions as F

from entity_extractor_spark.operators import dedupe as D
from entity_extractor_spark.streaming.dedup import (
    dedup_batch,
    read_decisions,
    read_index,
)

SF = "/root/testdata/sf0.001"


def _base_docs(spark, lo, hi):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(f"doc_id >= {lo} and doc_id < {hi}")
        .select("doc_id", "text")
    )


def test_streaming_dedup_chains_and_invariants(spark, tmp_path):
    out = str(tmp_path / "dd")
    b0 = _base_docs(spark, 0, 20)
    # batch 1: fresh docs + a clone of doc 3 (id 1003)
    b1 = _base_docs(spark, 20, 40).unionByName(
        _base_docs(spark, 3, 4).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    # batch 2: fresh docs + a clone of the batch-1 CLONE (id 2003 ~ 1003 ~ 3)
    # and a within-batch duplicated pair (2050, 2051 share one text)
    seed = _base_docs(spark, 7, 8)
    b2 = (
        _base_docs(spark, 40, 60)
        .unionByName(_base_docs(spark, 3, 4).select((F.col("doc_id") + 2000).alias("doc_id"), "text"))
        .unionByName(seed.select(F.lit(2050).alias("doc_id"), "text"))
        .unionByName(seed.select(F.lit(2051).alias("doc_id"), "text"))
    )
    for i, b in enumerate((b0, b1, b2)):
        dedup_batch(spark, b, i, out)

    dec = {r["doc_id"]: (r["keeper"], r["is_dup"]) for r in read_decisions(spark, out).collect()}

    # cross-batch chain: both clones point at the ORIGINAL doc 3 (the
    # batch-1 dup never entered the index, so batch 2 matched doc 3 itself)
    assert dec[1003] == (3, True) and dec[2003] == (3, True)
    # the within-batch pair collapsed; its keeper points at doc 7 (same
    # text already kept in batch 0)
    assert dec[2050] == (7, True) and dec[2051] == (7, True)
    # every keeper is itself kept (a dup is never a keeper)
    kept = {d for d, (k, dup) in dec.items() if not dup}
    assert all(k in kept for k, _ in dec.values())
    # kept set is LSH-collision-free: the index joined with itself across
    # different docs yields nothing
    idx = read_index(spark, out)
    col = (
        idx.alias("x")
        .join(idx.alias("y"), ["band", "bucket"])
        .where("x.doc_id < y.doc_id")
        .count()
    )
    assert col == 0


def test_streaming_dedup_redelivery_idempotent(spark, tmp_path):
    out = str(tmp_path / "dd")
    b0 = _base_docs(spark, 0, 20)
    b1 = _base_docs(spark, 20, 40).unionByName(
        _base_docs(spark, 5, 6).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    dedup_batch(spark, b0, 0, out)
    first = sorted(map(tuple, dedup_batch(spark, b1, 1, out).collect()))
    # batch 2 commits, THEN batch 1 is redelivered: decisions must not
    # change (the index read is fenced to batches < 1)
    dedup_batch(spark, _base_docs(spark, 40, 50), 2, out)
    again = sorted(map(tuple, dedup_batch(spark, b1, 1, out).collect()))
    assert again == first


def test_streaming_dedup_reingest_of_kept_doc_stays_kept(spark, tmp_path):
    """A doc_id legitimately re-ingested in a LATER batch after being kept
    collides with its own index rows; the self-match is excluded so it
    stays kept-as-itself and the is_dup == (keeper != doc_id) invariant
    holds for every decision row."""
    out = str(tmp_path / "dd")
    dedup_batch(spark, _base_docs(spark, 0, 20), 0, out)
    # batch 1 re-emits doc 4 verbatim plus fresh docs
    b1 = _base_docs(spark, 20, 30).unionByName(_base_docs(spark, 4, 5))
    dec1 = {r["doc_id"]: (r["keeper"], r["is_dup"]) for r in dedup_batch(spark, b1, 1, out).collect()}
    assert dec1[4] == (4, False)
    for d, (k, dup) in dec1.items():
        assert dup == (k != d)
