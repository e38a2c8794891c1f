"""Streaming canonical-entity maintenance — every arriving edge
micro-batch (name<->CAS equivalences, alias links, LSH dup pairs) is
absorbed into the accumulated connected-component labels, so downstream
stages always see the CURRENT canonical id for every entity without any
pass over historical edges.

This is the streaming form of graph.incremental_components, and the CC
sibling of streaming/dedup.py: at 100 TB the merge graph arrives
continuously, and re-running full CC over 10^12 historical edges to
absorb 10^7 new ones re-shuffles the world. Per batch this pays
O(new batch + affected components): the existing labels contract every
old component to a supernode, CC runs on the contracted NEW edges only,
and the state that persists is the label DELTA — rows whose component
actually changed plus brand-new vertices.

State layout (stateio accumulator protocol, portable to any Hadoop URI):
  cc_labels/batch_NNNNNN — per-batch label deltas (vertex, component);
  the CURRENT label of a vertex is its newest delta row —
  last-writer-wins by _batch, stateio.read_state's keyed read (ONE
  algebraic struct-max agg: no window, hot vertices collapse map-side).
  Compaction (stateio.compact_batches) keeps _batch as a real column, so
  the fold — and the redelivery fence below — survive compaction
  unchanged.

Idempotency (T5): a batch reads only deltas from strictly earlier
batches (_batch < batch_id) and overwrites its own delta dir, so
re-running batch k after k+1 committed reproduces byte-identical state;
the delta is localCheckpoint'd before the write so its lineage never
reads the directory being overwritten (crashed-attempt files).

Monotonicity caveat, documented not hidden: component ids are min
vertex ids, and a merge can RELABEL old vertices (that is what the
delta rows record). Consumers that cached labels must re-join against
read_labels(), not assume stability — same contract as any ER system
that merges clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph as G
from .stateio import batch_dir, compact_batches, read_state

LAB_SCHEMA = "vertex string, component string"


def _lab_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "cc_labels")


def read_labels(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Current (vertex, component) labels: last-writer-wins fold of the
    accumulated per-batch deltas (stateio.read_state keyed on vertex:
    newest _batch wins). `before_batch` fences to strictly earlier batches
    so a redelivered batch never sees its own future."""
    return read_state(
        spark, LAB_SCHEMA, _lab_dir(out_dir), key="vertex", before_batch=before_batch
    )


def cc_batch(
    spark: SparkSession,
    edges_df: DataFrame,
    batch_id: int,
    out_dir: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Absorb one edge micro-batch into the accumulated labels; commits
    (and returns) the label DELTA — changed + brand-new vertices. The
    full current table is read_labels(); the delta is what downstream
    cache-invalidation consumes (exactly the vertices whose canonical id
    moved)."""
    prev = read_labels(spark, out_dir, before_batch=batch_id)
    if prev is None:
        delta = G.connected_components(edges_df, src=src, dst=dst)
    else:
        new = G.incremental_components(prev, edges_df, src=src, dst=dst)
        delta = (
            new.join(
                prev.withColumnRenamed("component", "_old"), "vertex", "left"
            )
            .where(F.col("_old").isNull() | (F.col("_old") != F.col("component")))
            .select("vertex", "component")
        )
    # cut lineage from the state dirs BEFORE overwriting one of them
    delta = delta.localCheckpoint(eager=True)
    path = batch_dir(_lab_dir(out_dir), batch_id)
    delta.write.mode("overwrite").parquet(path)
    return spark.read.schema(LAB_SCHEMA).parquet(path)


def compact_state(spark: SparkSession, out_dir: str) -> None:
    """Fold the delta history into one compact dir (stateio protocol;
    _batch survives as a real column so the last-writer-wins read and
    the redelivery fence keep working). Run on the stream's own cadence
    so the per-batch glob read stays O(1) in stream lifetime."""
    compact_batches(spark, LAB_SCHEMA, _lab_dir(out_dir))
