"""Structured-Streaming ingest — the reference's queue-consumer path
(S2: utils/azure_queue.py:18-21 + 20 polling daemon threads run.py:67-72,
dispatch processors/queue.py:157-201) re-expressed as a file-source stream
of document batches processed with foreachBatch.

Semantics reproduced:
  * at-least-once delivery + idempotent processing (T5): the streaming
    checkpoint gives deterministic batch ids; each batch runs the batch
    pipeline into its own lineage dir with resume=True, so a redelivered /
    restarted batch skips every stage it already committed;
  * sequential coupling (the reference processes files one-by-one against
    the graph built so far): each batch passes the ACCUMULATED node table
    as `existing_nodes`, so material identities are first-batch-wins (J7)
    and chemical nodes are adopted + lattice-folded from their prior state
    (exact DFA sequence split — see operators/link.py assign_clusters);
  * visibility-timeout lease (T1) needs no analog: Spark task retry +
    idempotent stage commits cover redelivery.

Scale notes: one micro-batch = one run of the batch DAG (all-stage
parallelism applies within a batch); state follows the stateio layout and
read (each batch overwrites only its own subdir => idempotent under
reprocessing; a node's current state is its newest batch's row, for the
MERGE input and consolidation alike). On Iceberg: a MERGE INTO per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import propagate as P
from ..plans.pipeline import run_pipeline
from ..schemas import DOCUMENTS_SCHEMA, TRIPLES_SCHEMA
from .stateio import batch_dir, compact_batches, read_state, run_stream

# node-table columns plus the material's manufacturer_name (J7 identity key)
ACC_SCHEMA = ", ".join(f"{c} string" for c in (*P.NODE_COLS, "manufacturer_name"))


def _acc_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "nodes_acc")


def read_accumulated_nodes(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Current node state of a streaming ingest dir — exactly one row per
    id, the newest batch's (stateio.read_state over the newest compaction
    plus the live batch tail) — or None before the first batch. This is
    the `existing_nodes` every MERGE batch folds onto."""
    return read_state(spark, ACC_SCHEMA, _acc_dir(out_dir), key="id")


def compact_nodes(spark: SparkSession, out_dir: str) -> None:
    """Compact the node accumulator's batch subdirs into one dir so the
    per-batch glob read stays O(1) in stream lifetime (the last-wins batch
    order survives as the materialized _batch column)."""
    compact_batches(spark, ACC_SCHEMA, _acc_dir(out_dir))


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    gazetteer: list[dict] | None = None,
) -> dict[str, DataFrame]:
    """One micro-batch through the batch DAG, merging into prior state."""
    tables = run_pipeline(
        spark, batch_df, batch_dir(out_dir, batch_id), gazetteer=gazetteer,
        existing_nodes=read_accumulated_nodes(spark, out_dir),
    )
    # accumulate this batch's node identities (material rows keep their
    # manufacturer_name: the J7 identity probe needs it); overwrite-by-batch
    # subdir => reprocessing the same batch id is a no-op
    acc = tables["materials"].select(*P.NODE_COLS, "manufacturer_name").unionByName(
        P.chemical_node_rows(tables["chem_nodes"]), allowMissingColumns=True
    )
    acc.write.mode("overwrite").parquet(batch_dir(_acc_dir(out_dir), batch_id))
    return tables


def streaming_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gazetteer: list[dict] | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    compact_every: int | None = None,
):
    """Start the ingest stream; with available_now=True processes the
    backlog then stops (the batch-test trigger). Returns the StreamingQuery.
    compact_every=K folds the node accumulator's batch subdirs into one
    compact dir every K batches (stateio commit protocol — crash-safe)."""
    return run_stream(
        spark, DOCUMENTS_SCHEMA, input_dir, out_dir,
        lambda df, b: process_batch(spark, df, b, out_dir, gazetteer),
        lambda: compact_nodes(spark, out_dir),
        max_files_per_trigger, available_now, compact_every,
    )


def consolidated(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Cross-batch consolidated graph tables.

    nodes: read_accumulated_nodes (a chemical's newest row is its total
    fold), material statuses re-resolved below. triples: the newest batch's
    row per (subj_id, pred, obj_id), ONE glob scan over every batch's
    triples — hasChemical weights upsert to the latest batch (J8),
    evidencedBy/manufacturedBy are append-only and unique."""
    nodes = read_accumulated_nodes(spark, out_dir)
    if nodes is None:
        raise FileNotFoundError(f"no committed batches under {out_dir}")
    triples = read_state(
        spark, TRIPLES_SCHEMA, out_dir, key=("subj_id", "pred", "obj_id"), table="triples"
    )
    if triples is None:
        return {"nodes": nodes, "triples": None}

    # Material statuses depend on the CURRENT states of their chemicals
    # (the reference re-resolves affected materials after every chemical
    # update, artifact_ingestor_service.py:1108-1145); recompute the A3/A4
    # fold globally over consolidated edges + final chemical states.
    chem = nodes.where("node_type = 'CHEMICAL'")
    edges = triples.where("pred = 'hasChemical'").select(
        F.col("subj_id").alias("material_id"), F.col("obj_id").alias("cluster")
    )
    mats = P.material_nodes(
        nodes.where("node_type = 'MATERIAL'"), edges, chem.withColumnRenamed("id", "cluster")
    )
    return {"nodes": mats.select(*nodes.columns).unionByName(chem), "triples": triples}
