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
    the graph built so far): each batch passes the node state of the
    batches BEFORE it as `existing_nodes`, so material identities are
    first-batch-wins (J7) and chemical nodes are adopted + lattice-folded
    from their prior state (exact DFA sequence split — see
    operators/link.py assign_clusters);
  * visibility-timeout lease (T1) needs no analog: Spark task retry +
    idempotent stage commits cover redelivery.

State: there is no separate node store. A micro-batch is one run of the
batch DAG into out_dir/batch_NNNNNN, and the `materials` and `chem_nodes`
stage tables it commits there ARE the stream's node state: a node's
current value is its newest batch's row (stateio.read_state). The MERGE
read is fenced to batches < the batch being processed, so a redelivered or
force-rerun batch never sees its own (or a later batch's) rows. On
Iceberg: a MERGE INTO per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import propagate as P
from ..plans.pipeline import run_pipeline
from ..schemas import DOCUMENTS_SCHEMA, TRIPLES_SCHEMA
from .stateio import batch_dir, read_state

# The node state's read schemas over the committed stage tables. Material
# rows keep manufacturer_name (the J7 identity key); their node_type is a
# literal, not a column, so a node_type filter on the state prunes the
# other table's scan and aggregate from the plan.
_MATERIAL_COLS = ", ".join(
    f"{c} string" for c in (*P.NODE_COLS, "manufacturer_name") if c != "node_type"
)
_CHEM_COLS = ", ".join(f"{c} string" for c in ("chem_id", "name", *P.NODE_COLS[3:]))


def read_accumulated_nodes(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Current node state of a streaming ingest dir, fenced to batches <
    before_batch: each material's newest committed `materials` row and
    each chemical's newest `chem_nodes` row (its total fold), as NODE_COLS
    + manufacturer_name (null on chemicals) — or None before the first
    committed batch. This is the `existing_nodes` every MERGE batch folds
    onto."""
    mats = read_state(
        spark, _MATERIAL_COLS, out_dir, key="id", before_batch=before_batch, table="materials"
    )
    chems = read_state(
        spark, _CHEM_COLS, out_dir, key="chem_id", before_batch=before_batch, table="chem_nodes"
    )
    if mats is None or chems is None:
        return None
    mats = mats.withColumn("node_type", F.lit("MATERIAL")).select(*P.NODE_COLS, "manufacturer_name")
    return mats.unionByName(P.chemical_node_rows(chems), allowMissingColumns=True)


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    gazetteer: list[dict] | None = None,
) -> dict[str, DataFrame]:
    """One micro-batch through the batch DAG into its own batch dir,
    merging into the node state of the batches before it; nothing runs
    after the DAG (its committed tables are the state later batches read)."""
    return run_pipeline(
        spark, batch_df, batch_dir(out_dir, batch_id), gazetteer=gazetteer,
        existing_nodes=read_accumulated_nodes(spark, out_dir, before_batch=batch_id),
    )


def streaming_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gazetteer: list[dict] | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start the foreachBatch stream over the document parquet files
    arriving under input_dir (checkpointed under out_dir, so a restart
    redelivers idempotently): each non-empty micro-batch goes to
    process_batch. available_now=True processes the backlog then stops
    (the batch-test trigger). Returns the StreamingQuery."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process_batch(spark, batch_df, int(batch_id), out_dir, gazetteer)

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    writer = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
