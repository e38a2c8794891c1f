"""Structured-Streaming ingest (S2/T5 analog): the corpus split into
ordered micro-batches must consolidate to the SAME graph as one batch run /
the sequential pure-Python oracle, and redelivery must be idempotent."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.corpus import (
    CorpusConfig,
    gazetteer_rows,
    generate_documents_df,
    generate_documents_local,
)
from entity_extractor_spark.oracle import finalize, ingest_corpus
from entity_extractor_spark.streaming.ingest import (
    consolidated,
    process_batch,
    read_accumulated_nodes,
    streaming_ingest,
)

# 3 x 100 docs: enough chemicals recur across >= 3 batches that a MERGE
# reading anything but the newest accumulated row per id drifts in status
CFG = CorpusConfig(n_docs=300, seed=1)


def _write_batches(spark, tmp_path, n_batches=3):
    """Corpus as n single parquet FILES (file-stream source wants plain
    files), mtimes strictly increasing = queue arrival order."""
    import glob
    import shutil

    in_dir = str(tmp_path / "stream_in")
    os.makedirs(in_dir, exist_ok=True)
    docs = generate_documents_df(spark, CFG)
    per = CFG.n_docs // n_batches
    for b in range(n_batches):
        lo, hi = b * per, (b + 1) * per if b < n_batches - 1 else CFG.n_docs
        part = docs.where(
            (F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("int") >= lo)
            & (F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("int") < hi)
        )
        tmp_out = str(tmp_path / f"_tmp_b{b}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = f"{in_dir}/b{b}.parquet"
        shutil.move(src, dst)
        shutil.rmtree(tmp_out)
        os.utime(dst, (1_700_000_000 + b * 60, 1_700_000_000 + b * 60))
    return in_dir


def _oracle_nodes():
    res = finalize(ingest_corpus(generate_documents_local(CFG)))
    return set(res["nodes"]), {(s, p, o, w) for (s, p, o, w) in res["triples"]}


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("streaming")
    in_dir = _write_batches(spark, tmp)
    out_dir = str(tmp / "stream_out")
    q = streaming_ingest(
        spark, in_dir, out_dir, gazetteer=gazetteer_rows(CFG), max_files_per_trigger=1
    )
    q.awaitTermination(300)
    return out_dir


def test_batches_processed_in_order(stream_result):
    batches = sorted(d for d in os.listdir(stream_result) if d.startswith("batch_"))
    assert len(batches) == 3, batches


def test_consolidated_matches_oracle(spark, stream_result):
    want_nodes, want_triples = _oracle_nodes()
    tables = consolidated(spark, stream_result)
    manu = {}  # id -> name, resolve via materials' manufacturer ids
    # nodes comparison mirrors test_pipeline_e2e: (name, type, cas, manu_name, status, source)
    acc = tables["nodes"].collect()
    # manufacturer names: material rows carry manufacturer_name
    manu_by_id = {
        r["manufacturer_id"]: r["manufacturer_name"]
        for r in acc
        if r["node_type"] == "MATERIAL"
    }
    got_nodes = {
        (
            r["name"],
            r["node_type"],
            r["cas_number"],
            manu_by_id.get(r["manufacturer_id"]),
            r["pfas_status"],
            r["pfas_information_source"],
        )
        for r in acc
    }
    assert got_nodes == want_nodes, (
        f"missing={list(want_nodes - got_nodes)[:5]} extra={list(got_nodes - want_nodes)[:5]}"
    )
    got_triples = {
        (r["subj"], r["pred"], r["obj"], r["weight_percent"])
        for r in tables["triples"].collect()
    }
    assert got_triples == want_triples, (
        f"missing={list(want_triples - got_triples)[:5]} extra={list(got_triples - want_triples)[:5]}"
    )


def test_redelivery_idempotent(spark, stream_result):
    """Reprocessing an already-committed batch id changes nothing (T5)."""
    before = consolidated(spark, stream_result)
    before_triples = {(r["subj"], r["pred"], r["obj"]) for r in before["triples"].collect()}
    # redeliver batch 1's input as the same batch id
    in_files = spark.read.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ).parquet(os.path.join(os.path.dirname(stream_result), "stream_in", "b1.parquet"))
    process_batch(spark, in_files, 1, stream_result, gazetteer_rows(CFG))
    after = consolidated(spark, stream_result)
    after_triples = {(r["subj"], r["pred"], r["obj"]) for r in after["triples"].collect()}
    assert before_triples == after_triples


def test_consolidated_single_scan_50_batches(spark, tmp_path):
    """Consolidation over 50 micro-batches must be ONE glob parquet scan of
    the triples (a per-batch union loop grows the plan linearly with batch
    count), and last-wins upsert semantics must hold across the glob read."""
    out_dir = str(tmp_path / "many_out")
    acc = os.path.join(out_dir, "nodes_acc")
    node_rows = [
        ("m1", "Mat One", "MATERIAL", None, "mfr1", "Acme", "PENDING", "NONE"),
        ("c1", "Chem One", "CHEMICAL", "50-00-0", "mfr1", None, "PENDING", "REGEX"),
    ]
    acc_schema = (
        "id string, name string, node_type string, cas_number string, "
        "manufacturer_id string, manufacturer_name string, "
        "pfas_status string, pfas_information_source string"
    )
    from entity_extractor_spark.streaming.ingest import compact_nodes

    for b in range(50):
        # chemical state upgrades to YES in the final batch: last write wins
        rows = [
            node_rows[0],
            node_rows[1] if b < 49 else ("c1", "Chem One", "CHEMICAL", "50-00-0", "mfr1", None, "YES", "CAS"),
        ]
        spark.createDataFrame(rows, acc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(acc, f"batch_{b:06d}"))
        # hasChemical weight re-upserted each batch (J8): weight == batch id
        spark.createDataFrame(
            [("Mat One", "hasChemical", "Chem One", "m1", "c1", str(b), f"doc-{b}")],
            "subj string, pred string, obj string, subj_id string, obj_id string, "
            "weight_percent string, doc_id string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_{b:06d}", "triples")
        )
        if b == 29:
            # mid-stream compaction: last-wins must keep preferring the LIVE
            # tail (batches 30-49) over the compacted head's rows
            compact_nodes(spark, out_dir)

    assert os.path.isdir(os.path.join(acc, "compact_000029"))
    tables = consolidated(spark, out_dir)
    plan = tables["triples"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    trip = tables["triples"].collect()
    assert len(trip) == 1 and trip[0]["weight_percent"] == "49"  # last batch wins
    nodes = {r["id"]: r for r in tables["nodes"].collect()}
    assert nodes["c1"]["pfas_status"] == "YES"
    assert nodes["m1"]["pfas_status"] == "YES"  # re-folded from final chem state
    # the state the next MERGE reads holds exactly the newest row per id
    c1 = read_accumulated_nodes(spark, out_dir).where("id = 'c1'").collect()
    assert [r["pfas_status"] for r in c1] == ["YES"]
