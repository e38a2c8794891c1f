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
from entity_extractor_spark.plans.lineage import LineageLog
from entity_extractor_spark.plans.pipeline import STAGE_ORDER
from entity_extractor_spark.streaming.ingest import (
    consolidated,
    process_batch,
    read_accumulated_nodes,
    streaming_ingest,
)
from entity_extractor_spark.streaming.stateio import batch_dir

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


def _assert_matches_oracle(spark, out_dir):
    want_nodes, want_triples = _oracle_nodes()
    tables = consolidated(spark, out_dir)
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
        f"missing={len(want_triples - got_triples)} of {len(want_triples)} "
        f"e.g. {list(want_triples - got_triples)[:5]} extra={list(got_triples - want_triples)[:5]}"
    )


def _read_input(spark, stream_result, name):
    return spark.read.schema(
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ).parquet(os.path.join(os.path.dirname(stream_result), "stream_in", name))


def test_consolidated_matches_oracle(spark, stream_result):
    _assert_matches_oracle(spark, stream_result)


def test_redelivery_idempotent(spark, stream_result):
    """Reprocessing an already-committed batch id changes nothing (T5)."""
    before = consolidated(spark, stream_result)
    before_triples = {(r["subj"], r["pred"], r["obj"]) for r in before["triples"].collect()}
    # redeliver batch 1's input as the same batch id
    process_batch(spark, _read_input(spark, stream_result, "b1.parquet"), 1, stream_result,
                  gazetteer_rows(CFG))
    after = consolidated(spark, stream_result)
    after_triples = {(r["subj"], r["pred"], r["obj"]) for r in after["triples"].collect()}
    assert before_triples == after_triples


def test_force_rerun_middle_batch_matches_oracle(spark, stream_result):
    """Force-rerunning a middle batch (lineage invalidated from `winners`,
    batches after it already committed) rebuilds it against the state of
    the batches BEFORE it only: its own committed materials must not mark
    its winners' identities as already taken, nor later batches' nodes
    leak into its fold."""
    LineageLog(batch_dir(stream_result, 1)).invalidate_from("winners", STAGE_ORDER)
    process_batch(spark, _read_input(spark, stream_result, "b1.parquet"), 1, stream_result,
                  gazetteer_rows(CFG))
    _assert_matches_oracle(spark, stream_result)


def test_consolidated_single_scan_50_batches(spark, tmp_path):
    """Consolidation over 50 micro-batches must be ONE glob parquet scan of
    the triples (a per-batch union loop grows the plan linearly with batch
    count), and last-wins upsert semantics must hold across the glob read
    of each batch's committed stage tables."""
    out_dir = str(tmp_path / "many_out")

    def write(df, b, table):
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(batch_dir(out_dir, b), table))

    for b in range(50):
        write(spark.createDataFrame(
            [("m1", "Mat One", "MATERIAL", None, "mfr1", "PENDING", "NONE", "Acme")],
            "id string, name string, node_type string, cas_number string, "
            "manufacturer_id string, pfas_status string, pfas_information_source string, "
            "manufacturer_name string",
        ), b, "materials")
        # chemical state upgrades to YES in the final batch: last write wins
        status, source = ("PENDING", "REGEX") if b < 49 else ("YES", "CAS")
        write(spark.createDataFrame(
            [("c1", "Chem One", "50-00-0", "mfr1", status, source, "k1")],
            "chem_id string, name string, cas_number string, manufacturer_id string, "
            "pfas_status string, pfas_information_source string, cluster string",
        ), b, "chem_nodes")
        # hasChemical weight re-upserted each batch (J8): weight == batch id
        write(spark.createDataFrame(
            [("Mat One", "hasChemical", "Chem One", "m1", "c1", str(b), f"doc-{b}")],
            "subj string, pred string, obj string, subj_id string, obj_id string, "
            "weight_percent string, doc_id string",
        ), b, "triples")

    tables = consolidated(spark, out_dir)
    plan = tables["triples"]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    trip = tables["triples"].collect()
    assert len(trip) == 1 and trip[0]["weight_percent"] == "49"  # last batch wins
    rows = tables["nodes"].collect()
    assert sorted(r["id"] for r in rows) == ["c1", "m1"]
    nodes = {r["id"]: r for r in rows}
    assert nodes["c1"]["pfas_status"] == "YES"
    assert nodes["m1"]["pfas_status"] == "YES"  # re-folded from final chem state
    assert nodes["m1"]["manufacturer_name"] == "Acme"
    # the state the next MERGE reads holds exactly the newest row per id,
    # fenced to the batches before the one being processed
    state = read_accumulated_nodes(spark, out_dir)
    assert [r["pfas_status"] for r in state.where("id = 'c1'").collect()] == ["YES"]
    fenced = read_accumulated_nodes(spark, out_dir, before_batch=49).where("id = 'c1'")
    assert [r["pfas_status"] for r in fenced.collect()] == ["PENDING"]
    # node_type is a literal on both sides: a node_type filter scans one table
    chem = state.where("node_type = 'CHEMICAL'")._jdf.queryExecution().executedPlan().toString()
    assert chem.count("Scan parquet") == 1, chem
