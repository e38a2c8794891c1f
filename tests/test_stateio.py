"""Streaming-state compaction: N batch_* subdirs rewritten into one
compact dir + manifest; readers see identical rows at every crash point,
and the dedup gate's cross-batch semantics survive a mid-stream compaction."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from entity_extractor_spark.streaming import dedup as SD
from entity_extractor_spark.streaming.stateio import (
    compact_batches,
    compacted_upto,
    read_state,
)

SCHEMA = "k bigint, v string"


def _write_batches(spark, acc, n, start=0):
    for b in range(start, start + n):
        spark.createDataFrame(
            [(b * 10 + i, f"v{b}:{i}") for i in range(3)], SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(acc, f"batch_{b:06d}")
        )


def _rows(df):
    return sorted((r["k"], r["v"], r["_batch"]) for r in df.collect())


def test_compaction_preserves_state_over_100_batches(spark, tmp_path):
    acc = str(tmp_path / "acc")
    _write_batches(spark, acc, 100)
    before = _rows(read_state(spark, SCHEMA, acc))
    assert len(before) == 300 and before[0][2] == 0 and before[-1][2] == 99

    assert compact_batches(spark, SCHEMA, acc) == 99
    assert compacted_upto(spark, acc) == 99
    # every covered batch dir is gone; ONE compact dir holds the state
    dirs = sorted(d for d in os.listdir(acc) if not d.startswith("_"))
    assert dirs == ["compact_000099"]
    assert _rows(read_state(spark, SCHEMA, acc)) == before

    # new batches after the compaction merge with the compact head
    _write_batches(spark, acc, 2, start=100)
    after = _rows(read_state(spark, SCHEMA, acc))
    assert len(after) == 306 and after[-1][2] == 101

    # second compaction folds compact head + live tail into a new cutoff
    assert compact_batches(spark, SCHEMA, acc) == 101
    assert _rows(read_state(spark, SCHEMA, acc)) == after
    assert not os.path.isdir(os.path.join(acc, "compact_000099"))


def test_covered_dirs_ignored_after_crashy_cleanup(spark, tmp_path):
    """Crash between manifest commit and covered-dir deletion: a lingering
    (or redelivery-recreated) batch dir <= cutoff must not double-count."""
    acc = str(tmp_path / "acc")
    _write_batches(spark, acc, 5)
    base = _rows(read_state(spark, SCHEMA, acc))
    compact_batches(spark, SCHEMA, acc)
    # simulate the crash: re-create a covered batch dir with the SAME rows
    _write_batches(spark, acc, 1, start=2)
    assert _rows(read_state(spark, SCHEMA, acc)) == base
    # and a fresh compaction absorbs nothing twice
    compact_batches(spark, SCHEMA, acc)
    assert _rows(read_state(spark, SCHEMA, acc)) == base


def test_dedup_gate_equivalent_under_midstream_compaction(spark, tmp_path):
    """Three-batch dedup with a compaction after batch 1 produces the same
    decisions as the uncompacted run (fences move from path-derived batch
    ids to the materialized _batch column)."""
    texts = {
        0: [(1, "alpha beta gamma delta epsilon zeta"), (2, "unrelated words here now")],
        1: [(3, "alpha beta gamma delta epsilon zeta"), (4, "another different doc")],
        2: [(5, "alpha beta gamma delta epsilon zeta"), (6, "unrelated words here now")],
    }

    def run(out):
        for b, rows in texts.items():
            df = spark.createDataFrame(rows, "doc_id bigint, text string")
            SD.dedup_batch(spark, df, b, out)
            if out.endswith("compacted") and b == 1:
                compact_batches(spark, SD.IDX_SCHEMA, SD._idx_dir(out))
                compact_batches(spark, SD.DEC_SCHEMA, SD._dec_dir(out))
        return sorted(
            (r["doc_id"], r["keeper"], r["is_dup"])
            for r in SD.read_decisions(spark, out).collect()
        )

    plain = run(str(tmp_path / "plain"))
    compacted = run(str(tmp_path / "compacted"))
    assert plain == compacted
    # the dup chain collapsed to the earliest kept doc in both runs
    assert (3, 1, True) in plain and (5, 1, True) in plain

    shutil.rmtree(tmp_path, ignore_errors=True)


def test_seven_digit_batch_ids_order_and_compact(spark, tmp_path):
    """Batch ids >= 10^6 render as 7-digit names; the compactor must still
    recognize them and the materialized _batch id must order NUMERICALLY
    (a string compare would put 1000000 before 999999)."""
    acc = str(tmp_path / "acc")
    for b in (999_999, 1_000_000):
        spark.createDataFrame([(1, f"from_{b}")], SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(acc, f"batch_{b:06d}"))
    st = read_state(spark, SCHEMA, acc)
    newest = (
        st.orderBy(F.desc("_batch")).limit(1).collect()[0]
    )
    assert (newest["v"], newest["_batch"]) == ("from_1000000", 1_000_000)
    assert compact_batches(spark, SCHEMA, acc) == 1_000_000
    assert compacted_upto(spark, acc) == 1_000_000
    assert _rows(read_state(spark, SCHEMA, acc)) == [
        (1, "from_1000000", 1_000_000),
        (1, "from_999999", 999_999),
    ]


def test_batch_segment_in_parent_path_does_not_hijack_id(spark, tmp_path):
    """An accumulator rooted under a dir that itself matches /batch_NNN/
    must not corrupt the path-derived batch ids."""
    acc = str(tmp_path / "batch_777777" / "acc")
    _write_batches(spark, acc, 2)
    got = {r["_batch"] for r in read_state(spark, SCHEMA, acc).collect()}
    assert got == {0, 1}


def test_redelivered_covered_batch_dir_removed_by_next_compaction(spark, tmp_path):
    """Crash-redelivery can recreate a batch dir the previous compaction
    already covered; it must stay invisible to readers AND be deleted by
    the next compaction (not relisted forever)."""
    acc = str(tmp_path / "acc")
    _write_batches(spark, acc, 3)
    assert compact_batches(spark, SCHEMA, acc) == 2
    # redelivered boundary batch rewrites its (covered) dir
    _write_batches(spark, acc, 1, start=2)
    before = _rows(read_state(spark, SCHEMA, acc))
    _write_batches(spark, acc, 1, start=3)  # stream moves on
    assert compact_batches(spark, SCHEMA, acc) == 3
    dirs = sorted(d for d in os.listdir(acc) if d.startswith("batch_"))
    assert dirs == []  # the recreated batch_000002 is gone too
    after = [(k, v, b) for (k, v, b) in _rows(read_state(spark, SCHEMA, acc)) if b <= 2]
    assert after == before


def test_keyed_read_is_newest_row_per_key(spark, tmp_path):
    """read_state(key=...) keeps each key's newest-batch row (not the
    smallest value), honours the before_batch fence, and answers the
    same across a compaction."""
    acc = str(tmp_path / "acc")
    for b, v in enumerate(["b", "c", "a"]):  # newest value is the smallest
        spark.createDataFrame([(1, v), (b + 10, v)], SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(acc, f"batch_{b:06d}"))

    def cur(**kw):
        df = read_state(spark, SCHEMA, acc, key="k", **kw)
        assert "_batch" not in df.columns
        return sorted((r["k"], r["v"]) for r in df.collect())

    want = [(1, "a"), (10, "b"), (11, "c"), (12, "a")]
    assert cur() == want
    assert cur(before_batch=2) == [(1, "c"), (10, "b"), (11, "c")]
    compact_batches(spark, SCHEMA, acc)
    assert cur() == want


def test_per_batch_table_read_anchors_on_table_dir(spark, tmp_path):
    """`table` reads root/batch_N/<table> with _batch from that layout."""
    root = str(tmp_path / "batch_000042" / "out")
    for b in (0, 3):
        spark.createDataFrame([(b, f"t{b}")], SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"batch_{b:06d}", "triples"))
    got = _rows(read_state(spark, SCHEMA, root, table="triples"))
    assert got == [(0, "t0", 0), (3, "t3", 3)]


def test_read_glob_no_match_is_none_without_a_reader_call(spark, tmp_path, monkeypatch):
    """A glob with no match (missing root, root without batch dirs, missing
    literal path) returns None from the driver-side expansion alone: the
    parquet reader is never handed a path that does not exist."""
    from pyspark.sql.readwriter import DataFrameReader

    from entity_extractor_spark.streaming.stateio import read_glob

    calls = []
    plain = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *p, **kw: calls.append(p) or plain(self, *p, **kw)
    )
    (tmp_path / "empty_root").mkdir()
    for pattern in (
        str(tmp_path / "missing" / "batch_*"),
        str(tmp_path / "empty_root" / "batch_*"),
        str(tmp_path / "empty_root" / "compact_000001"),
        str(tmp_path / "empty_root" / "batch_*" / "triples"),
    ):
        assert read_glob(spark, SCHEMA, pattern) is None, pattern
    assert calls == []
    assert read_state(spark, SCHEMA, str(tmp_path / "empty_root")) is None


def test_read_glob_match_reads_the_expanded_paths(spark, tmp_path):
    """With matches, read_glob reads exactly the matched dirs (not a
    neighbouring non-matching one), launches no Spark job, and the
    path-derived _batch ids are unchanged."""
    from entity_extractor_spark.streaming.stateio import read_glob

    acc = str(tmp_path / "acc")
    _write_batches(spark, acc, 3)
    spark.createDataFrame([(99, "stray")], SCHEMA).write.parquet(os.path.join(acc, "other"))
    tracker = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = tracker.numTotalJobs()
    df = read_glob(spark, SCHEMA, os.path.join(acc, "batch_*"))
    assert tracker.numTotalJobs() == j0
    assert sorted(r["k"] for r in df.collect()) == [b * 10 + i for b in range(3) for i in range(3)]
    assert _rows(read_state(spark, SCHEMA, acc)) == [
        (b * 10 + i, f"v{b}:{i}", b) for b in range(3) for i in range(3)
    ]
