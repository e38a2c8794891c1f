"""The storage side of streaming state (ingest, dedup, entity CC): the
batch_NNNNNN dir layout, the fenced state read (a keyed state's current
value is its newest batch's row), the glob read and compaction. The one
foreachBatch query is ingest.streaming_ingest.

ALL filesystem access — reads, existence probes, listings, deletes,
manifest IO — goes through the Spark reader or the JVM's Hadoop
FileSystem for the dir's own scheme, never driver-local os.path: the
state dirs stay portable to any Hadoop URI (hdfs://, s3a://), which is
the deployment the streaming modules pitch. Reference analog: the
accumulating graph DB the queue consumer merges into
(processors/queue.py:157-201)."""

from __future__ import annotations

import functools as _functools
import json as _json
import os as _os
import re as _re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BATCH_COL = "_batch"
_BATCH_RE = _re.compile(r"batch_(\d+)")
# versioned manifests: _compaction_NNNNNN.json, newest (max cutoff) wins.
# A new manifest is CREATED (atomically visible on close/PUT on HDFS/S3A)
# rather than renamed over the old one — rename-overwrite is not atomic on
# object stores, and a crash between delete(old) and rename(new) would
# leave NO manifest while covered batch dirs from the previous compaction
# are already gone. With versioned files every crash point leaves at least
# the previous manifest readable.
_MANIFEST_RE = _re.compile(r"_compaction_(\d+)\.json")


def read_glob(spark: SparkSession, schema, pattern: str) -> DataFrame | None:
    """Parquet read of every path matching the Hadoop glob `pattern`, or
    None when nothing matches yet. The glob is expanded on the driver
    (FileSystem.globStatus, no Spark job) and the reader gets the explicit
    paths, so a missing dir is a None, not a caught PATH_NOT_FOUND."""
    fs, _, p = _fs(spark, pattern)
    matches = fs.globStatus(p)  # None for a missing literal path
    if not matches:
        return None
    return spark.read.schema(schema).parquet(*[st.getPath().toString() for st in matches])


# ----------------------------------------------------------- batch layout --
def batch_dir(root: str, batch_id: int) -> str:
    """The dir micro-batch `batch_id` commits into: root/batch_NNNNNN."""
    return _os.path.join(root, f"batch_{int(batch_id):06d}")


def _with_batch(df: DataFrame, table: str | None = None) -> DataFrame:
    # int `_batch` from /batch_N/<file> (or /batch_N/<table>/<file>),
    # anchored to the file's own parent chain — a root that itself contains
    # a /batch_NNN/ segment must not hijack the id; an int, so 7-digit ids
    # order after 6-digit ones
    sub = "" if table is None else _re.escape(table) + "/"
    return df.withColumn(
        _BATCH_COL,
        F.regexp_extract(F.input_file_name(), f"/{_BATCH_RE.pattern}/{sub}[^/]*$", 1).cast("int"),
    )


# ---------------------------------------------------------- hadoop fs ops --
def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm, jpath


def _list_names(spark: SparkSession, dir_path: str) -> list[str]:
    """Child names of dir_path ([] when it doesn't exist)."""
    fs, _, p = _fs(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _delete(spark: SparkSession, path: str) -> None:
    fs, _, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, jvm, psrc = _fs(spark, src)
    fs.rename(psrc, jvm.org.apache.hadoop.fs.Path(dst))


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    # writeBytes(String) keeps the bytes JVM-side; passing a Python
    # bytearray to write() would cross py4j by VALUE and is easy to get
    # subtly wrong (as is readFully into a Python buffer — see _read_text)
    fs, _, p = _fs(spark, path)
    try:
        # the local ChecksumFileSystem otherwise drops a hidden .crc
        # sidecar next to every manifest (clutter the cleanup pass and
        # tests would have to special-case); real HDFS/S3A ignore this
        fs.setWriteChecksum(False)
    except Exception:
        pass
    out = fs.create(p, True)
    try:
        out.writeBytes(text)
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    # IOUtils.toString drains the stream INSIDE the JVM: py4j copies a
    # Python bytearray into readFully by value, so Java-side mutations
    # never reach Python — the naive buffer approach reads back zeros
    fs, jvm, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


# ------------------------------------------------------------- compaction --
# A long-lived stream accumulates thousands of batch_NNNNNN subdirs; the
# glob read then pays per-dir listing and tiny-file overhead every batch.
# compact_batches() rewrites every committed batch dir up to a cutoff into
# ONE compact_NNNNNN dir that stores the batch id as a real _batch column
# (the path-derived id is materialized, so fence filters keep working),
# commits it by CREATING the next versioned manifest, then deletes the
# covered dirs. Crash anywhere is safe: read_state() ignores batch dirs
# <= the newest manifest cutoff, so a covered-but-not-yet-deleted dir is
# never double-counted; a compact tmp dir that never reached a manifest is
# invisible; and deletions only ever run AFTER the manifest naming the
# replacement data is durable.
# On a table format this whole section is RewriteDataFiles + one snapshot
# commit; the manifest JSON mirrors plans/lineage.py's _lineage.json
# (the documented parquet-dir fallback).


def compacted_upto(spark: SparkSession, acc_dir: str) -> int | None:
    """Newest committed compaction cutoff (inclusive), or None."""
    cuts = [
        int(m.group(1))
        for n in _list_names(spark, acc_dir)
        if (m := _MANIFEST_RE.fullmatch(n))
    ]
    if not cuts:
        return None
    upto = max(cuts)
    # sanity: the manifest is written only after the compact dir commit,
    # so the dir must exist; a corrupt manifest body is a loud error
    body = _json.loads(_read_text(spark, _os.path.join(acc_dir, f"_compaction_{upto:06d}.json")))
    return int(body["upto"])


def read_state(
    spark: SparkSession, schema, acc_dir: str, key: str | Sequence[str] | None = None,
    before_batch: int | None = None, table: str | None = None,
) -> DataFrame | None:
    """Accumulated state as (data columns..., _batch int): the newest
    compaction plus every live batch dir AFTER its cutoff (or the per-batch
    `table` under each batch dir), fenced to batches < before_batch. With
    `key`, the CURRENT state instead: each key's newest-batch row, without
    _batch (one algebraic struct-max agg). None when no state has ever
    been committed."""
    upto = compacted_upto(spark, acc_dir)
    parts = []
    if upto is not None:
        # the compact dir stores _batch as a real column
        compact = read_glob(
            spark,
            f"{schema}, {_BATCH_COL} int",
            _os.path.join(acc_dir, f"compact_{upto:06d}"),
        )
        if compact is not None:
            parts.append(compact)
    pattern = _os.path.join(acc_dir, "batch_*")
    if table is not None:
        pattern = _os.path.join(pattern, table)
    live = read_glob(spark, schema, pattern)
    if live is not None:
        live = _with_batch(live, table)
        if upto is not None:
            # covered dirs may linger after a crash between manifest commit
            # and deletion — never double-count them
            live = live.where(F.col(_BATCH_COL) > upto)
        parts.append(live)
    if not parts:
        return None
    out = _functools.reduce(DataFrame.unionByName, parts)
    if before_batch is not None:
        out = out.where(F.col(_BATCH_COL) < F.lit(int(before_batch)))
    if key is None:
        return out
    keys = [key] if isinstance(key, str) else list(key)
    rest = [c for c in out.columns if c not in keys and c != _BATCH_COL]
    return (
        out.groupBy(*keys)
        .agg(F.max(F.struct(_BATCH_COL, *rest)).alias("_w"))
        .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in rest])
    )


def compact_batches(spark: SparkSession, schema, acc_dir: str) -> int | None:
    """Rewrite all currently-committed batch dirs (and any previous
    compaction) into one compact dir; returns the new cutoff, or None if
    there is nothing to compact. Single-writer maintenance op (run it from
    the stream's own foreachBatch cadence or a side job between batches)."""
    prev = compacted_upto(spark, acc_dir)
    live_ids = [
        int(m.group(1)) for d in _list_names(spark, acc_dir)
        if (m := _BATCH_RE.fullmatch(d)) and (prev is None or int(m.group(1)) > prev)
    ]
    if not live_ids:
        return prev
    upto = max(live_ids)
    state = read_state(spark, schema, acc_dir)  # compact head + live tail
    final = _os.path.join(acc_dir, f"compact_{upto:06d}")
    tmp = final + "._tmp"
    _delete(spark, tmp)
    state.write.mode("overwrite").parquet(tmp)
    _delete(spark, final)
    _rename(spark, tmp, final)
    # manifest commit: CREATE the next versioned manifest (the previous one
    # stays until cleanup, so every crash point leaves a readable cutoff)
    _write_text(
        spark,
        _os.path.join(acc_dir, f"_compaction_{upto:06d}.json"),
        _json.dumps({"upto": upto}),
    )
    # cleanup (safe to crash mid-way: covered dirs are ignored by readers).
    # Delete EVERY covered batch dir <= upto — not just this round's live
    # set — so a boundary batch dir recreated by a redelivered micro-batch
    # after an earlier compaction is eventually removed too.
    # A compact tmp from a crashed earlier attempt never reached a manifest
    # — invisible to readers, but still disk to reclaim.
    for d in _list_names(spark, acc_dir):
        covered = _BATCH_RE.fullmatch(d)
        older = _re.fullmatch(r"compact_(\d+)", d) or _MANIFEST_RE.fullmatch(d)
        if (
            (covered and int(covered.group(1)) <= upto)
            or (older and int(older.group(1)) != upto)
            or (d.endswith("._tmp") and d != _os.path.basename(tmp))
        ):
            _delete(spark, _os.path.join(acc_dir, d))
    return upto

