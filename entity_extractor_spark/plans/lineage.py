"""Per-stage / per-partition lineage for checkpoint-resume (T2/T4).

The reference tracks per-file stage state rows
(models/artifact_upload_run_state_details.py:17-37) and per-page lock files
(file_analysis_service.py:190-227) so a killed worker resumes mid-document.
Re-expressed set-at-a-time: each pipeline stage commits its output table
atomically (write to _tmp, rename) and then appends lineage rows
(stage, partition_id, status, counters). On restart, stages whose lineage
row says 'done' and whose output exists are READ, not recomputed — the
resume test kills the pipeline between stages and asserts bit-identical
outputs with zero recompute of done stages.

Iceberg would give us this via snapshot commits (SURVEY.md §7 risk (b));
offline, the same contract is implemented over parquet directories with a
tmp-dir rename as the atomic commit.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class LineageLog:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "_lineage.json")
        os.makedirs(out_dir, exist_ok=True)
        # stages commit from concurrent DAG-executor threads: every access
        # to the lineage file (each read-modify-write, and each read) holds
        # this lock, so no commit or invalidation is lost
        self._lock = threading.Lock()

    def _read(self) -> dict:
        if not os.path.exists(self.path):
            return {"stages": {}}
        with open(self.path) as f:
            return json.load(f)

    def _write(self, rec: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1)
        os.replace(tmp, self.path)

    def stage_record(self, stage: str) -> dict:
        """The stage's lineage record ({} when it has none)."""
        with self._lock:
            return self._read()["stages"].get(stage, {})

    def is_done(self, stage: str) -> bool:
        rec = self.stage_record(stage)
        return rec.get("status") == "done" and os.path.exists(self._stage_dir(stage))

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def mark_done(
        self,
        stage: str,
        counters: dict | None = None,
        partitions: list[dict] | None = None,
        schema_json: str | None = None,
    ) -> None:
        with self._lock:
            rec = self._read()
            rec["stages"][stage] = {
                "status": "done",
                "ts": time.time(),
                "counters": counters or {},
                "partitions": partitions or [],
                "schema": schema_json,
            }
            self._write(rec)

    def invalidate_from(self, stage: str, order: list[str]) -> None:
        """force-rerun semantics (reference 'force' flag,
        file_analysis_service.py:244-253): drop this stage and everything
        after it."""
        with self._lock:
            rec = self._read()
            if stage in order:
                for s in order[order.index(stage):]:
                    rec["stages"].pop(s, None)
                    d = self._stage_dir(s)
                    if os.path.exists(d):
                        shutil.rmtree(d)
            self._write(rec)

    def stage_counters(self, stage: str) -> dict:
        return self.stage_record(stage).get("counters", {})


def commit_stage(
    log: LineageLog,
    spark: SparkSession,
    stage: str,
    df: DataFrame,
    counters_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Atomically materialize `df` as the stage output and record lineage
    (with per-partition row counts). Returns the re-read DataFrame so
    downstream stages consume the committed table, truncating lineage."""
    t0 = time.time()
    final = log._stage_dir(stage)
    tmp = final + "._tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    # Named counters are observed on the write itself (one set of sums
    # carried by the write job), not re-aggregated from the committed table.
    observed = None
    if counters_cols:
        observed = Observation()
        df = df.observe(observed, *[F.sum(col).alias(name) for name, col in counters_cols.items()])
    df.write.mode("overwrite").parquet(tmp)
    t_write = time.time()
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)

    # Known schema on re-read: skips the schema-inference job per stage.
    committed = spark.read.schema(df.schema).parquet(final)
    # Per-partition counters come from the parquet footers (one part-file per
    # write partition) — metadata-only, no extra Spark job. On Iceberg this
    # is the snapshot manifest's per-file row counts.
    import pyarrow.parquet as pq

    parts = []
    for fname in sorted(os.listdir(final)):
        if not fname.startswith("part-"):
            continue
        pid = int(fname.split("-")[1])
        nrows = pq.ParquetFile(os.path.join(final, fname)).metadata.num_rows
        parts.append({"partition_id": pid, "rows": int(nrows), "status": "done"})
    counters = {
        "rows": int(sum(p["rows"] for p in parts)),
        "wall_sec": round(time.time() - t0, 3),
        "write_sec": round(t_write - t0, 3),
    }
    if observed is not None:
        for name, value in observed.get.items():
            counters[name] = int(value or 0)
    log.mark_done(stage, counters=counters, partitions=parts, schema_json=df.schema.json())
    return committed


def load_stage(log: LineageLog, spark: SparkSession, stage: str) -> DataFrame:
    """Read a committed stage table back with its lineage-recorded schema
    (an empty commit still reproduces the exact StructType)."""
    schema_json = log.stage_record(stage).get("schema")
    if schema_json:
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(json.loads(schema_json))).parquet(
            log._stage_dir(stage)
        )
    return spark.read.parquet(log._stage_dir(stage))
