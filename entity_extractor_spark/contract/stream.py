"""Streaming batch-replay analogs: windowed aggregations (tumbling/session/hopping), streaming dedup gate, entity CC, synthetic stream ingest.

Split out of the former monolithic contract.py (round-4, VERDICT ask #6);
query registration happens via the shared @query decorator into the
aggregating contract.Q / contract.SQL dicts in _shared.py.
"""
from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from ._shared import *  # noqa: F401,F403



@query("kg_streaming_synthetic", _synth_triples_sql(60))
def kg_streaming_synthetic(spark, sf_dir):
    """S2/T5 — Structured-Streaming ingest: the synthetic corpus split into
    2 ordered micro-batches via the file-source queue analog, consolidated
    cross-batch (identity adoption + DFA-fold init state). VALUE-CHECKED:
    the cross-batch consolidated triples must equal the sequential replay
    (same closed-form DuckDB SQL as kg_triples_synthetic, 60-doc corpus) —
    pinning that batch splitting does not change the fixpoint."""
    ensure_synth_tables()
    import glob
    import os
    import shutil
    import tempfile

    from ..corpus import CorpusConfig, gazetteer_rows, generate_documents_df
    from ..streaming.ingest import consolidated, streaming_ingest

    cfg = CorpusConfig(n_docs=60)
    root = tempfile.mkdtemp(prefix="kg_stream_contract_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    docs = generate_documents_df(spark, cfg)
    for b, (lo, hi) in enumerate([(0, 30), (30, 60)]):
        part = docs.where(
            (F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("int") >= lo)
            & (F.regexp_extract("doc_id", r"doc-(\d+)", 1).cast("int") < hi)
        )
        tmp_out = os.path.join(root, f"_b{b}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = os.path.join(in_dir, f"b{b}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + b * 60,) * 2)
    out_dir = os.path.join(root, "out")
    q = streaming_ingest(
        spark, in_dir, out_dir, gazetteer=gazetteer_rows(cfg), max_files_per_trigger=1
    )
    q.awaitTermination(300)
    t = consolidated(spark, out_dir)["triples"]
    return t.select("subj", "pred", "obj", "weight_percent")


@query(
    "w5_session_window",
    """WITH o AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ),
       s AS (
         SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess
         FROM o
       )
       SELECT user_id,
              min(ts) AS session_start,
              max(ts) + INTERVAL 30 MINUTE AS session_end,
              count(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM s GROUP BY user_id, sess""",
)
def w5_session_window(spark, sf_dir):
    """Gap-based sessionization (30-min gap) via the built-in
    F.session_window — identical code path in batch and Structured
    Streaming. The DuckDB oracle replays Spark's session-window convention
    with a lag/cumsum chain: a gap >= 30 min starts a new session,
    session_end = last event + gap. Training-pipeline staple (event-stream
    curation); reference analog: the per-run arrival accounting,
    folder_reader_service.py:140-151."""
    from ..streaming.windows import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


@query(
    "w4_tumbling_window_agg",
    """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
              event_type,
              count(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events
       GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type""",
)
def w4_tumbling_window_agg(spark, sf_dir):
    """Tumbling event-time window aggregation — the BATCH semantics of a
    watermarked streaming window count, value-checked vs DuckDB
    time_bucket (the streaming watermark/append behavior is gated by
    tests/test_stream_windows.py; the window arithmetic itself is gated
    here). Algebraic aggs -> map-side partial aggregation."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _sum2("value", "total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "w9_hopping_window",
    """WITH g AS (
         SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS b,
                event_type, value
         FROM events),
       x AS (
         SELECT unnest([b, b - INTERVAL '30 minutes']) AS window_start,
                event_type, value
         FROM g)
       SELECT window_start,
              window_start + INTERVAL '1 hour' AS window_end,
              event_type,
              count(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM x GROUP BY window_start, event_type""",
)
def w9_hopping_window(spark, sf_dir):
    """Hopping (sliding) window aggregation (windows.hopping_counts):
    1-hour windows every 30 minutes, so each event contributes to exactly
    two overlapping windows — the window type between tumbling (w4) and
    session (w5); same code path batch and streaming. The DuckDB oracle
    unnests each event's two covering slide-grid starts (time_bucket's
    2000-01-03 origin sits on every sub-day grid, matching Spark's epoch
    alignment) and re-aggregates; the decimal-sum makes the float total
    order-independent so both engines agree bit-exactly."""
    from ..streaming.windows import hopping_counts

    return hopping_counts(_t(spark, sf_dir, "events"))


@query(
    "stream_dedup_replay",
    _NEARDUP_SIG_SQL + """,
       """ + _LSH_BUCKETS_SQL + """,
       p0 AS (
         SELECT DISTINCT lpad(CAST(a.doc_id AS VARCHAR), 20, '0') AS a,
                         lpad(CAST(b.doc_id AS VARCHAR), 20, '0') AS b
         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id < b.doc_id
           AND (a.doc_id < 1000000 OR a.doc_id >= 2000000)
           AND (b.doc_id < 1000000 OR b.doc_id >= 2000000)
       ),
       e0 AS (SELECT a, b FROM p0 UNION SELECT b, a FROM p0
              UNION SELECT a, a FROM p0 UNION SELECT b, b FROM p0),
       p1 AS (
         SELECT DISTINCT lpad(CAST(a.doc_id AS VARCHAR), 20, '0') AS a,
                         lpad(CAST(b.doc_id AS VARCHAR), 20, '0') AS b
         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id < b.doc_id
           AND a.doc_id >= 1000000 AND a.doc_id < 2000000
           AND b.doc_id >= 1000000 AND b.doc_id < 2000000
       ),
       e1 AS (SELECT a, b FROM p1 UNION SELECT b, a FROM p1
              UNION SELECT a, a FROM p1 UNION SELECT b, b FROM p1),
       closure0 AS (
         WITH RECURSIVE reach(src, dst) AS (
           SELECT a, b FROM e0
           UNION SELECT r.src, e.b FROM reach r JOIN e0 e ON r.dst = e.a)
         SELECT src AS vertex, min(dst) AS component FROM reach GROUP BY src
       ),
       closure1 AS (
         WITH RECURSIVE reach(src, dst) AS (
           SELECT a, b FROM e1
           UNION SELECT r.src, e.b FROM reach r JOIN e1 e ON r.dst = e.a)
         SELECT src AS vertex, min(dst) AS component FROM reach GROUP BY src
       ),
       dec0 AS (
         SELECT d.doc_id,
                CAST(COALESCE(c.component, lpad(CAST(d.doc_id AS VARCHAR), 20, '0')) AS BIGINT) AS keeper
         FROM (SELECT doc_id FROM aug
               WHERE doc_id < 1000000 OR doc_id >= 2000000) d
         LEFT JOIN closure0 c ON c.vertex = lpad(CAST(d.doc_id AS VARCHAR), 20, '0')
       ),
       dec1w AS (
         SELECT d.doc_id,
                CAST(COALESCE(c.component, lpad(CAST(d.doc_id AS VARCHAR), 20, '0')) AS BIGINT) AS keeper
         FROM (SELECT doc_id FROM aug
               WHERE doc_id >= 1000000 AND doc_id < 2000000) d
         LEFT JOIN closure1 c ON c.vertex = lpad(CAST(d.doc_id AS VARCHAR), 20, '0')
       ),
       prior AS (
         SELECT k1.doc_id AS keeper, min(b0.doc_id) AS prior_keeper
         FROM (SELECT doc_id FROM dec1w WHERE keeper = doc_id) k1
         JOIN buckets b1 ON b1.doc_id = k1.doc_id
         JOIN buckets b0 ON b0.band = b1.band AND b0.bucket = b1.bucket
         JOIN (SELECT doc_id FROM dec0 WHERE keeper = doc_id) k0 ON k0.doc_id = b0.doc_id
         GROUP BY k1.doc_id
       ),
       dec1 AS (
         SELECT d.doc_id, COALESCE(p.prior_keeper, d.keeper) AS keeper
         FROM dec1w d LEFT JOIN prior p ON p.keeper = d.keeper
       )
       SELECT doc_id, keeper, keeper <> doc_id AS is_dup FROM dec0
       UNION ALL
       SELECT doc_id, keeper, keeper <> doc_id AS is_dup FROM dec1""",
)
def stream_dedup_replay(spark, sf_dir):
    """Streaming dedup gate replayed deterministically (streaming/dedup.py
    dedup_batch) over the near-dup corpus: batch 0 delivers the originals
    plus their heavy variants (within-batch near-dup pairs), batch 1 the
    light variants (almost every one re-points CROSS-batch to its
    original in the accumulated kept-docs index) — both stateful paths
    carry real collisions. Each batch canonicalizes within itself (LSH
    pairs -> CC -> min-id keeper) and its surviving keepers re-point to
    the smallest colliding doc in the index. The oracle unrolls both
    batches — per-batch recursive transitive closures plus the
    cross-batch keeper join — so the sequential stateful semantics are
    value-checked, not just rows-counted."""
    import tempfile

    from ..streaming.dedup import dedup_batch, read_decisions

    out = tempfile.mkdtemp(prefix="stream_dedup_")
    d = _neardup_docs(spark, sf_dir).select("doc_id", "text")
    dedup_batch(
        spark, d.where("doc_id < 1000000 OR doc_id >= 2000000"), 0, out
    )
    dedup_batch(
        spark, d.where("doc_id >= 1000000 AND doc_id < 2000000"), 1, out
    )
    return read_decisions(spark, out)


@query(
    "stream_entity_cc",
    """WITH e0 AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS a,
                  's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM lineitem WHERE l_orderkey % 997 IN (3, 4)
),
edges2 AS (
  SELECT a, b FROM e0 UNION SELECT b, a FROM e0
  UNION SELECT a, a FROM e0 UNION SELECT b, b FROM e0
),
closure AS (
  WITH RECURSIVE reach(src, dst) AS (
    SELECT a, b FROM edges2
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges2 e ON r.dst = e.a
  )
  SELECT src AS vertex, min(dst) AS component FROM reach GROUP BY src
)
SELECT vertex, component FROM closure""",
)
def stream_entity_cc(spark, sf_dir):
    """Streaming canonical-entity labels (streaming/entities.py): two
    edge micro-batches (the %997==3 and ==4 slices of the
    part<->supplier graph) flow through the REAL accumulator — per-batch
    incremental CC, label DELTAS persisted to fenced batch dirs, one
    compaction between batches, last-writer-wins fold on read — and the
    final read_labels() must equal the from-scratch recursive closure
    over the union. This value-checks the whole streaming state path
    (delta computation, _batch fencing, compaction manifest, struct-max
    fold), not just the incremental operator the batch gate covers;
    redelivery idempotence and delta minimality are unit-gated in
    tests/test_streaming_cc.py."""
    import tempfile

    from ..streaming.entities import cc_batch, compact_state, read_labels

    li = _t(spark, sf_dir, "lineitem")

    def slice_edges(r: int):
        return li.where(F.col("l_orderkey") % 997 == r).select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )

    out = tempfile.mkdtemp(prefix="kg_stream_cc_")
    cc_batch(spark, slice_edges(3), 0, out)
    compact_state(spark, out)
    cc_batch(spark, slice_edges(4), 1, out)
    return read_labels(spark, out)
