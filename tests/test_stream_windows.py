"""Watermarked event-time windowed aggregation (streaming/windows.py):
hopping and session windows run unchanged on a stream, append mode emits
each finalized window exactly once, and every emitted row equals the
batch run's row."""

from __future__ import annotations

import glob
import os
import shutil


EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, value double"
HOP_SCHEMA = "event_id bigint, ts timestamp, event_type string, value double"


def _hrow(eid: int, sec: int, etype: str, value: float):
    import datetime

    return (eid, datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=sec), etype, value)


def test_hopping_streaming_matches_batch(spark, tmp_path):
    """hopping_counts runs UNCHANGED on a stream: each event lands in two
    overlapping 1h/30m windows, the watermark finalizes windows whose end
    has passed, and every appended row equals the batch run's row."""
    from entity_extractor_spark.streaming.windows import hopping_counts

    rows0 = [_hrow(0, 0, "view", 1.25), _hrow(1, 900, "view", 2.50), _hrow(2, 100, "buy", 4.00)]
    rows1 = [_hrow(3, 2000, "view", 0.25)]      # second half-hour slot
    rows2 = [_hrow(4, 20000, "view", 9.75)]     # far future: finalizes all prior windows
    in_dir = str(tmp_path / "hop_in")
    for i, rows in enumerate([rows0, rows1, rows2]):
        df = spark.createDataFrame(rows, HOP_SCHEMA)
        tmp = in_dir + f"_tmp{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.makedirs(in_dir, exist_ok=True)
        shutil.move(src, os.path.join(in_dir, f"b{i}.parquet"))
        shutil.rmtree(tmp)

    stream = (
        spark.readStream.schema(HOP_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    hop = hopping_counts(stream.withWatermark("ts", "10 minutes"))
    q = (
        hop.writeStream.format("memory")
        .queryName("hops")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hop_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["window_end"], r["n_events"], r["total_value"])
            for r in spark.sql("select * from hops").collect()
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(rows0 + rows1 + rows2, HOP_SCHEMA)
    want_all = {
        (r["window_start"], r["event_type"]): (r["window_end"], r["n_events"], r["total_value"])
        for r in hopping_counts(batch).collect()
    }
    assert got, "stream emitted no finalized windows"
    for k, v in got.items():
        assert want_all[k] == v, (k, v, want_all[k])
    # the three batch-0/1 events merged across micro-batches: the window
    # starting at -30min and the one at 0 both carry all 4 'view' events'
    # first-hour subset; check the [0,1h) view window aggregated 3 events
    import datetime

    w0 = datetime.datetime(2026, 1, 1)
    assert (w0, "view") in got
    assert got[(w0, "view")][1:] == (3, 1.25 + 2.50 + 0.25)


def _erow(eid: int, sec: int, user: int, value: float):
    import datetime

    return (eid, datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=sec), user, value)


def test_sessionize_streaming_matches_batch(spark, tmp_path):
    """sessionize runs UNCHANGED on a stream: session-window state merges
    events across micro-batches, a watermark finalizes closed sessions, and
    the appended output equals the batch run over the same events."""
    from entity_extractor_spark.streaming.windows import sessionize

    rows0 = [_erow(0, 0, 1, 1.25), _erow(1, 60, 1, 2.50), _erow(2, 10, 2, 4.00)]
    rows1 = [_erow(3, 120, 1, 0.25)]          # merges into user 1's open session
    rows2 = [_erow(4, 7200, 1, 9.75)]         # 2h later: new session + watermark push
    rows3 = [_erow(5, 20000, 9, 1.00)]        # far future: finalizes everything prior
    in_dir = str(tmp_path / "ev_in")
    for i, rows in enumerate([rows0, rows1, rows2, rows3]):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        tmp = in_dir + f"_tmp{i}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.makedirs(in_dir, exist_ok=True)
        shutil.move(src, os.path.join(in_dir, f"b{i}.parquet"))
        shutil.rmtree(tmp)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    sess = sessionize(stream.withWatermark("ts", "10 minutes"), gap="30 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_value"])
            for r in spark.sql("select * from sessions").collect()
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(rows0 + rows1 + rows2 + rows3, EVENTS_SCHEMA)
    # the far-future session may not be finalized by the stream's watermark;
    # compare on the sessions the stream emitted (all CLOSED sessions)
    want_all = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize(batch, gap="30 minutes").collect()
    }
    assert got, "stream emitted no finalized sessions"
    for k, v in got.items():
        assert want_all[k] == v, (k, v, want_all[k])
    # user 1's first session (merged across micro-batches 0 and 1) emitted
    sess1_start = _erow(0, 0, 1, 0.0)[1]
    assert (1, sess1_start) in got
    assert got[(1, sess1_start)][1] == 3
