"""Event-time windowed aggregation with watermarked late-data handling —
the monitoring surface of the streaming ingest (reference: the queue
consumer reports running counts per folder upload as batches land,
folder_reader_service.py:140-151; re-expressed as the standard Structured
Streaming pattern: readStream -> withWatermark -> window -> sink).

Semantics:
  * each arriving event carries an event timestamp; counts are aggregated
    per hopping window (or per gap session) and per dimension;
  * the watermark bounds state: windows older than (max event time seen -
    delay) are finalized and their state dropped — without it a 10^12-doc
    stream's window state grows forever;
  * append output mode only emits FINALIZED windows (exactly-once per
    window with checkpointing), so downstream sinks never see a count
    twice.

Scale notes: the aggregation is algebraic (count/sum) => map-side partial
aggregation per micro-batch; state is keyed on (window, dim) — bounded by
watermark horizon x dimension cardinality, independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization via the built-in F.session_window: events of
    one key merge into a session while consecutive gaps stay < `gap`; a gap
    >= `gap` starts a new session (session_end = last event time + gap,
    Spark's session-window convention). Works UNCHANGED on a streaming
    DataFrame (add withWatermark upstream; state per open session only).

    Scale shape: one shuffle on the key, algebraic aggregates (count/sum)
    with map-side partials inside the session-window merge; no per-row
    Python, no global window. Value-checked against a DuckDB lag/cumsum
    replay (contract:w5_session_window)."""
    sw = F.session_window(F.col(ts_col), gap)
    return (
        events.groupBy(F.col(key_col), sw)
        .agg(
            F.count("*").alias("n_events"),
            # decimal-sum: 2-decimal inputs sum EXACTLY, so no engine's or
            # partitioning's float addition order can leak into the result
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def hopping_counts(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    dim_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hopping (sliding) event-time window aggregation: every event lands
    in ceil(size/slide) overlapping windows whose starts sit on the slide
    grid — the smoothing window type between tumbling (w4) and session
    (w5); the moving-rate view a monitoring surface wants ("events/hour,
    refreshed every 30 min"). Works unchanged on a streaming DataFrame
    (add withWatermark upstream; state = windows-per-horizon x dims).

    Scale shape: F.window with a slide REPLICATES each row
    ceil(size/slide) times before the algebraic agg — the replication is
    a narrow map (no shuffle of its own) and the count/sum still partial-
    aggregates map-side, so the exchange carries (window x dim) groups,
    not events. Keep size/slide small multiples: a 24h/1m window would
    1440x the scan. Value-checked against a DuckDB replay that unnests
    each event's covering window starts (contract:w9_hopping_window)."""
    return (
        events.groupBy(F.window(F.col(ts_col), size, slide), F.col(dim_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            dim_col,
            "n_events",
            "total_value",
        )
    )
