"""Watermarked windowed aggregation — the Structured Streaming pattern
for event-time rollups with late data.

``windowed_event_counts`` declares the canonical plan: event stream ->
``withWatermark(ts, delay)`` -> fixed ``window(ts, size)`` groupBy ->
counts, emitted in APPEND mode, so a window materializes exactly once,
when the watermark (max event time seen in prior batches minus the
delay) passes its end. Late rows inside the delay still land in their
window before it seals; rows later than the delay are dropped by the
engine and the window is never revised — the exactly-once contract a
downstream table needs.

Scale shape: state is one count cell per (window, key) partitioned by
hash, pruned automatically as the watermark passes — bounded by
(active windows x keys), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .run import run_stream


def windowed_event_counts(stream: DataFrame, window_size: str = "1 hour",
                          watermark_delay: str = "30 minutes",
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """(window_start, window_end, <key>, n) per sealed window."""
    return (stream.withWatermark(ts_col, watermark_delay)
            .groupBy(F.window(F.col(ts_col), window_size), F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    key_col, "n"))


def run_windowed_counts(spark, landing_dir: str, out_dir: str,
                        checkpoint_dir: str, schema,
                        window_size: str = "1 hour",
                        watermark_delay: str = "30 minutes",
                        timeout_s: float = 120):
    """Drive the windowed aggregation over available files to a parquet
    sink (append mode: only watermark-sealed windows land)."""
    return run_stream(
        spark, landing_dir, schema,
        lambda s: windowed_event_counts(s, window_size, watermark_delay),
        out_dir, checkpoint_dir, timeout_s)


def session_window_counts(stream: DataFrame, gap: str = "10 minutes",
                          watermark_delay: str = "30 minutes",
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """(session_start, session_end, <key>, n) per sealed SESSION window
    — ``F.session_window``: a session extends while consecutive events
    (per key) arrive within ``gap`` of the last one (an event exactly
    ``gap`` after the previous still merges; the break rule is
    strictly-greater, the same rule as the batch operator
    operators/temporal.sessionize), and the window end is the last
    event time + gap. APPEND mode seals a session exactly once, when
    the watermark passes its end — late rows inside the delay still
    merge (possibly bridging two open sessions into one); rows later
    than the delay are dropped by the engine.

    Scale shape: state is one open session range per (key, session),
    merged by the engine and pruned as the watermark passes — bounded
    by keys x sessions-per-watermark-horizon, independent of stream
    length."""
    return (stream.withWatermark(ts_col, watermark_delay)
            .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    key_col, "n"))


def run_session_counts(spark, landing_dir: str, out_dir: str,
                       checkpoint_dir: str, schema,
                       gap: str = "10 minutes",
                       watermark_delay: str = "30 minutes",
                       timeout_s: float = 120):
    """Drive the session-window aggregation over available files to a
    parquet sink (append mode: only watermark-sealed sessions land)."""
    return run_stream(
        spark, landing_dir, schema,
        lambda s: session_window_counts(s, gap, watermark_delay),
        out_dir, checkpoint_dir, timeout_s)
