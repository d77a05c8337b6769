"""Structured Streaming operators over the events schema
(ts, user_id, event_type, value, ...).

The reference is entirely batch (SURVEY.md §2.14) — this is the extension
surface: event-time windows with watermarked late-data handling, expressed
so the SAME transformation applies to a batch DataFrame and a readStream
DataFrame (Structured Streaming's core property: one declarative plan,
incrementalized by the engine).

Scale notes: windowed aggregation state lives in the state store keyed by
(window, group); the watermark bounds state size — without it, 100 TB of
history accumulates in state. Session windows use the native
``session_window`` (gap-based merge, state-store backed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_integration_spark.streaming.replay import file_stream, run


def tumbling_agg(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool | None = None,
) -> DataFrame:
    """Per (tumbling window, event_type): count + sum(value). Works on batch
    and stream inputs alike; the watermark is attached only on streams
    (meaningless on batch)."""
    if streaming is None:
        streaming = events.isStreaming
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time window counts per event_type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_len, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: events within ``gap`` of each other merge
    into one session (native ``session_window`` — state-store merged on
    streams, plain aggregation on batch)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def streaming_tumbling_agg(
    spark,
    source_dir: str,
    schema: StructType | None,
    checkpoint_dir: str,
    out_dir: str,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
):
    """File-source → watermarked tumbling agg → parquet sink, append mode,
    replayed to the end of ``source_dir`` (streaming/replay.py::run).
    Returns the finished StreamingQuery. The batch/stream transformation
    is shared — ``tumbling_agg`` — so batch tests certify the streaming
    semantics up to late-data handling."""
    stream = file_stream(spark, source_dir, max_files_per_trigger=4, schema=schema)
    agg = tumbling_agg(stream, window_len, watermark, streaming=True)
    return run(
        agg.writeStream.outputMode("append").format("parquet").option("path", out_dir),
        "tumbling_agg",
        checkpoint=checkpoint_dir,
    )
