"""Structured Streaming surface: watermarked windowed aggregation and
session windows over the events stream.

The reference is batch-only (SURVEY.md §2.11) — its closest stateful
surface is incremental MERGE. This module provides the streaming-native
equivalents a Spark deployment would use for the same freshness SLOs
(sources.yml:17-21): a file-source stream over the events table with

- tumbling-window aggregation under a watermark (late data beyond the
  watermark is dropped deterministically), and
- session windows (gap-based sessionization — the streaming twin of the
  batch ``sessionize_events`` query).

Both run with ``Trigger.AvailableNow`` semantics in tests: process all
existing files, checkpoint, stop — which also validates that the batch
and streaming plans agree on the same input (the test asserts equality).

Scale notes: state is keyed by (user, window) and bounded by the
watermark — Spark evicts state older than it; shuffle partitioning is by
the grouping key, the same layout as the batch job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from a
    batch read through the catalog reader, which runs no inference job
    once the process has seen the events footer — streaming sources
    never infer; glob path because the file source wants a
    directory/pattern). Timestamp normalization is the SAME
    ``catalog.normalize_ts`` the batch catalog applies, so the
    batch≡stream equality tests compare identical wall clocks."""
    from ..catalog import normalize_ts, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(f"{sf_dir}/events*.parquet")
    )
    return normalize_ts(stream)


def windowed_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h windows per event_type under a watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user (applyInPandasWithState-free:
    the built-in session_window operator keeps state in the JVM)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, name: str):
    """Drain all available input into a memory sink and stop."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def stream_upsert(
    stream_df: DataFrame,
    warehouse,
    table: str,
    key_columns: list[str],
    checkpoint: str,
):
    """Micro-batch MERGE: every batch upserts into a warehouse table via
    foreachBatch — the streaming twin of the reference's incremental
    models (is_incremental() + MERGE, SURVEY.md §1.1: 'incremental MERGE
    ... the closest thing to streaming state'). Aggregation state lives
    in the stream; the warehouse table is the always-current sink."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        warehouse.upsert(batch_df, table, key_columns)

    return (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_apply)
        .trigger(availableNow=True)
        .start()
    )
