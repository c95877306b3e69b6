"""Streaming sessionization: gap-merged session windows over an event
stream.

The batch twin is operators/joins.sessionize / session_stats (lag +
running-sum windows); streaming can't sort a key's history, so the
Spark-native stateful operator is ``F.session_window(ts, gap)`` —
state-store-merged sessions that close once the watermark passes the
session end, emitted exactly once (append mode). This is §2.9 surface
the reference (batch-only) has no analog for; semantics match the
batch operator: events whose gap to the previous event is ≤ ``gap``
share a session.

Output schema (chosen to align with joins.session_stats):
(key_cols..., session_start, session_end_last, n_events, duration_s,
value_sum) where session_end_last is the LAST EVENT's ts
(session_window.end minus the gap), so duration matches the batch
max(ts)-min(ts).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .continuous import parquet_sink

EVENTS_SCHEMA = (
    "ts timestamp, event_id long, user_id long, event_type string, value double"
)


def continuous_session_stats(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_cols: tuple[str, ...] = ("user_id",),
    value_col: str = "value",
    schema: str = EVENTS_SCHEMA,
):
    """Start the streaming session-stats query; returns StreamingQuery."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(*key_cols, F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end_last"),
            F.sum(value_col).alias(f"{value_col}_sum"),
        )
        .select(
            *key_cols,
            "session_start",
            "session_end_last",
            "n_events",
            (
                F.unix_timestamp("session_end_last")
                - F.unix_timestamp("session_start")
            ).alias("duration_s"),
            f"{value_col}_sum",
        )
    )
    return parquet_sink(agg, out_dir, checkpoint_dir)
