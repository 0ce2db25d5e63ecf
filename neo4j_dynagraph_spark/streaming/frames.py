"""Structured Streaming parity for the frame pipeline (SURVEY.md §2.9).

The reference is batch-only but latently streaming: tumbling frames
(T1), micro-batch commits (T2), and an out-of-order insert path in
BaseTimeline.addNode (T3, BaseTimeline.java:226-271) that is exactly
Spark's late-data problem. Here:

- frames       -> groupBy(window(ts, delta))
- late inserts -> withWatermark: Spark updates-or-drops per watermark
                  instead of splicing a linked list
- tx batching  -> micro-batch trigger; sinks via foreachBatch

``streaming_frame_counts_from_parquet`` runs the same aggregation a
batch query would, as a stream with Trigger.AvailableNow, and returns
the final result — used by the parity query `q_stream_tumbling` to
prove batch/stream equivalence on identical input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.streaming.drain import bounded_drain


def stream_tumbling_counts(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    slide_seconds: int | None = None,
) -> DataFrame:
    """Streaming windowed aggregation (works on batch DFs too).

    Tumbling by default; pass slide_seconds < delta_seconds for a
    sliding (hopping) window — each event then lands in
    delta/slide windows (Spark expands via multiple window instances,
    state grows proportionally).

    Output: window_start (epoch s), n_events, n_users-approx-free
    sum over value. For a streaming input the watermark bounds state:
    windows older than (max event time - watermark) finalize and evict,
    which at 100 TB/day of events is what keeps state size ~O(windows
    in the watermark horizon), not O(history).
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(
        ts_col,
        f"{delta_seconds} seconds",
        f"{slide_seconds} seconds" if slide_seconds else f"{delta_seconds} seconds",
    )
    # value_sum goes through an exact decimal accumulator so batch,
    # stream, and the DuckDB oracle agree bit-for-bit regardless of
    # partial-aggregation order.
    return df.groupBy(win).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("value_sum"),
    ).select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "n_events",
        "value_sum",
    )


def stream_presence_dedup(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming distinct presence pairs: first sighting of each
    (frame_id, actor) — SURVEY.md §2.9 T4's 'dropDuplicates with
    watermark' realized with dropDuplicatesWithinWatermark, the
    loader's in-memory presence-set semantics
    (load_gexf_to_neo4j.py:163-164,193) with bounded state: keys evict
    once the watermark passes their event time, so state is O(pairs in
    the horizon), not O(all pairs ever). Rows emit on first sight
    (append mode needs no window finalization)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    keyed = df.select(
        F.col(ts_col),
        F.floor(F.unix_timestamp(ts_col) / delta_seconds).alias("frame_id"),
        F.col(user_col).alias("actor"),
    )
    dedup = (
        keyed.dropDuplicatesWithinWatermark(["frame_id", "actor"])
        if df.isStreaming
        else keyed.dropDuplicates(["frame_id", "actor"])
    )
    return dedup.select("frame_id", "actor")


def streaming_presence_from_parquet(
    spark: SparkSession,
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
) -> DataFrame:
    """Bounded-drain runner for stream_presence_dedup (AvailableNow,
    memory sink): drained output == batch distinct presence."""
    with bounded_drain(spark) as drain:
        dedup = stream_presence_dedup(drain.source(parquet_path, schema), delta_seconds)
        return drain.result(drain.run(dedup, "memory"))


def streaming_frame_counts_from_parquet(
    spark: SparkSession,
    parquet_path: str,
    schema,  # noqa: ANN001 — StructType of the batch-read table
    delta_seconds: int = 3600,
    slide_seconds: int | None = None,
) -> DataFrame:
    """Run the tumbling count as a bounded stream and return the result.

    Uses Trigger.AvailableNow so the stream drains all existing files
    and stops — deterministic, suitable for differential testing
    against the batch plan (and the DuckDB oracle).
    """
    with bounded_drain(spark) as drain:
        agg = stream_tumbling_counts(
            drain.source(parquet_path, schema), delta_seconds, slide_seconds=slide_seconds
        )
        return drain.result(drain.run(agg, "memory", "complete"))
