"""Streaming two-relation interval-overlap join.

The batch form (operators/intervals.py:interval_overlap_join) buckets
both relations and equi-joins on the bucket. The streaming form maps
onto Spark's native watermarked stream-stream join with a TIME-RANGE
condition instead: two event streams carry [t, t+spell) intervals, and
`[a.t1, a.t2) overlaps [b.t1, b.t2)` for equal-length spells reduces to
`|a.t - b.t| < spell` — exactly the `leftTime BETWEEN rightTime +/-
interval` shape Structured Streaming derives state-eviction bounds
from (each side's state is bounded by watermark + spell horizon, no
unbounded buffering). The overlap pairs then feed a chained windowed
aggregation keyed by the right-side event, finalized in append mode
once the watermark passes the window — the same two-stateful-operator
chain as streaming/edges.py:stream_frame_edges.

Drained with Trigger.AvailableNow, the result must equal the batch
q_campaign_overlap aggregate — the oracle IS the batch SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from neo4j_dynagraph_spark.streaming.drain import bounded_drain


def stream_interval_overlap(
    events: DataFrame,
    left_type: str = "signup",
    right_type: str = "purchase",
    spell_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """events stream -> per-right-event overlap aggregate
    (e2, n_overlaps, sum_overlap_s) of left-type spells concurrently
    open during each right-type spell.

    Join condition is the raw time-range predicate (strict both ways,
    matching the batch operator's half-open [t, t+spell) semantics);
    overlap seconds for equal-length spells are spell - |t_l - t_r|.
    The downstream aggregate groups by (window(t_r), e2): each right
    event lies in exactly one window, so the window column only
    provides the event-time finalization bound and is dropped from
    the output.
    """
    # watermark BEFORE the type filters: both branches then observe
    # every event (including the end-of-stream sentinel, whatever type
    # it happens to carry) at their watermark node, so neither side's
    # watermark can stall on a type the sentinel doesn't match
    base = events.select("event_id", "user_id", "ts", "event_type").withWatermark(
        "ts", watermark
    )
    # Structured Streaming rejects stream-stream joins with no equality
    # predicate, so the batch operator's bucket design transplants
    # directly: replicate each interval into the <= 2 spell-width
    # buckets it touches and equi-join on the bucket — the equality key
    # ALSO hash-partitions join state, while the explicit time-range
    # predicates below (on the watermarked columns) give Spark the
    # state-eviction bound
    def bucketed(df: DataFrame, eid: str, t: str) -> DataFrame:
        es = F.col("ts").cast("long")
        return df.select(
            F.col("event_id").alias(eid),
            F.col("ts").alias(t),
            F.explode(
                F.sequence(
                    (es / spell_seconds).cast("long"),
                    ((es + spell_seconds - 1) / spell_seconds).cast("long"),
                )
            ).alias("_bucket"),
        )

    left = bucketed(base.where(F.col("event_type") == left_type), "e1", "t_l")
    right = bucketed(
        base.where(F.col("event_type") == right_type), "e2", "t_r"
    ).withColumnRenamed("_bucket", "_bucket_r")
    # spell semantics are defined on WHOLE-SECOND interval starts
    # (floor(epoch(ts)), matching the batch operator), so the exact
    # overlap predicate compares floored seconds; the raw-timestamp
    # range condition — which is what Spark derives state eviction
    # from — is widened by 1 s so it strictly contains every
    # floored-overlap pair (floor diff < spell ⇒ raw diff < spell+1)
    pairs = left.join(
        right,
        (F.col("_bucket") == F.col("_bucket_r"))
        & F.expr(
            f"t_l < t_r + INTERVAL {spell_seconds + 1} SECOND AND "
            f"t_r < t_l + INTERVAL {spell_seconds + 1} SECOND"
        )
        & (F.col("t_l").cast("long") < F.col("t_r").cast("long") + spell_seconds)
        & (F.col("t_r").cast("long") < F.col("t_l").cast("long") + spell_seconds)
        # first-shared-bucket: each overlapping pair exactly once, from
        # the bucket holding its overlap start (same trick as batch)
        & (
            F.col("_bucket")
            == (
                F.greatest(F.col("t_l"), F.col("t_r")).cast("long")
                / spell_seconds
            ).cast("long")
        ),
    )
    overlap = F.lit(spell_seconds) - F.abs(
        F.col("t_l").cast("long") - F.col("t_r").cast("long")
    )
    return (
        pairs.select(
            "e2", F.col("t_r"), overlap.alias("overlap_s")
        )
        .groupBy(F.window("t_r", f"{spell_seconds} seconds"), F.col("e2"))
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum("overlap_s").alias("sum_overlap_s"),
        )
        .select("e2", "n_overlaps", "sum_overlap_s")
    )


def stream_interval_overlap_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    spell_seconds: int = 1800,
) -> DataFrame:
    """Bounded-drain runner (Trigger.AvailableNow, distributed file
    sink): stage the input plus the end-of-stream sentinel, run the
    streaming interval join to completion, and return the finalized
    aggregate for differential testing against the batch operator."""
    # one sentinel per joined type: the per-branch event_type filters
    # get pushed below the watermark node, so each branch must see a
    # sentinel of its OWN type or its watermark stalls on its last
    # real event (staggered > spell apart so the sentinels can't pair)
    with bounded_drain(spark) as drain:
        stream = drain.source(
            parquet_path,
            schema,
            sentinel=("signup", "purchase"),
            stagger_seconds=max(3600, 2 * spell_seconds),
        )
        overlap = stream_interval_overlap(stream, spell_seconds=spell_seconds)
        return drain.result(drain.run(overlap, "parquet"))
