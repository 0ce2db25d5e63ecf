"""Streaming activity-burst monitor: incremental per-(frame, actor)
event counts, burst verdicts at read time.

The batch q_burst_windows flags frames where an actor's event count
sits >= 3 trailing-week standard deviations above their own baseline.
Continuous ingest wants the incremental form: maintain the per-frame
activity counters as event batches stream in, so "who is bursting
right now" is readable at any time without rescanning history.

The state is in the simplest mergeable class of the taxonomy
(streaming/quality.py, streaming/corpus_stats.py): per-(frame_id,
actor) event counts are ADDITIVE — an actor's events in one frame may
arrive split across micro-batches, so per-batch PARTIAL counts go to a
by-batch DimensionStore (a re-delivered batch overwrites its own
batch_id's rows — exactly-once) and the readable presence is
the SUM over batch partials. Integer sums are associative/commutative
over any chopping, so the drained presence — and therefore the burst
verdicts computed from it by the IDENTICAL pure function
operators.graph.burst_windows — equals the batch result bit-for-bit,
and the same DuckDB oracle grades it.

The burst z-score itself is NOT incrementally maintained: it is a
trailing-window rank statistic over the presence series, recomputed at
read time from the (frames x active actors)-sized count state — the
same read-time-finalization split as stream_training_mix's packing
(state holds the mergeable facts; the non-mergeable window pass runs
over state, never over raw history). State is O(batches x active
frame-actor pairs) partial rows of one long each; compact relative to
the raw event stream by the events-per-(frame, actor) multiplicity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.graph import burst_windows
from neo4j_dynagraph_spark.operators.ingest import DEFAULT_DELTA
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_burst_windows(
    spark: SparkSession,
    events_path: str,
    schema,  # noqa: ANN001
    delta: int = DEFAULT_DELTA,
    window: int = 168,
    min_obs: int = 8,
    z_thresh: float = 3.0,
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an events file-stream through the incremental presence
    counter; return the burst verdicts over the summed state —
    bit-equal to batch ``burst_windows(events_to_presence(events))``
    under any micro-batch chopping.

    Per-batch work is one map-side hash aggregate to (frame_id, actor)
    partials before the commit. ``store_root=None`` drains ephemerally
    (temp root deleted after the result materializes); a persistent
    ``store_root`` keeps its checkpoint inside it so re-invocations
    are truly incremental.
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(spark, drain.root, by_batch=True)
        stream = drain.source(events_path, schema, max_files_per_trigger)

        def count_batch(batch_df: DataFrame, batch_id: int) -> None:
            partial = (
                batch_df.select(
                    dfn.frame_id(
                        dfn.epoch_seconds(F.col("ts")), delta, 0
                    ).alias("frame_id"),
                    F.col("user_id").alias("actor"),
                )
                .groupBy("frame_id", "actor")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            )
            store.merge(partial, batch_id)

        drain.run(stream, count_batch)
        state = store.read()
        if state is None:
            out = spark.createDataFrame(
                [],
                "frame_id bigint, actor bigint, n_events bigint, "
                "n_obs bigint, z double",
            )
        else:
            presence = state.groupBy("frame_id", "actor").agg(
                F.sum("n_events").cast("long").alias("n_events")
            )
            out = burst_windows(
                presence, window=window, min_obs=min_obs, z_thresh=z_thresh
            )
        return drain.result(out)
