"""Streaming co-presence edges.

The reference's FRAME_INTERACTION facts (load_gexf_to_neo4j.py:241-249)
are built in batch by pairing actors active in the same frame. Two
incremental forms live here:

- ``stream_frame_edges``: stream-stream self-join on TUMBLING-WINDOW
  EQUALITY. Joining on ``window(t, delta)`` — not on a derived
  frame-id column with a side time-bound — is the watermark-extractable
  form: the join key itself contains the event-time window, so Spark
  derives a key watermark and evicts each side's state as soon as the
  watermark passes a window. State is O(events in the watermark
  horizon) per side.

- ``stateful_frame_edges``: applyInPandasWithState keyed by frame.
  State is the per-frame actor->count map — O(actors in frame), NOT
  O(events) and never O(pairs); the k*(k-1)/2 pair expansion happens
  only at flush time, when the event-time timeout proves the frame
  complete. Carries the batch path's hot-frame guard
  (``max_actors_per_frame``, ingest.presence_to_frame_interactions):
  a frame exceeding the cap collapses its state to an overflow marker
  (O(1) from that point) and emits nothing — identical drop semantics
  to batch, so stream == batch holds guard-for-guard.

The ``*_from_parquet`` runners drain either form through one
``bounded_drain`` (streaming/drain.py): the input is staged with an
end-of-stream sentinel so the trailing frames finalize, the edges go
to a parquet sink (or, for the degree view, a pair store), and the
result is materialized before the temp root is deleted. Drained, both
forms must equal the batch ``presence_to_frame_interactions`` edge set:
q_stream_edges and q_stream_edges_stateful are graded by the batch SQL
oracle, and the hot-frame guard is differentially tested.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, BooleanType, LongType, StructField, StructType

from neo4j_dynagraph_spark.streaming.drain import bounded_drain


def stream_frame_edges(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """events stream -> (frame_id, actor1, actor2, weight) co-presence
    edges, weight = n_events(a1) * n_events(a2) exactly as the batch
    operator computes it (ingest.presence_to_frame_interactions).

    Implementation: self-join raw events on tumbling-window EQUALITY
    (epoch-aligned, so window start / delta == the batch frame_id),
    then aggregate pair multiplicities per window. The join emits one
    row per EVENT pair, so count(*) per (window, a1, a2) is already the
    product of per-actor event counts — the batch operator's n1*n2 —
    with no second join. The window struct in the join key gives Spark
    a key-watermark eviction bound; the chained windowed aggregation
    finalizes in append mode once the watermark passes the window.
    """
    w_expr = f"{delta_seconds} seconds"
    base = events.select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t")
    )
    left = (
        base.select(F.col("u").alias("u1"), F.col("t").alias("t1"))
        .withWatermark("t1", watermark)
        .select("u1", "t1", F.window("t1", w_expr).alias("w1"))
    )
    right = (
        base.select(F.col("u").alias("u2"), F.col("t").alias("t2"))
        .withWatermark("t2", watermark)
        .select("u2", "t2", F.window("t2", w_expr).alias("w2"))
    )
    pairs = left.join(
        right,
        (F.col("w1") == F.col("w2")) & (F.col("u1") < F.col("u2")),
    )
    return (
        pairs.groupBy(
            F.col("w1").alias("w"),
            F.col("u1").alias("actor1"),
            F.col("u2").alias("actor2"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            (F.col("w.start").cast("long") / delta_seconds)
            .cast("long")
            .alias("frame_id"),
            "actor1",
            "actor2",
            "weight",
        )
    )


EDGE_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("actor1", LongType()),
        StructField("actor2", LongType()),
        StructField("weight", LongType()),
    ]
)
# flush rows cross the Python->JVM boundary as ONE row per completed
# frame (sorted actor/count arrays); the quadratic pair expansion runs
# JVM-side (guide §4.1/§2.3: move metadata, not the payload, across the
# Python boundary — n*(n-1)/2 rows never pay Arrow serialization)
_FLUSH_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("actors", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)
_EDGE_STATE_SCHEMA = StructType(
    [
        StructField("actors", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("overflow", BooleanType()),
    ]
)


def stateful_frame_edges(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    max_actors_per_frame: int | None = None,
) -> DataFrame:
    """Streaming frame edges with O(actors-per-frame) state and the
    batch hot-frame guard.

    Keyed by frame_id; state is the frame's actor->count map, merged
    vectorized per micro-batch (pandas groupby, no per-row Python).
    When the event-time timeout fires (watermark past frame end), the
    frame is provably complete: emit all canonical pairs with
    weight = n1*n2 and drop the state. A frame whose DISTINCT actor
    count exceeds ``max_actors_per_frame`` becomes an O(1) overflow
    marker and emits nothing — byte-identical drop semantics to
    ingest.presence_to_frame_interactions(max_actors_per_frame=...),
    so one near-clique frame (stadium, bot storm) can neither blow up
    state nor dominate the flush shuffle.
    """
    import numpy as np
    import pandas as pd

    delta_ms = delta_seconds * 1000
    cap = max_actors_per_frame

    def fn(key, pdfs, state):  # noqa: ANN001
        (frame_id,) = key
        if state.hasTimedOut:
            actors, counts, overflow = state.get
            state.remove()
            if overflow or len(actors) < 2:
                yield pd.DataFrame(
                    {"frame_id": [], "actors": [], "counts": []}
                )
                return
            # ONE row per completed frame: the sorted actor/count
            # arrays. The n*(n-1)/2 canonical pair expansion used to
            # happen here (numpy triu) and flood the Python->JVM Arrow
            # boundary with millions of 32-byte rows; it now runs
            # JVM-side in the generator projection below, so only
            # O(actors-per-frame) values are serialized per frame
            a_arr = np.asarray(actors, dtype=np.int64)
            c_arr = np.asarray(counts, dtype=np.int64)
            order = np.argsort(a_arr)
            yield pd.DataFrame(
                {
                    "frame_id": [int(frame_id)],
                    "actors": [a_arr[order]],
                    "counts": [c_arr[order]],
                }
            )
            return

        if state.exists:
            actors, counts, overflow = state.get
        else:
            actors, counts, overflow = [], [], False

        if not overflow:
            merged = dict(zip(actors, counts))
            for pdf in pdfs:
                batch = pdf[user_col].value_counts()
                for actor, n in batch.items():
                    merged[int(actor)] = merged.get(int(actor), 0) + int(n)
            if cap is not None and len(merged) > cap:
                actors, counts, overflow = [], [], True
            else:
                actors = list(merged.keys())
                counts = [merged[a] for a in actors]
        else:
            for pdf in pdfs:
                pass  # overflowed: consume and discard, state stays O(1)

        state.update((actors, counts, overflow))
        # flush when the watermark proves the frame complete
        frame_end_ms = (int(frame_id) + 1) * delta_ms
        state.setTimeoutTimestamp(
            max(frame_end_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame({"frame_id": [], "actors": [], "counts": []})

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    flush = (
        df.select(
            (F.unix_timestamp(F.col(ts_col)) / delta_seconds)
            .cast("long")
            .alias("frame_id"),
            F.col(user_col),
            # the watermarked event-time column must survive the
            # projection or EventTimeTimeout has no watermark to track
            F.col(ts_col),
        )
        .groupBy("frame_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_FLUSH_SCHEMA,
            stateStructType=_EDGE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    # JVM-side canonical pair expansion over the sorted arrays: two
    # stateless whole-stage-codegen generators, identical output to the
    # old in-Python triu expansion (actors ascending => actor1 < actor2).
    # sequence(0, size-2) needs size >= 2 (Spark's sequence runs
    # DESCENDING for start > stop — a size-1 array would emit [0, -1]);
    # the Python side only ever yields frames with >= 2 actors, and the
    # where() keeps the invariant locally explicit.
    return (
        flush.where(F.size("actors") >= 2)
        .select(
            "frame_id",
            "actors",
            "counts",
            F.explode(F.expr("sequence(0, size(actors) - 2)")).alias("i"),
        )
        .select(
            "frame_id",
            F.expr("actors[i]").alias("actor1"),
            F.expr("counts[i]").alias("c1"),
            F.expr("slice(actors, i + 2, size(actors) - i - 1)").alias("a2s"),
            F.expr("slice(counts, i + 2, size(counts) - i - 1)").alias("c2s"),
        )
        .select(
            "frame_id",
            "actor1",
            F.posexplode("a2s").alias("p", "actor2"),
            "c1",
            "c2s",
        )
        .select(
            "frame_id",
            "actor1",
            "actor2",
            (F.col("c1") * F.expr("c2s[p]")).cast("long").alias("weight"),
        )
    )


def _drain_edges(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    build,  # noqa: ANN001 — stream -> edge stream
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    # edge sets grow quadratically with frame occupancy: the parquet
    # sink keeps them on executors, never in the driver
    with bounded_drain(spark) as drain:
        stream = drain.source(parquet_path, schema, max_files_per_trigger, sentinel=True)
        return drain.result(drain.run(build(stream), "parquet"))


def streaming_frame_edges_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
) -> DataFrame:
    """Bounded-drain runner for the join form: returns the finalized
    edge set for differential testing against the batch operator."""
    return _drain_edges(
        spark, parquet_path, schema, lambda s: stream_frame_edges(s, delta_seconds)
    )


def stateful_frame_edges_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
    max_actors_per_frame: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded-drain runner for the stateful (hot-frame-guarded) form.

    ``max_files_per_trigger`` caps files per micro-batch: pointed at a
    directory of time-ordered files with cap 1, a frame's actor map is
    forced to accumulate ACROSS micro-batches before its event-time
    timeout flushes it — the state-carry path the single-batch drain
    never exercises."""
    return _drain_edges(
        spark,
        parquet_path,
        schema,
        lambda s: stateful_frame_edges(
            s, delta_seconds, max_actors_per_frame=max_actors_per_frame
        ),
        max_files_per_trigger,
    )


def streaming_degree_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
) -> DataFrame:
    """Incrementally-maintained degree view (the streaming
    materialized-view pattern, T2+T4): the finalized co-presence edge
    stream of the stateful builder drains through foreachBatch into a
    versioned canonical-pair DIMENSION (DimensionStore merge-on-key —
    idempotent under micro-batch replay, atomic pointer-flip commits),
    and degree is a read of the materialized dimension: union of
    endpoints + count, exactly QUERY10's semantics. At scale the store
    is the incremental alternative to recomputing q10's full-history
    distinct: each micro-batch merges O(new pairs), not O(all pairs
    ever)."""
    from neo4j_dynagraph_spark.streaming.upsert import DimensionStore

    with bounded_drain(spark) as drain:
        stream = drain.source(parquet_path, schema, sentinel=True)
        store = DimensionStore(spark, drain.path("pairs"), ["actor1", "actor2"])

        def upsert(batch_df: DataFrame, batch_id: int) -> None:
            store.merge(batch_df.select("actor1", "actor2"))

        drain.run(stateful_frame_edges(stream, delta_seconds), upsert)
        pairs = store.read()
        if pairs is None:
            raise ValueError(f"no edges drained from {parquet_path}")
        ends = pairs.select(F.col("actor1").alias("actor")).unionByName(
            pairs.select(F.col("actor2").alias("actor"))
        )
        return drain.result(ends.groupBy("actor").agg(F.count(F.lit(1)).alias("degree")))
