"""Streaming KMV cardinality sketch: mergeable state at the ingest edge.

The batch KMV operator (operators/sketch.py) answers "how many
distinct users per type in THIS corpus". Continuous ingestion wants
the incremental form: maintain the k-minimum-values sketch as event
batches stream in, so the running distinct estimate is readable at any
time without rescanning history — the canonical mergeable-sketch
deployment (the same protocol a 1000-executor cluster uses to combine
per-partition sketches, applied across TIME instead of space).

Why this is exactly-equal to the batch result, not approximately:
KMV's merge IS "keep the k smallest of the union", which is
associative, commutative, and idempotent over sets of distinct
hashes. However the stream is chopped into micro-batches, the k
smallest distinct hashes of everything seen equal the batch
operator's k smallest — so the drained estimate hash-matches
q_kmv_distinct's DuckDB oracle bit-for-bit, and replays (foreachBatch
re-delivery) merge to the same state.

Built from the existing pieces: a file-streamed events source,
foreachBatch micro-batch commits, the batch sketch's hash
(operators/sketch.py kmv_hashes), and a keep-k DimensionStore (atomic
pointer flip) holding at most k rows per group — O(k x groups) state
forever, the whole point of a sketch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.sketch import kmv_estimate, kmv_hashes
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_kmv_distinct(
    spark: SparkSession,
    events_path: str,
    schema,  # noqa: ANN001
    group_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 64,
    seed: str = "kmv:",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an events file-stream through the incremental KMV sketch;
    return the per-group (n_seen, est_distinct) estimate read from the
    final sketch state — bit-identical to the batch
    operators.sketch.kmv_distinct on the same data.

    Per-batch work: kmv_distinct's hash and per-group distinct, a
    batch-local prune to the k smallest (the store's keep-k rule over
    the BATCH, bounded by trigger size), then the store's union-prune
    merge against O(k x groups) state.

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations are truly incremental.
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(
            spark, drain.root, [group_col, "u"], keep=k, order=["u"]
        )

        # no sentinel needed — foreachBatch has no watermark to push
        stream = drain.source(events_path, schema, max_files_per_trigger)

        def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
            hashes = kmv_hashes(batch_df, group_col, F.col(value_col), seed)
            store.merge(store.prune(hashes))

        drain.run(stream, sketch_batch)
        state = store.read()
        if state is None:  # empty stream: no groups
            # group column type comes from the INPUT schema — hardcoding
            # string would diverge from the non-empty result for
            # non-string group columns
            gtype = schema[group_col].dataType.simpleString()
            out = spark.createDataFrame(
                [], f"{group_col} {gtype}, n_seen bigint, est_distinct double"
            )
        else:
            out = kmv_estimate(state, group_col, k)
        return drain.result(out)
