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
foreachBatch micro-batch commits, and a pruned subclass of the
versioned DimensionStore (atomic pointer flip) holding at most
k rows per group — O(k x groups) state forever, the whole point of a
sketch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.sketch import _TWO_60, kmv_estimate
from neo4j_dynagraph_spark.streaming.staging import (
    cleanup_on_error,
    drain_dirs,
    finalize_drain,
    stage_single_file,
)
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


class KMVStore(DimensionStore):
    """DimensionStore whose merge keeps only each group's k smallest
    hashes — union + prune, the KMV merge. Idempotent: re-merging a
    batch (or even a hash the prune already discarded) re-unions and
    re-prunes to the identical state."""

    def __init__(
        self, spark: SparkSession, root: str, group_col: str, k: int
    ) -> None:
        super().__init__(spark, root, [group_col, "u"])
        self.group_col = group_col
        self.k = k

    def merge(self, batch: DataFrame) -> None:
        new = batch.select(*self.key_cols).distinct()
        existing = self.read()
        merged = (
            new if existing is None else existing.unionByName(new).distinct()
        )
        # prune to k smallest per group: the window runs over at most
        # (k + batch candidates) rows per group — sketch-sized, never
        # corpus-sized
        w = Window.partitionBy(self.group_col).orderBy("u")
        pruned = (
            merged.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= self.k)
            .drop("_r")
        )
        self._commit(pruned)


@cleanup_on_error
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

    Per-batch work: hash, per-group distinct, batch-local prune to the
    k smallest (a window over the BATCH, bounded by trigger size),
    then the store's union-prune merge against O(k x groups) state.

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations are truly incremental.
    """
    store_root, ckpt, src_stage, eph = drain_dirs(
        store_root, "dynagraph_kmv_"
    )
    store = KMVStore(spark, store_root, group_col, k)

    # no sentinel needed — foreachBatch has no watermark to push
    events_path = stage_single_file(events_path, into=src_stage)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_path)

    u = (
        dfn.hash64(F.concat(F.lit(seed), F.col(value_col).cast("string"))) + 1
    ) / F.lit(_TWO_60)

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        vals = batch_df.select(F.col(group_col), u.alias("u")).distinct()
        w = Window.partitionBy(group_col).orderBy("u")
        candidates = (
            vals.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k)
            .drop("_r")
        )
        store.merge(candidates)

    q = (
        stream.writeStream.foreachBatch(sketch_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
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
    return finalize_drain(out, eph)
