"""Memory-sink lifecycle for bounded drains.

Every bounded-drain runner (Trigger.AvailableNow + memory sink) used to
return ``spark.table(sink_name)`` with a fresh uuid-suffixed sink per
call and NEVER drop it — each invocation parked a full result copy in
the driver heap forever. Repeated drains of a large result (the bench
protocol runs every query N=10 times; q_stream_edges at sf0.1 is
millions of rows) accumulated until the JVM OOMed.

``snapshot_and_drop`` fixes the lifecycle: snapshot the sink's rows
into checkpointed RDD blocks (MEMORY_AND_DISK — evictable, spillable,
and freed by the ContextCleaner once the returned DataFrame goes out
of scope), then drop the memory-sink temp view so the sink's row
buffer is unreachable as soon as the terminated query object is
collected. Net: at most ONE live copy per drain, reclaimed when the
caller drops the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize


def snapshot_and_drop(spark: SparkSession, sink_name: str) -> DataFrame:
    """Materialize a terminated memory sink and release it.

    Returns a DataFrame backed by checkpointed blocks, independent of
    the catalog entry (safe to use after the view is gone).

    Right-sized for SMALL drained results (windowed aggregates,
    session summaries): the memory sink buffers every row in the
    driver heap. Large-output drains (the co-presence edge sets —
    millions of rows per run, unbounded at 100 TB) must use
    :func:`drain_stream_to_parquet` instead, which never routes data
    through the driver.
    """
    out = materialize(spark.table(sink_name))
    spark.catalog.dropTempView(sink_name)
    return out


def drain_stream_to_parquet(
    stream_df: DataFrame,
    prefix: str,
    base_dir: str | None = None,
    restarts: int = 0,
) -> DataFrame:
    """Bounded drain through a DISTRIBUTED file sink.

    ``restarts``: number of additional AvailableNow runs against the
    SAME checkpoint after the first terminates — the escape hatch for
    deep stateful chains. Watermark propagation takes one no-data
    batch per stateful operator, and an AvailableNow run stops once
    the source is exhausted and no further batch makes progress; a
    chain deep enough can leave final windows in state, and a
    checkpoint-preserving restart runs the extra finalization batches
    (cheap: no source data, state-store catch-up only). The join→agg
    chains in this repo finalize without restarts once every stream
    branch observes the end-of-stream sentinel (see
    edges._stage_with_sentinel's ``type_values``).

    Runs ``stream_df`` (append-mode streaming plan) to completion with
    Trigger.AvailableNow into a parquet directory and returns the
    batch DataFrame reading it back. Unlike the memory sink, rows go
    executor -> files -> executor: the driver never holds the result,
    so drain size is bounded by storage, not driver heap — the only
    drain shape that survives a 100 TB stream.

    ``base_dir`` is where the sink and checkpoint directories are
    created. On a multi-node cluster it MUST be a path on a SHARED
    filesystem visible to every executor (HDFS/S3A/NFS) — executors
    write the sink files, the driver-side read-back lists them, and a
    node-local path would scatter the files across machines. The
    default (``None`` -> ``tempfile.mkdtemp()``) is the local-mode
    convenience only, where driver and executors share one disk.
    """
    import tempfile

    if base_dir is None:
        out_dir = tempfile.mkdtemp(prefix=f"dynagraph_{prefix}_out_")
        ckpt = tempfile.mkdtemp(prefix="dynagraph_ckpt_")
    else:
        import uuid

        run = uuid.uuid4().hex[:12]
        out_dir = f"{base_dir.rstrip('/')}/dynagraph_{prefix}_out_{run}"
        ckpt = f"{base_dir.rstrip('/')}/dynagraph_{prefix}_ckpt_{run}"
    for _ in range(1 + restarts):
        query = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # explicit schema: an all-empty drain leaves no files to infer from
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(out_dir)
