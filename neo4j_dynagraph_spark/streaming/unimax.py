"""Streaming UniMax mixture re-estimation: epoch-capped allocation at
the ingest edge.

The batch q_unimax_mix waterfills a token budget over the FINAL
per-source token totals. Like the temperature and DoReMi twins,
nothing can finalize mid-stream — every arriving batch shifts every
source's total, which can move the capped-prefix boundary and every
allocation. Unlike the temperature twin (which must keep the full
(doc_id, source) catalog because its keep decision is per-doc), the
UniMax terminal needs only per-source TOTALS, so the drained state is
per-batch per-source count PARTIALS (|sources| rows per batch,
batch_id-keyed — replay replaces its own rows, the commit-order
contract of the store protocol). Integer partial sums are exactly the
batch aggregate under any chopping, so the read-time waterfill
(operators/text.py unimax_from_counts, the shared core) is bit-equal
to batch q_unimax_mix and graded on ITS oracle.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.text import (
    token_counts,
    unimax_from_counts,
)
from neo4j_dynagraph_spark.streaming.staging import (
    cleanup_on_error,
    drain_dirs,
    finalize_drain,
    stage_single_file,
)
from neo4j_dynagraph_spark.streaming.training_mix import BatchRowStore


@cleanup_on_error
def stream_unimax_mix(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    epoch_cap: int = 1,
    budget_num: int = 95,
    budget_den: int = 100,
    source_col: str = "source",
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream into per-batch per-source token
    count partials; return the UniMax allocation table — equal to the
    batch unimax_mix bit-for-bit (see module docstring).

    ``store_root=None`` drains ephemerally; a persistent
    ``store_root`` keeps its checkpoint inside it so re-invocations
    ingest only new files.
    """
    store_root, ckpt, src_stage, eph = drain_dirs(
        store_root, "dynagraph_unimax_"
    )
    counts = BatchRowStore(
        spark,
        os.path.join(store_root, "counts"),
        ["batch_id", "source"],
    )
    docs_path = stage_single_file(docs_path, into=src_stage)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_path)

    def counts_batch(batch_df: DataFrame, batch_id: int) -> None:
        # text_col passes through to the tokenizer so the twin tracks
        # batch unimax_mix's full signature (r12 advice)
        part = (
            token_counts(batch_df, text_col)
            .join(
                batch_df.select(
                    "doc_id", F.col(source_col).alias("source")
                ),
                "doc_id",
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("ws_tokens").cast("long").alias("n_tokens"),
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "source",
                "n_docs",
                "n_tokens",
            )
        )
        counts.merge(part)

    q = (
        stream.writeStream.foreachBatch(counts_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state = counts.read()
    if state is None:
        out = spark.createDataFrame(
            [],
            "source string, n_docs bigint, n_tokens bigint, "
            "capped boolean, alloc_tokens double, epochs double, "
            "weight double",
        )
    else:
        per = (
            state.groupBy("source")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
            .transform(materialize)
        )
        out = unimax_from_counts(per, epoch_cap, budget_num, budget_den)
    return finalize_drain(out, eph)
