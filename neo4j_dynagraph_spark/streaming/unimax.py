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

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.text import (
    token_counts,
    unimax_from_counts,
)
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


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
    with bounded_drain(spark, store_root) as drain:
        counts = DimensionStore(spark, drain.path("counts"), by_batch=True)
        stream = drain.source(docs_path, schema, max_files_per_trigger)

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
            )
            counts.merge(part, batch_id)

        drain.run(stream, counts_batch)

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
        return drain.result(out)
