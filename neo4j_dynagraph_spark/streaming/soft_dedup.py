"""Streaming soft deduplication: reweight-don't-remove at the ingest
edge.

The batch q_soft_dedup weights every doc by 1/|exact-content group|
and reports per-source effective document/token mass. Like the
mixture twins, NOTHING can finalize mid-stream: a duplicate arriving
in batch 9 shrinks the weight of every copy ingested since batch 0.
The drained state is therefore the per-doc FINGERPRINT table —
(batch_id, doc_id, source, h, ws), the ~40-byte content digest +
token count, never the text — kept in a batch_id-keyed BatchRowStore
(replay replaces its own rows, the commit-order contract). Group
sizes and the integer-grid weight arithmetic are late-bound at read
time through the SAME shared core as the batch operator
(operators/dedup.py soft_dedup_from_fingerprints), so the drained
report is bit-equal to batch q_soft_dedup under any chopping and
graded on ITS oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.dedup import (
    soft_dedup_fingerprints,
    soft_dedup_from_fingerprints,
)
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.training_mix import BatchRowStore


def stream_soft_dedup(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream into the per-doc fingerprint
    store; return the per-source effective-mass report — bit-equal to
    batch ``soft_dedup`` over the same corpus under any micro-batch
    chopping (same oracle).

    ``store_root=None`` drains ephemerally; a persistent root keeps
    its checkpoint so re-invocations ingest only new files.
    """
    with bounded_drain(spark, store_root) as drain:
        fp_store = BatchRowStore(
            spark, drain.path("fp"), ["batch_id", "doc_id"]
        )
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        def fp_batch(batch_df: DataFrame, batch_id: int) -> None:
            fp_store.merge(
                soft_dedup_fingerprints(batch_df, text_col).select(
                    F.lit(batch_id).cast("long").alias("batch_id"), "*"
                )
            )

        drain.run(stream, fp_batch)

        state = fp_store.read()
        if state is None:
            out = spark.createDataFrame(
                [],
                "source string, n_docs bigint, dup_docs bigint, "
                "effective_docs double, effective_tokens double",
            )
            return drain.result(out)
        return drain.result(
            soft_dedup_from_fingerprints(
                state.select("doc_id", "source", "h", "ws")
            )
        )
