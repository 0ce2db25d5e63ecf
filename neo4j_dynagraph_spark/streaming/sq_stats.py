"""Streaming scalar-quantization calibration: lattice merges at the edge.

The batch SQ8 calibration (operators/similarity.py sq_stats_row)
reduces the embedding corpus to per-dimension (min, max). A growing
corpus wants the incremental form: maintain the calibration as vector
batches stream in, so the quantizer's ranges are current at any time
and range DRIFT (new vectors outside the calibrated envelope, which
would clamp) is visible the batch it happens.

This completes the engine's mergeable-aggregate taxonomy at the
streaming edge: KMV merges by idempotent set-prune, CMS / corpus / rule
counters are ADDITIVE (exactly-once via batch_id-keyed overwrite), and
min/max are an idempotent LATTICE — re-merging any batch (foreachBatch
re-delivery) is absorbed by the lattice, so like KMV this store needs
NO batch keying: its DimensionStore merges by a per-key (min, max)
aggregate over the dimension index. min/max are associative,
commutative, and idempotent, so the drained calibration equals the
batch aggregate BIT-FOR-BIT under any micro-batch chopping or replay.

State is exactly d rows (the vector dimensionality) forever.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_sq_stats(
    spark: SparkSession,
    emb_path: str,
    schema,  # noqa: ANN001
    vec_col: str = "embedding",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an embeddings file-stream through the incremental SQ
    calibration; return the per-dimension (i, mn, mx) table — equal to
    the batch sq_stats_row's dimension aggregate bit-for-bit.

    Per-batch work mirrors the batch operator: one posexplode pass
    reduced map-side to d partial rows before the lattice merge.

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations are truly incremental.
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(
            spark, drain.root, ["i"],
            agg=[F.min("mn").alias("mn"), F.max("mx").alias("mx")],
        )
        stream = drain.source(emb_path, schema, max_files_per_trigger)

        def calib_batch(batch_df: DataFrame, batch_id: int) -> None:
            partial = (
                batch_df.select(
                    F.posexplode(
                        F.col(vec_col).cast("array<double>")
                    ).alias("i", "x")
                )
                .groupBy("i")
                .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            )
            store.merge(partial)

        drain.run(stream, calib_batch)
        state = store.read()
        if state is None:
            out = spark.createDataFrame([], "i int, mn double, mx double")
        else:
            out = state.orderBy("i")
        return drain.result(out)
