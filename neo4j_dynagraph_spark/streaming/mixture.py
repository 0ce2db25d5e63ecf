"""Streaming mixture design: temperature-scaled source resampling at
the ingest edge.

The batch q_temperature_mix computes per-source keep rates from the
FINAL source shares (rate ∝ share^α / share, normalized), then flips
each doc's hash coin against its source's rate. Neither half can
finalize mid-stream: every arriving batch shifts every source's share,
which shifts every rate, which can flip keep decisions for docs that
arrived long ago — the same late-binding class as the training-mix
decontamination and the top-k index's late queries.

The mergeable-exact answer: ingest maintains only the (doc_id, source)
CATALOG (two narrow columns, keyed by batch_id — replay overwrites its
own rows; this is the projection any table catalog stores anyway), and
the summary assembles at READ time via the shared
temperature_mix_from_catalog core. Counts, shares, rates, and every
coin flip are order-free functions of the final catalog, so the
drained summary equals the batch operator bit-for-bit under any
micro-batch chopping — the same DuckDB oracle grades both.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.text import temperature_mix_from_catalog
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.training_mix import BatchRowStore


def stream_temperature_mix(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    alpha: float = 0.5,
    source_col: str = "source",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream into the (doc_id, source) catalog
    store; return the per-source mixture summary — equal to the batch
    temperature_mix bit-for-bit (see module docstring).

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations ingest only new files.
    """
    with bounded_drain(spark, store_root) as drain:
        catalog = BatchRowStore(
            spark,
            drain.path("catalog"),
            ["batch_id", "doc_id", "source"],
        )
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        def catalog_batch(batch_df: DataFrame, batch_id: int) -> None:
            catalog.merge(
                batch_df.select(
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    "doc_id",
                    F.col(source_col).alias("source"),
                )
            )

        drain.run(stream, catalog_batch)

        state = catalog.read()
        if state is None:
            out = spark.createDataFrame(
                [],
                "source string, n_docs bigint, share double, "
                "target_share double, keep_rate double, n_kept bigint",
            )
        else:
            out = temperature_mix_from_catalog(
                state.select("doc_id", "source"), alpha
            )
        return drain.result(out)
