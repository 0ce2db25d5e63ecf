"""Streaming Count-Min sketch: mergeable frequency counters at the edge.

The batch CMS (operators/sketch.py cms_table) reduces a token stream to
a d x w counter table in one sketch-sized shuffle. Continuous ingestion
wants the incremental form: maintain those counters as document batches
stream in, so heavy-hitter frequency estimates are readable at any time
without rescanning history.

Exactly-once follows corpus_stats' protocol, not KMV's: CMS counters
are ADDITIVE, so foreachBatch re-delivery would double-count. Each
micro-batch's partial counter table (the batch cms_table over its
tokens) therefore goes to a by-batch DimensionStore — a re-delivered
batch OVERWRITES its own cells — and the readable sketch is the sum
over batch partials. Integer counter
sums are associative/commutative over any micro-batch chopping, so the
drained sketch equals the batch cms_table BIT-FOR-BIT, and probing it
with operators.sketch.cms_probe reproduces q_cms_freq's estimates
exactly (same DuckDB oracle).

State is O(batches x d x w) cells — sketch-sized per batch, never
corpus-sized; compact old batches into one summed row set whenever
batch count ever matters.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.sketch import cms_table
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_cms_table(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    d: int = 4,
    w: int = 1024,
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the incremental CMS;
    return the summed (r, c, cnt) counter table — equal to the batch
    cms_table over the same corpus bit-for-bit.

    Per-batch work IS the batch operator: cms_table over the batch's
    tokens, whose map-side combine collapses to <= d*w cells before
    the commit.

    ``store_root=None`` is an EPHEMERAL drain: state, checkpoint and
    stage share one temp root deleted after the result materializes.
    Pass a persistent ``store_root`` to get true incremental
    semantics — the checkpoint lives inside it, so re-invoking only
    processes files arrived since the last drain.
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(spark, drain.root, by_batch=True)
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        def cms_batch(batch_df: DataFrame, batch_id: int) -> None:
            occ = batch_df.select(
                F.explode(dfn.tokens(F.col(text_col))).alias("token")
            )
            store.merge(cms_table(occ, d, w), batch_id)

        drain.run(stream, cms_batch)
        state = store.read()
        if state is None:
            out = spark.createDataFrame([], "r int, c bigint, cnt bigint")
        else:
            out = state.groupBy("r", "c").agg(
                F.sum("cnt").cast("long").alias("cnt")
            )
        return drain.result(out)
