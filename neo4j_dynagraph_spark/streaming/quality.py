"""Streaming quality-filter monitor: rule-pass counters at the edge.

The batch Gopher audit (q_gopher_rules) reduces the corpus to
per-source rule-failure counts. Production ingest wants the
incremental form: maintain those counters as document batches stream
in, so quality DRIFT — a source whose pass rate sags mid-crawl — is
readable at any time without rescanning history, and a regression
shows up batches (not a full recrawl) after it starts.

Exactly-once follows corpus_stats' protocol: rule counters are
ADDITIVE, so per-batch partials go to a by-batch DimensionStore — a
re-delivered batch overwrites its own batch_id's rows —
and the readable audit is the sum over batch partials. Integer
counter sums are associative/commutative over any micro-batch
chopping, so the drained audit equals the batch q_gopher_rules
aggregate BIT-FOR-BIT and the same DuckDB oracle grades it.

State is O(batches x sources) rows of 7 longs — never corpus-sized.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.text import gopher_rules
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore

_RULES = ("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep")


def stream_gopher_stats(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the incremental quality
    monitor; return per-source (n_docs, fail_* per rule, n_pass,
    pass_rate) summed over all committed batch partials — equal to the
    batch gopher_rules roll-up bit-for-bit.

    Per-batch work is the SAME map-side rule projection the batch
    audit uses (operators/text.py gopher_rules), reduced to |sources|
    partial rows before the commit.

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations are truly incremental.
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(spark, drain.root, by_batch=True)
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        def quality_batch(batch_df: DataFrame, batch_id: int) -> None:
            rules = gopher_rules(batch_df, text_col)
            partial = rules.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                *[
                    F.sum(F.when(~F.col(c), 1).otherwise(0))
                    .cast("long")
                    .alias(f"fail_{c[2:]}")
                    for c in _RULES
                ],
                F.sum(F.when(F.col("passed"), 1).otherwise(0))
                .cast("long")
                .alias("n_pass"),
            )
            store.merge(partial, batch_id)

        drain.run(stream, quality_batch)
        state = store.read()
        cols = ["n_docs"] + [f"fail_{c[2:]}" for c in _RULES] + ["n_pass"]
        if state is None:
            out = spark.createDataFrame(
                [],
                "source string, "
                + ", ".join(f"{c} bigint" for c in cols)
                + ", pass_rate double",
            )
        else:
            out = (
                state.groupBy("source")
                .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
                .withColumn(
                    "pass_rate",
                    F.round(F.col("n_pass") / F.col("n_docs").cast("double"), 6),
                )
                .orderBy("source")
            )
        return drain.result(out)
