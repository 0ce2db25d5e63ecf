"""Incremental corpus statistics: mergeable counters at the ingest edge.

The batch BM25 scorer (operators/text.py:bm25_scores) reduces the
corpus to one stats row — N, avgdl, per-term df. Continuous ingestion
wants the incremental form: maintain those counters as document
batches stream in, so retrieval scoring can read current corpus stats
at any time without rescanning history. Counters are the textbook
mergeable aggregate (the same partial-agg protocol a 1000-executor
cluster runs across SPACE, applied across TIME).

Exactly-once the idempotent way: unlike KMV (whose union-prune merge
is natively idempotent), plain counters would DOUBLE-count on
foreachBatch re-delivery. So partial aggregates are committed keyed
by (batch_id, key) — a re-delivered batch OVERWRITES its own rows
instead of adding to them — and the readable stats are the sum over
batch rows. State is O(batches x terms): a few long counters per
micro-batch, never corpus-sized; compact old batches into one row
whenever that ever matters.

The drained stats equal the batch aggregate exactly (integer counter
sums are associative/commutative over any micro-batch chopping), so
the registry entry hash-matches the same DuckDB oracle shape the BM25
scorer replays.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore

_CORPUS_KEY = "#corpus"


class CounterStore(DimensionStore):
    """DimensionStore of per-batch partial-aggregate rows keyed by
    (batch_id, key). merge() REPLACES the incoming batch_id's rows —
    re-delivery of a micro-batch commits the identical partials over
    itself, which is what makes additive counters exactly-once."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        super().__init__(spark, root, ["batch_id", "key"])

    def merge(self, batch: DataFrame) -> None:
        existing = self.read()
        if existing is None:
            self._commit(batch)
            return
        bids = [r.batch_id for r in batch.select("batch_id").distinct().collect()]
        kept = existing.where(~F.col("batch_id").isin(bids))
        self._commit(kept.unionByName(batch))


def stream_corpus_stats(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    terms: list[str],
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the incremental
    corpus-stats store; return per-term rows (term, df, n_docs,
    avgdl) summed over all committed batch partials — equal to the
    batch aggregate bit-for-bit (integer counters).

    Per-batch work is the SAME narrow projection the batch BM25
    scorer uses (size/filter array expressions, no explode), reduced
    to |terms| + 1 partial rows before the commit.

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations are truly incremental.
    """
    from neo4j_dynagraph_spark import functions as dfn

    with bounded_drain(spark, store_root) as drain:
        store = CounterStore(spark, drain.root)
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        def stats_batch(batch_df: DataFrame, batch_id: int) -> None:
            toked = batch_df.select(dfn.tokens(F.col(text_col)).alias("t"))
            per_doc = toked.select(
                F.size("t").cast("long").alias("dl"),
                *[
                    # Column API (quote-safe for caller-supplied terms);
                    # single-arg lambda — a 2nd param would receive the
                    # array index. F.filter evaluates it eagerly per loop
                    # iteration, so the closure capture is correct.
                    (F.size(F.filter(F.col("t"), lambda x: x == F.lit(t))) > 0)
                    .cast("long")
                    .alias(f"hit{i}")
                    for i, t in enumerate(terms)
                ],
            )
            agg = per_doc.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("tok_sum"),
                *[
                    F.sum(f"hit{i}").cast("long").alias(f"df{i}")
                    for i in range(len(terms))
                ],
            )
            rows = agg.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.lit(_CORPUS_KEY).alias("key"),
                F.col("n_docs").alias("cnt_docs"),
                F.col("tok_sum").alias("cnt_toks"),
                F.lit(0).cast("long").alias("cnt_df"),
            )
            for i, t in enumerate(terms):
                rows = rows.unionByName(
                    agg.select(
                        F.lit(batch_id).cast("long").alias("batch_id"),
                        F.lit(t).alias("key"),
                        F.lit(0).cast("long").alias("cnt_docs"),
                        F.lit(0).cast("long").alias("cnt_toks"),
                        F.col(f"df{i}").alias("cnt_df"),
                    )
                )
            store.merge(rows)

        drain.run(stream, stats_batch)
        state = store.read()
        if state is None:
            return drain.result(
                spark.createDataFrame(
                    [], "term string, df bigint, n_docs bigint, avgdl double"
                )
            )
        corpus = state.where(F.col("key") == _CORPUS_KEY).agg(
            F.sum("cnt_docs").cast("long").alias("n_docs"),
            F.sum("cnt_toks").cast("long").alias("tok_sum"),
        )
        per_term = (
            state.where(F.col("key") != _CORPUS_KEY)
            .groupBy(F.col("key").alias("term"))
            .agg(F.sum("cnt_df").cast("long").alias("df"))
        )
        out = (
            per_term.crossJoin(F.broadcast(corpus))
            .select(
                "term",
                "df",
                "n_docs",
                F.round(
                    F.col("tok_sum") / F.col("n_docs").cast("double"), 6
                ).alias("avgdl"),
            )
            .orderBy("term")
        )
        return drain.result(out)
