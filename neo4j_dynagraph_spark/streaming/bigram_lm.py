"""Streaming LM-count maintenance: the bigram perplexity filter's
train counts kept incrementally under document ingest.

The batch q_bigram_ppl trains bigram/context counts on the reference
source and scores the whole corpus. A curation service ingests
documents continuously and wants the CURRENT per-source perplexity
signal without retraining from scratch. Three stores make that exact:

- count partials (BatchRowStore, keyed batch_id + group): a batch's
  reference-source bigram pairs collapse to (v, w, c) / (v, c)
  partials before the commit — additive counters, replay replaces
  the same batch_id's rows (exactly-once), the q_stream_cms class.
- vocab (DimensionStore set-union, idempotent).
- the document rows themselves (batch_id-keyed) — corpus-sized BY
  DESIGN: scoring is over all docs, exactly like the batch query; a
  doc arriving in batch 5 is scored at read time under counts that
  include reference docs from batches 0-4 AND 6+ (training counts
  are corpus-final, not prefix — the same "late arrival must see
  everything" contract as the training-mix decontamination index).

Read-time: sum the count partials, then run the IDENTICAL shared
scoring pipeline (operators.text.bigram_score) the batch operator
uses — sums of integer partials equal the batch counts whatever the
chopping, so the drained output is bit-equal to batch q_bigram_ppl
and graded by its oracle.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.text import bigram_pairs, bigram_score
from neo4j_dynagraph_spark.streaming.staging import (
    cleanup_on_error,
    drain_dirs,
    finalize_drain,
    stage_single_file,
)
from neo4j_dynagraph_spark.streaming.training_mix import BatchRowStore
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


@cleanup_on_error
def stream_bigram_ppl(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    train_source: str = "src0",
    alpha: float = 0.5,
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the incremental bigram-LM
    count stores; return the per-source perplexity table — bit-equal
    to batch ``bigram_ppl`` over the same corpus under any micro-batch
    chopping (same oracle).

    ``store_root=None`` drains ephemerally; a persistent root keeps
    its checkpoint so re-invocations ingest only new files.
    """
    (doc_store, vocab_store, cb_store, cu_store), eph = _drain_counts(
        spark, docs_path, schema, train_source, text_col,
        store_root, max_files_per_trigger,
    )
    docs_state = doc_store.read()
    if docs_state is None:
        out = spark.createDataFrame(
            [],
            "source string, n_docs bigint, mean_logprob double, "
            "mean_ppl double",
        )
        return finalize_drain(out, eph)
    pr, vocab, cb, cu = _read_lm_state(
        spark, docs_state, vocab_store, cb_store, cu_store, text_col
    )
    return finalize_drain(bigram_score(pr, vocab, cb, cu, alpha), eph)


def _drain_counts(
    spark, docs_path, schema, train_source, text_col,
    store_root, max_files_per_trigger,
):  # noqa: ANN001
    """Run the incremental bigram-LM count drain (doc / vocab / bigram
    / context stores) and return the stores plus the ephemeral-root
    handle — the stateful half shared by the perplexity and
    domain-weight streaming terminals."""
    store_root, ckpt, src_stage, eph = drain_dirs(
        store_root, "dynagraph_bigram_"
    )
    cb_store = BatchRowStore(
        spark, os.path.join(store_root, "cb"), ["batch_id", "v", "w"]
    )
    cu_store = BatchRowStore(
        spark, os.path.join(store_root, "cu"), ["batch_id", "v"]
    )
    vocab_store = DimensionStore(
        spark, os.path.join(store_root, "vocab"), ["tok"]
    )
    doc_store = BatchRowStore(
        spark, os.path.join(store_root, "docs"), ["batch_id", "doc_id"]
    )

    docs_path = stage_single_file(docs_path, into=src_stage)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_path)

    def count_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "source", text_col).transform(materialize)
        doc_store.merge(
            docs.select(
                F.lit(batch_id).cast("long").alias("batch_id"), "*"
            )
        )
        tr = bigram_pairs(docs, text_col).where(
            F.col("source") == train_source
        )
        bid = F.lit(batch_id).cast("long").alias("batch_id")
        cb_store.merge(
            tr.groupBy("v", "w")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(bid, "v", "w", "c")
        )
        cu_store.merge(
            tr.groupBy("v")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(bid, "v", "c")
        )
        vocab_store.merge(tr.select(F.col("w").alias("tok")))

    q = (
        stream.writeStream.foreachBatch(count_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (doc_store, vocab_store, cb_store, cu_store), eph


@cleanup_on_error
def stream_domain_weights(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    train_source: str = "src0",
    eta: float = 1.0,
    smooth: float = 0.2,
    alpha: float = 0.5,
    text_col: str = "text",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING DoReMi mixture re-estimation: the same incremental
    count drain as :func:`stream_bigram_ppl` (every store idempotent
    or batch_id-keyed — the commit-order contract), with the
    domain-weight arithmetic as the read-time terminal. Every arriving
    batch shifts every domain's token share, excess NLL, and weight —
    late-bound mixture design by construction — and the drained table
    is bit-equal to batch ``domain_weights`` over the same corpus
    under any micro-batch chopping (graded on ITS oracle)."""
    from neo4j_dynagraph_spark.operators.text import (
        bigram_doc_scores,
        domain_weights_from_scores,
    )

    (doc_store, vocab_store, cb_store, cu_store), eph = _drain_counts(
        spark, docs_path, schema, train_source, text_col,
        store_root, max_files_per_trigger,
    )
    docs_state = doc_store.read()
    if docs_state is None:
        out = spark.createDataFrame(
            [],
            "source string, n_docs bigint, token_share double, "
            "excess_nll double, weight double",
        )
        return finalize_drain(out, eph)
    pr, vocab, cb, cu = _read_lm_state(
        spark, docs_state, vocab_store, cb_store, cu_store, text_col
    )
    per_doc = bigram_doc_scores(pr, vocab, cb, cu, alpha)
    return finalize_drain(
        domain_weights_from_scores(per_doc, train_source, eta, smooth), eph
    )


def _read_lm_state(
    spark, docs_state, vocab_store, cb_store, cu_store, text_col
):  # noqa: ANN001
    """Assemble the (pr, vocab, cb, cu) scoring inputs from the
    drained stores — shared by the perplexity and domain-weight
    read-time terminals."""
    vocab = vocab_store.read()
    if vocab is None:
        vocab = spark.createDataFrame([], "tok string")
    cb_state = cb_store.read()
    cb = (
        cb_state.groupBy("v", "w").agg(F.sum("c").alias("cb"))
        if cb_state is not None
        else spark.createDataFrame([], "v string, w string, cb long")
    )
    cu_state = cu_store.read()
    cu = (
        cu_state.groupBy("v").agg(F.sum("c").alias("cu"))
        if cu_state is not None
        else spark.createDataFrame([], "v string, cu long")
    )
    pr = bigram_pairs(
        docs_state.select("doc_id", "source", text_col), text_col
    )
    return pr, vocab, cb, cu
