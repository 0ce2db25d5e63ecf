"""Streaming training-mix capstone: the full curation pipeline at the
ingest edge.

The batch capstone (queries_ext/curate.py q_training_mix) composes
exact dedup -> quality gate -> benchmark decontamination -> sequence
packing as one lazy plan over a finished corpus. A crawl doesn't have
a finished corpus — documents arrive in micro-batches, and every stage
has a cross-batch dependency:

- DEDUP: the min-doc_id survivor for a content hash may arrive in any
  batch — per content hash, MIN(doc_id) is a lattice (idempotent,
  commutative, associative), so the store keeps the running min and
  re-delivered batches are absorbed.
- QUALITY: purely per-document — each batch's text_stats projection is
  committed keyed by batch_id (a doc lives in exactly one batch, so a
  re-delivered batch OVERWRITES its own rows; corpus_stats' protocol).
- DECONTAMINATION is the genuinely hard one: a benchmark doc arriving
  in batch 7 contaminates a training doc from batch 2. Exactness
  therefore requires remembering the training 4-gram index — the
  store ingests each batch's distinct train (doc_id, gh) pairs keyed
  by batch_id, and the bench gh set as a union lattice. The index is
  corpus-sized BY NECESSITY (late bench arrivals must see every
  earlier train doc); it is the same n-gram stream the batch pipeline
  computes and throws away, persisted instead — the honest cost of
  exact streaming decontamination (hence q_bloom_decontam /
  minhash_decontaminate for the constant-space approximate tier).
- PACKING is a global order-dependent prefix sum — not incremental.
  It runs at READ time over the stored per-doc token counts (the cms
  "assemble at read" pattern), via the shared pack_token_counts core,
  never touching document text again.

Because every stage's state is mergeable-exact, the drained result
equals the batch q_training_mix BIT-FOR-BIT under any micro-batch
chopping — the same DuckDB oracle grades both.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.text import (
    pack_token_counts,
    text_stats,
)
from neo4j_dynagraph_spark.streaming.corpus_stats import CounterStore
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


class MinIdStore(DimensionStore):
    """content_hash -> running MIN(doc_id): the exact-dedup survivor
    lattice. Min is idempotent/commutative/associative, so replays and
    arbitrary batch chopping converge to the batch groupBy-min."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        super().__init__(spark, root, ["content_hash", "doc_id"])

    def merge(self, batch: DataFrame) -> None:
        new = batch.select("content_hash", "doc_id")
        existing = self.read()
        merged = new if existing is None else existing.unionByName(new)
        self._commit(
            merged.groupBy("content_hash").agg(
                F.min("doc_id").alias("doc_id")
            )
        )


class BatchRowStore(CounterStore):
    """Per-batch row partials keyed by batch_id (replace-on-batch_id
    merge inherited from CounterStore): exactly-once for projections
    where each document belongs to exactly one batch."""

    def __init__(
        self, spark: SparkSession, root: str, key_cols: list[str]
    ) -> None:
        DimensionStore.__init__(self, spark, root, key_cols)


def stream_training_mix(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    seq_len: int = 128,
    min_tokens: int = 30,
    min_ttr: float = 0.35,
    ngram: int = 4,
    bench_mod: int = 97,
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the incremental curation
    stores, then assemble the packed training index — equal to the
    batch q_training_mix bit-for-bit (see module docstring for why
    each stage's state is mergeable-exact).

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes — note the result is the data-sized packed
    index, localCheckpoint'ed to executor storage); a persistent
    ``store_root`` keeps its checkpoint inside it so re-invocations
    ingest only new files and re-assemble.
    """
    with bounded_drain(spark, store_root) as drain:
        dedup_store = MinIdStore(spark, drain.path("dedup"))
        stats_store = BatchRowStore(
            spark,
            drain.path("stats"),
            ["batch_id", "doc_id", "n_tokens", "ttr"],
        )
        tgram_store = BatchRowStore(
            spark,
            drain.path("train_grams"),
            ["batch_id", "doc_id", "gh"],
        )
        bgram_store = DimensionStore(
            spark, drain.path("bench_grams"), ["gh"]
        )

        stream = drain.source(docs_path, schema, max_files_per_trigger)

        gram = F.expr(
            f"transform(sequence(0, size(t) - {ngram}), "
            f"i -> concat_ws(' ', slice(t, i + 1, {ngram})))"
        )

        def mix_batch(batch_df: DataFrame, batch_id: int) -> None:
            from concurrent.futures import ThreadPoolExecutor

            bid = F.lit(batch_id).cast("long").alias("batch_id")
            # the batch's text is tokenized/hashed by BOTH gram commits
            # (train split + bench split) — checkpoint the per-batch gram
            # table once (r13)
            toked = batch_df.select(
                "doc_id", dfn.tokens(F.col("text")).alias("t")
            ).where(F.size("t") >= ngram)
            grams = (
                toked.select("doc_id", F.explode(gram).alias("g"))
                .select("doc_id", dfn.hash64(F.col("g")).alias("gh"))
                .distinct()
                .transform(materialize)
            )
            # the four store commits are independent of each other — run
            # them as concurrent jobs so each commit's write tail
            # back-fills the others' idle cores (guide §2.6 'overlap
            # independent jobs'); each store owns its own directory, so
            # the commits share no mutable state
            tasks = [
                # stage 1 — dedup lattice: batch-local min per hash + merge
                lambda: dedup_store.merge(
                    batch_df.select(
                        F.md5("text").alias("content_hash"), "doc_id"
                    ).groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
                ),
                # stage 2 — per-doc quality stats (the batch pipeline's
                # exact text_stats projection, so the rounded ttr gate
                # matches)
                lambda: stats_store.merge(
                    text_stats(batch_df).select(bid, "doc_id", "n_tokens", "ttr")
                ),
                # stage 3 — n-gram split: train pairs keyed by batch,
                # bench hashes as a set-union lattice
                lambda: tgram_store.merge(
                    grams.where(F.col("doc_id") % bench_mod != 0).select(
                        bid, "doc_id", "gh"
                    )
                ),
                lambda: bgram_store.merge(
                    grams.where(F.col("doc_id") % bench_mod == 0).select("gh")
                ),
            ]
            with ThreadPoolExecutor(max_workers=4) as pool:
                for f in [pool.submit(t) for t in tasks]:
                    f.result()

        drain.run(stream, mix_batch)

        # read-time assembly: identical set algebra to the batch capstone,
        # over the drained stores instead of the raw corpus
        empty = spark.createDataFrame(
            [], "seq_id bigint, doc_id long, seg_off bigint, seg_len bigint"
        )
        survivors = dedup_store.read()
        stats = stats_store.read()
        if survivors is None or stats is None:
            return drain.result(empty)
        keep = survivors.select("doc_id")
        good = (
            stats.where(
                (F.col("n_tokens") >= min_tokens) & (F.col("ttr") >= min_ttr)
            )
            .select("doc_id", F.col("n_tokens").alias("n_tok"))
            .join(keep, "doc_id")
            .where(F.col("doc_id") % bench_mod != 0)
        )
        tgrams, bgrams = tgram_store.read(), bgram_store.read()
        if tgrams is not None and bgrams is not None:
            contam = (
                tgrams.join(F.broadcast(bgrams), "gh")
                .select("doc_id")
                .distinct()
            )
            good = good.join(contam, "doc_id", "left_anti")
        out = pack_token_counts(
            good.select("doc_id", "n_tok"), seq_len=seq_len
        )
        return drain.result(out)
