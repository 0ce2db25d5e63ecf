"""Streaming retrieval-index maintenance: running exact top-k under
embedding ingest.

The batch q_embed_topk answers "top-k nearest corpus vectors per query"
over a finished corpus. A serving system ingests embeddings
continuously and wants the CURRENT top-k readable at any time without
rescoring history. Three stores make that exact:

- vectors: the corpus vectors, a by-batch store (replay overwrites
  its own batch_id's rows). Corpus-sized BY DESIGN — this IS the
  serving index; an ANN system stores its vectors.
- queries: query vectors seen so far (set union, idempotent).
- topk: per query, the running top-k (cid, sim_raw) — a keep-k
  PRUNED LATTICE like the KMV store: union the batch's candidate
  scores, drop duplicate (qid, cid) rows (scores are deterministic,
  so replayed rows are identical), keep the k best by (sim_raw DESC,
  cid). Associative/commutative/idempotent => the drained state
  equals the batch brute-force top-k under ANY micro-batch chopping.

The cross-batch hazard mirrors the training-mix decontamination: a
QUERY vector arriving in batch 3 must see candidates from batches
0-2. New queries therefore score ONCE against the stored corpus (the
only history rescan, amortized: it happens only in the batch where a
query first appears); existing queries score only the new batch.

Scoring stays JVM-side (zip_with/aggregate via the shared _DOT/_NORM
expressions); the query side broadcasts. Top-k pruning uses the FULL
double sim_raw (rounding only at read) so the order matches the batch
window's exactly, ties broken on cid.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.similarity import _DOT, _NORM
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def _scores(cand: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine of candidates x broadcast queries, qid != cid."""
    c = cand.select(
        F.col("vec_id").alias("cid"),
        F.col("v"),
        F.expr(_NORM.format(c="v")).alias("cn"),
    )
    q = queries.select(
        "qid", "qv", F.expr(_NORM.format(c="qv")).alias("qn")
    )
    sim = (F.expr(_DOT) / (F.col("qn") * F.col("cn"))).alias("sim_raw")
    return c.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid", "cid", sim
    )


def stream_embed_topk(
    spark: SparkSession,
    emb_path: str,
    schema,  # noqa: ANN001
    is_query,  # noqa: ANN001 — boolean Column over the embeddings
    k: int = 5,
    vec_col: str = "embedding",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an embeddings file-stream through the incremental top-k
    index; return (qid, rank, cid, sim) — equal to the batch
    brute_force_topk over the same corpus bit-for-bit (same oracle).

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations ingest only new files.
    """
    with bounded_drain(spark, store_root) as drain:
        vec_store = DimensionStore(spark, drain.path("vectors"), by_batch=True)
        # key_cols carry the vector too — DimensionStore.merge projects to
        # its key_cols, and the scorer needs (qid, qv) back from read()
        query_store = DimensionStore(
            spark, drain.path("queries"), ["qid", "qv"]
        )
        topk_store = DimensionStore(
            spark, drain.path("topk"), ["qid", "cid"], keep=k,
            order=[F.desc("sim_raw"), "cid"],
        )

        stream = drain.source(emb_path, schema, max_files_per_trigger)

        def topk_batch(batch_df: DataFrame, batch_id: int) -> None:
            vecs = batch_df.select(
                "vec_id",
                F.col(vec_col).cast("array<double>").alias("v"),
                is_query.alias("_q"),
            ).transform(materialize)
            # 1. the batch joins the index (replay overwrites its own rows)
            vec_store.merge(vecs.select("vec_id", "v"), batch_id)
            # 2. EXISTING queries score only the new candidates
            old_q = query_store.read()
            if old_q is not None:
                topk_store.merge(_scores(vecs, old_q))
            # 3. NEW queries score once against the FULL stored corpus
            #    (which already includes this batch) — the only history
            #    scan, paid only in the batch where a query first appears
            new_q = vecs.where(F.col("_q")).select(
                F.col("vec_id").alias("qid"), F.col("v").alias("qv")
            )
            if old_q is not None:
                new_q = new_q.join(old_q.select("qid"), "qid", "left_anti")
            new_q = new_q.transform(materialize)
            if new_q.count() > 0:
                corpus = vec_store.read().select("vec_id", "v")
                topk_store.merge(_scores(corpus, new_q))
                query_store.merge(new_q)

        drain.run(stream, topk_batch)

        state = topk_store.read()
        if state is None:
            out = spark.createDataFrame(
                [], "qid long, rank long, cid long, sim double"
            )
        else:
            w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
            out = (
                state.withColumn("rank", F.row_number().over(w).cast("long"))
                .select("qid", "rank", "cid", F.round("sim_raw", 6).alias("sim"))
                .orderBy("qid", "rank")
            )
        return drain.result(out)
