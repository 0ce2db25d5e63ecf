"""Incremental corpus deduplication: first-seen content-hash filter.

The batch exact-dedup operator (operators/dedup.py) answers "which
docs in THIS corpus are duplicates". Continuous ingestion needs the
incremental form: as document batches stream in, emit only docs whose
content hash has never been seen in ANY earlier batch, maintaining the
seen-hash set durably — the "have we seen this doc before" service a
100 TB crawl pipeline runs at the ingest edge.

Built from the existing pieces: a file-streamed documents source,
foreachBatch (micro-batch commits), and the versioned
:class:`~neo4j_dynagraph_spark.streaming.upsert.DimensionStore` as the
seen-hash set (atomic pointer flip, idempotent merge). Replay safety:
the per-batch output is written to a path keyed by batch_id with
overwrite, so a re-delivered batch overwrites its own output instead
of duplicating it, and the hash-set merge is a set union — both
operations idempotent, the foreachBatch exactly-once recipe.

Semantics: FIRST-SEEN wins (arrival order). When batches arrive in
doc_id order — as a backfill over sorted shards does — this equals the
batch operator's min-doc_id survivor rule, which is what lets the
DuckDB oracle verify the drained result exactly.

At scale the store read-back join is a broadcast while the seen-set is
dimension-sized; past that, swap the DimensionStore for a real table
format (Delta/Iceberg MERGE) — the protocol is unchanged.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_dedup_documents(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a documents file-stream through the first-seen filter.

    Returns the (doc_id, content_hash) docs first seen in THIS drain,
    read back from its per-batch output directories (``_out/<run>``
    under the drain root: a persistent root keeps every run's output).
    """
    with bounded_drain(spark, store_root) as drain:
        store = DimensionStore(spark, drain.root, ["content_hash"])
        out_dir = drain.path("_out", uuid.uuid4().hex[:12])

        def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
            hashed = batch_df.select(
                "doc_id", F.md5("text").alias("content_hash")
            )
            # within-batch first-seen: min doc_id per hash
            batch_first = hashed.groupBy("content_hash").agg(
                F.min("doc_id").alias("doc_id")
            )
            seen = store.read()
            novel = (
                batch_first
                if seen is None
                else batch_first.join(
                    F.broadcast(seen), "content_hash", "left_anti"
                )
            )
            # replay-safe emit: the output path is a pure function of
            # batch_id, so a re-delivered batch overwrites itself
            novel.select("doc_id", "content_hash").write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch_{batch_id}"))
            store.merge(novel)

        drain.run(
            drain.source(docs_path, schema, max_files_per_trigger), dedup_batch
        )
        return drain.result(spark.read.parquet(os.path.join(out_dir, "batch_*")))


def stream_dedup_minhash(
    spark: SparkSession,
    docs_path: str,
    schema,  # noqa: ANN001
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH near-dup flagging: drain the documents
    stream, computing each batch's signatures + band rows ONCE at
    ingest (the expensive tokenize/shingle/hash work never repeats),
    and flag at read time under the order-free BUCKET-MIN rule: a doc
    is a near-dup iff some non-degenerate band bucket (size <=
    ``max_bucket``, the boilerplate-skew guard of lsh_candidate_pairs)
    contains a SMALLER doc_id.

    Why this is exactly batch-equivalent under any chopping: the
    stored state is the band-row SET (4 rows per doc at b=4/r=2 —
    compact, unlike the training-mix n-gram index), and both the
    per-bucket min and the bucket size are read-time aggregates over
    that set — order-free, replay-safe (rows keyed by batch_id
    overwrite their own batch). The rule itself is monotone in doc_id,
    not arrival order, so a near-dup's "original" may arrive AFTER it.

    NOTE the semantic difference from connected-component dedup
    (cc_survivors): bucket-min keeps every doc that is the minimum of
    ALL its buckets, which can keep >1 doc per similarity component
    (a is min of bucket A, b is min of bucket B, a-b linked through c
    only). It is the standard streaming-LSH filter contract; use the
    batch CC pass for global component survivorship.

    Output: (doc_id, is_near_dup) for every doc with >= 1 shingle,
    ordered by doc_id.
    """
    from neo4j_dynagraph_spark.operators.dedup import (
        minhash_signatures,
        shingles_df,
    )
    from neo4j_dynagraph_spark.streaming.training_mix import BatchRowStore

    if num_hashes % rows_per_band:
        raise ValueError(
            f"signature width {num_hashes} not divisible by r={rows_per_band}"
        )
    r = rows_per_band
    hcols = [f"h{j}" for j in range(r)]
    with bounded_drain(spark, store_root) as drain:
        store = BatchRowStore(
            spark,
            drain.path("bands"),
            ["batch_id", "doc_id", "band", *hcols],
        )
        stream = drain.source(docs_path, schema, max_files_per_trigger)

        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    *[F.col(f"h{r * b + j}").alias(f"h{j}") for j in range(r)],
                )
                for b in range(num_hashes // r)
            ]
        )

        def band_batch(batch_df: DataFrame, batch_id: int) -> None:
            sigs = minhash_signatures(
                shingles_df(batch_df), num_hashes=num_hashes
            )
            rows = sigs.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "doc_id",
                F.explode(band_structs).alias("bs"),
            ).select(
                "batch_id",
                "doc_id",
                "bs.band",
                *[F.col(f"bs.h{j}").alias(f"h{j}") for j in range(r)],
            )
            store.merge(rows)

        drain.run(stream, band_batch)

        bands = store.read()
        if bands is None:
            return drain.result(
                spark.createDataFrame([], "doc_id long, is_near_dup boolean")
            )
        keys = ["band", *hcols]
        buckets = bands.groupBy(*keys).agg(
            F.min("doc_id").alias("_mn"), F.count(F.lit(1)).alias("_n")
        )
        out = (
            bands.join(buckets, keys)
            .groupBy("doc_id")
            .agg(
                F.bool_or(
                    (F.col("_n") <= max_bucket) & (F.col("_mn") < F.col("doc_id"))
                ).alias("is_near_dup")
            )
            .orderBy("doc_id")
        )
        return drain.result(out)
