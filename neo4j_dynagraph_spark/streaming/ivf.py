"""Incremental IVF index maintenance — ASSIGN-ONLY streaming drain.

``write_ivf_corpus`` (operators/similarity.py) builds the
cell-partitioned ANN layout in one batch pass, but a 100 TB pipeline
appends embeddings continuously. This drain closes that gap: each
arriving vector is assigned to its nearest FROZEN coarse centroid and
the (vec_id, cell) rows merge into a DimensionStore whose commits are
partitioned by cell.

Assign-only is a deliberate contract, not a shortcut: re-fitting the
coarse codebook re-homes EXISTING vectors, i.e. rewrites the whole
index — so production ANN systems split mutation into cheap
streaming ``add`` against a frozen quantizer and out-of-band batch
``train`` + index rebuild (the same split FAISS exposes as
``add()`` vs ``train()``). The re-fit here stays
``ivf_topk``'s batch codebook derivation.

State class: IDEMPOTENT SET. The home cell is a deterministic argmax
against frozen centroids, so replayed files and arbitrary micro-batch
chopping converge to the identical assignment set (DimensionStore's
set-union merge; the whole probe result is therefore bit-equal to the
batch index — pinned by the multibatch test and graded by the driver
with q_embed_ann_ivf's own oracle).

Scale shape: per batch, one broadcast join against the |C|-row
codebook + a per-vector argmax window keyed by vec_id (batch-sized).
The store rewrite is O(index) per commit — the versioned-parquet
protocol's honest cost at local scale; on a real deployment the
DimensionStore commit maps to a table-format MERGE that touches only
the changed cell partitions (upsert.py module docstring).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.similarity import ivf_assign
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


def stream_ivf_assign(
    spark: SparkSession,
    emb_path: str,
    schema,  # noqa: ANN001
    centroids: DataFrame,
    vec_col: str = "embedding",
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an embeddings file-stream through assign-only IVF index
    maintenance; return the (vec_id, cell) assignment table — equal to
    the batch ``ivf_assign(corpus, centroids, nprobe=1)`` set under
    any chopping.

    ``centroids`` (cent_id, cv) is the FROZEN coarse codebook (see
    module docstring for why re-fit stays batch). ``store_root=None``
    drains ephemerally; a persistent root keeps checkpoint + source
    stage inside it so re-invocations assign only new files.
    """
    with bounded_drain(spark, store_root) as drain:
        # commits partitioned by cell — the streaming twin of
        # write_ivf_corpus's at-rest layout, so a probe of the drained
        # index prunes to nprobe/C of the files like the batch-built one
        store = DimensionStore(
            spark, drain.path("cells"), ["vec_id", "cell"], partition_col="cell"
        )
        # freeze the codebook once — foreachBatch re-evaluates closures
        # per batch, and the contract is that every batch sees the SAME
        # centroids regardless of what the codebook frame reads from
        cent = centroids.transform(materialize)

        stream = drain.source(emb_path, schema, max_files_per_trigger)

        def assign_batch(batch_df: DataFrame, batch_id: int) -> None:
            vecs = batch_df.select(
                "vec_id", F.col(vec_col).cast("array<double>").alias("v")
            )
            assigned = ivf_assign(vecs, cent, nprobe=1).select("vec_id", "cell")
            store.merge(assigned)

        drain.run(stream, assign_batch)

        state = store.read()
        if state is None:  # empty stream
            out = spark.createDataFrame([], "vec_id long, cell long")
        else:
            out = state.select("vec_id", "cell")
        return drain.result(out)
