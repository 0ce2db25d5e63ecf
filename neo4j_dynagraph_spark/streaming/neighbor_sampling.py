"""Streaming GNN-minibatch index maintenance: incremental
neighbor-sample lattices under event ingest.

The batch q_neighbor_sampling answers "the fanout-bounded GraphSAGE
blocks of every seed" over a finished graph. A training pipeline
ingests interaction events continuously and wants the CURRENT sampled
blocks readable at any time without re-ranking history. Two store
kinds make that exact:

- PresenceKeyStore: distinct (frame_id, actor) presence keys seen so
  far (DimensionStore merge-on-key, idempotent). Data-sized BY
  DESIGN — it is what makes cross-batch edge discovery exact: an
  actor's events landing in batch 5 must pair with frame-mates from
  batches 0-4 (the same late-arrival hazard as the training-mix
  decontamination index and the embed-topk late query).
- One MinKLattice per hop: per source node, the ``fanout`` smallest
  neighbors by the hop's hash — union + dropDuplicates + keep-k-min
  is associative, commutative, and idempotent (the TopKScoreStore /
  KMV shape), so the drained lattice equals the batch window's
  hash-rank top-k over the FULL neighbor set under ANY micro-batch
  chopping, including replays.

Per batch: presence partials -> left-anti against the store (exactly-
once edge discovery under replay) -> fresh x stored-presence frame
join emits each NEW edge in both orientations -> each hop lattice
merges the hash-keyed rows. Read-time composition chains the hop
lattices (hop h joins hop h-1's sampled frontier) — identical to the
batch operator's per-hop windows because membership in a min-k set
is decided by the total order (hash, dst), not by arrival order.

Sampling hashes are the shared cross-engine family ('ns:<hop>:' ||
src || ':' || dst), so the drained result is graded by the SAME
DuckDB oracle as the batch row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.operators.ingest import DEFAULT_DELTA
from neo4j_dynagraph_spark.streaming.drain import bounded_drain
from neo4j_dynagraph_spark.streaming.upsert import DimensionStore


class MinKLattice(DimensionStore):
    """Per-src pruned min-k lattice over (src, dst, h) rows: keep each
    source's k smallest (h, dst) neighbors — the hash-rank sample."""

    def __init__(self, spark: SparkSession, root: str, k: int) -> None:
        super().__init__(spark, root, ["src", "dst", "h"])
        self.k = k

    def merge(self, batch: DataFrame) -> None:
        new = batch.select("src", "dst", "h")
        existing = self.read()
        merged = new if existing is None else existing.unionByName(new)
        w = Window.partitionBy("src").orderBy("h", "dst")
        self._commit(
            merged.dropDuplicates(["src", "dst"])
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= self.k)
            .drop("_r")
        )


def _hop_hash(hop: int):  # noqa: ANN202
    return dfn.hash64(
        F.concat(
            F.lit(f"ns:{hop}:"),
            F.col("src").cast("string"),
            F.lit(":"),
            F.col("dst").cast("string"),
        )
    )


def stream_neighbor_sampling(
    spark: SparkSession,
    events_path: str,
    schema,  # noqa: ANN001
    fanouts: list[int],
    where=None,  # noqa: ANN001 — boolean Column over normalized events
    delta: int = DEFAULT_DELTA,
    store_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain an events file-stream through the incremental neighbor-
    sample lattices; return (seed, hop, src, dst) — bit-equal to the
    batch ``neighbor_sampling`` over the same (filtered) events under
    any micro-batch chopping (same oracle).

    ``store_root=None`` drains ephemerally (temp root deleted after
    the result materializes); a persistent ``store_root`` keeps its
    checkpoint inside it so re-invocations ingest only new files.
    """
    with bounded_drain(spark, store_root) as drain:
        pres = DimensionStore(
            spark, drain.path("presence"), ["frame_id", "actor"]
        )
        lattices = [
            MinKLattice(spark, drain.path(f"hop{i}"), fo)
            for i, fo in enumerate(fanouts, start=1)
        ]

        stream = drain.source(events_path, schema, max_files_per_trigger)

        def sample_batch(batch_df: DataFrame, batch_id: int) -> None:
            ev = batch_df if where is None else batch_df.where(where)
            newp = (
                ev.select(
                    dfn.frame_id(
                        dfn.epoch_seconds(F.col("ts")), delta, 0
                    ).alias("frame_id"),
                    F.col("user_id").alias("actor"),
                )
                .distinct()
            )
            old = pres.read()
            if old is not None:
                newp = newp.join(old, ["frame_id", "actor"], "left_anti")
            newp = newp.transform(materialize)
            if newp.count() == 0:
                return
            # Commit order matters for crash-replay exactly-once: the
            # presence store is the dedup gate for the left-anti above, so
            # it must commit LAST. The lattice merges are idempotent
            # (hash-keyed min-k), so a replay after a crash between stores
            # recomputes newp non-empty and re-merges harmlessly; committing
            # presence first would make a replayed batch's newp empty and
            # drop its edges from the lattices forever.
            allp = newp if old is None else old.unionByName(newp)
            pairs = (
                newp.alias("a")
                .join(allp.alias("b"), "frame_id")
                .where(F.col("a.actor") != F.col("b.actor"))
                .select(
                    F.col("a.actor").alias("src"),
                    F.col("b.actor").alias("dst"),
                )
                .distinct()
            )
            # fresh x stored covers (new, old) and (new, new); the (old,
            # new) orientation is the same pairs reversed
            sym_new = pairs.unionByName(
                pairs.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            ).distinct().transform(materialize)
            for hop, lat in enumerate(lattices, start=1):
                lat.merge(
                    sym_new.select("src", "dst", _hop_hash(hop).alias("h"))
                )
            pres.merge(newp)  # dedup gate commits last (see above)

        drain.run(stream, sample_batch)

        first = lattices[0].read()
        if first is None:
            out = spark.createDataFrame(
                [], "seed long, hop int, src long, dst long"
            )
            return drain.result(out)
        out = first.select(
            F.col("src").alias("seed"),
            F.lit(1).alias("hop"),
            "src",
            "dst",
        )
        frontier = out.select("seed", F.col("dst").alias("v")).distinct()
        for hop in range(2, len(fanouts) + 1):
            lat = lattices[hop - 1].read()
            block = frontier.join(lat, frontier.v == lat.src).select(
                "seed", F.lit(hop).alias("hop"), "src", "dst"
            )
            out = out.unionByName(block)
            frontier = block.select("seed", F.col("dst").alias("v")).distinct()
        return drain.result(out.orderBy("seed", "hop", "src", "dst"))
