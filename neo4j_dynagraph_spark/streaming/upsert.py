"""Streaming dimension maintenance: foreachBatch merge-on-key (T4).

The reference loader keeps global actor/interaction sets in memory and
creates each dimension node once (load_gexf_to_neo4j.py:163-164,193,
204). The streaming equivalent maintains a parquet dimension table from
a micro-batched stream with idempotent set semantics: each batch's new
keys union-merge into the table; replays of the same batch are no-ops.

Write protocol: write merged to a fresh versioned directory then flip a
pointer file — readers never see a half-written table, and the previous
version remains for rollback (a poor-man's snapshot commit; on a real
deployment this is exactly what a table format like Delta/Iceberg does
with its transaction log — this module keeps the engine dependency-free
while preserving the atomicity contract).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


class DimensionStore:
    """A tiny versioned parquet dimension table with merge-on-key.

    COMMIT-ORDER CONTRACT for foreachBatch drains that keep more than
    one store (round-12 audit, prompted by the neighbor-sampling
    crash-replay hole): a store whose contents GATE the batch's work —
    the left-anti/novelty side that makes a replayed batch a no-op —
    must commit LAST in the batch function. All other merges must be
    replay-idempotent on their own (set union, min/k-min lattices,
    batch_id-keyed overwrite-own-batch partials), so a crash between
    commits replays into a re-merge, never a loss. Audited conforming:
    incremental_dedup (output write before first-seen merge),
    embed_topk (query gate commits after both score merges),
    training_mix / bigram_lm / quality / mixture / bursts / cms / kmv /
    sq_stats / corpus_stats / ivf (single store or idempotent-only),
    neighbor_sampling (presence gate last — fixed this round, pinned
    by the injected-crash test)."""

    def __init__(self, spark: SparkSession, root: str, key_cols: list[str]) -> None:
        self.spark = spark
        self.root = root
        self.key_cols = key_cols
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def current_path(self) -> str | None:
        try:
            with open(self._pointer) as f:
                return os.path.join(self.root, f.read().strip())
        except FileNotFoundError:
            return None

    def read(self) -> DataFrame | None:
        path = self.current_path()
        return self.spark.read.parquet(path) if path else None

    def merge(self, batch: DataFrame) -> None:
        """Set-union the batch's keys into the dimension (idempotent)."""
        new = batch.select(*self.key_cols).distinct()
        existing = self.read()
        merged = new if existing is None else existing.unionByName(new).distinct()
        self._commit(merged)

    def _commit(self, df: DataFrame) -> None:
        """Versioned write + atomic pointer flip — the commit half of
        the protocol, shared by merge() and subclasses with their own
        merge semantics (e.g. the pruned KMV sketch store)."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, version))
        tmp = tempfile.NamedTemporaryFile(
            "w", dir=self.root, delete=False, suffix=".ptr"
        )
        tmp.write(version)
        tmp.close()
        os.replace(tmp.name, self._pointer)  # atomic pointer flip


def stream_actor_dimension(
    store: DimensionStore, stream: DataFrame, actor_col: str = "user_id"
) -> "object":
    """Maintain the actor dimension from an event stream via
    foreachBatch — micro-batch commits, the reference's tx batching
    (T2) + set semantics (T4). Drains the stream to completion on an
    ephemeral drain root and returns the terminated StreamingQuery."""
    from neo4j_dynagraph_spark.streaming.drain import bounded_drain

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        store.merge(batch_df.select(batch_df[actor_col].alias("actor")))

    with bounded_drain(store.spark) as drain:
        drain.run(stream, upsert)
    return drain.query
