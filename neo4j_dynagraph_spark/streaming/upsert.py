"""Streaming dimension maintenance: foreachBatch merge-on-key (T4).

The reference loader keeps global actor/interaction sets in memory and
creates each dimension node once (load_gexf_to_neo4j.py:163-164,193,
204). The streaming equivalent maintains a parquet dimension table from
a micro-batched stream with idempotent set semantics: each batch's new
keys union-merge into the table; replays of the same batch are no-ops.
Every streaming twin keeps its state in this one store; what differs is
the merge rule, chosen where the drain builds its store.

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

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window


class DimensionStore:
    """A tiny versioned parquet table with one merge rule.

    Merge rules, each idempotent under foreachBatch re-delivery:

    - set union on ``key_cols`` (the default): the batch's distinct
      keys union into the table — the dimension's create-once set.
    - ``by_batch=True``: per-micro-batch partial rows. ``merge(rows,
      batch_id)`` stamps the rows with a ``batch_id`` column and
      REPLACES that id's rows, so a re-delivered batch overwrites
      itself; readers sum over batches. This is what makes additive
      counters exactly-once (``key_cols`` are unused).
    - ``keep=k``: a pruned lattice (``prune``). Dedup on ``key_cols``,
      then keep the first k rows in ``order`` of each group of the
      first key column (the KMV sketch's k smallest hashes, a neighbor
      sample's k smallest hash ranks, a running top-k). The non-key
      columns must be a function of the key (hash-keyed or
      deterministic scores), or the prune depends on arrival order.
    - ``agg=[...]``: a per-key aggregate: group the union by
      ``key_cols`` and apply the aggregates, which must themselves be
      a lattice join (min, max; the min-id dedup survivor).

    The three named rules exclude each other; the constructor rejects
    a combination rather than pick one by precedence.

    ``partition_col`` partitions every committed version by that
    integral column, read back as long (partition discovery would
    infer INT).

    COMMIT-ORDER CONTRACT for foreachBatch drains that keep more than
    one store: a store whose contents GATE the batch's work — the
    left-anti novelty side that makes a replayed batch a no-op — must
    commit LAST in the batch function. Every other store must be
    replay-idempotent on its own (any rule above), so a crash between
    commits replays into a re-merge, never a loss. Gates in the
    package: the first-seen content-hash set of the exact dedup drain
    (its output write comes before it), the seen-query set of the
    running top-k (after both score merges) and the presence-key set
    of the neighbor sampler (after every hop lattice; pinned by the
    injected-crash test). Every other drain keeps one store, or only
    idempotent ones."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str] = (),
        *,
        by_batch: bool = False,
        keep: int | None = None,
        order: list[str | Column] = (),
        agg: list[Column] = (),
        partition_col: str | None = None,
    ) -> None:
        if by_batch + (keep is not None) + bool(agg) > 1:
            raise ValueError("by_batch, keep and agg are exclusive rules")
        if keep is not None and not (key_cols and order):
            raise ValueError("keep needs key_cols (group first) and order")
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.by_batch = by_batch
        self.keep, self.order = keep, list(order)
        self.agg = list(agg)
        self.partition_col = partition_col
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
        if path is None:
            return None
        df = self.spark.read.parquet(path)
        p = self.partition_col
        return df.withColumn(p, F.col(p).cast("long")) if p else df

    def merge(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Merge one micro-batch by the store's rule (class docstring);
        a ``by_batch`` store needs the foreachBatch ``batch_id``."""
        existing = self.read()
        if self.by_batch:
            if batch_id is None:
                raise ValueError("a by_batch store merges with its batch_id")
            batch = batch.withColumn("batch_id", F.lit(batch_id).cast("long"))
            if existing is not None:
                existing = existing.where(F.col("batch_id") != batch_id)
        elif self.keep is None and not self.agg:
            batch = batch.select(*self.key_cols).distinct()
        merged = batch if existing is None else existing.unionByName(batch)
        if self.agg:
            merged = merged.groupBy(*self.key_cols).agg(*self.agg)
        elif self.keep is not None:
            merged = self.prune(merged)
        elif not self.by_batch and existing is not None:
            merged = merged.distinct()
        self._commit(merged)

    def prune(self, df: DataFrame) -> DataFrame:
        """The ``keep`` rule on any frame: dedup on ``key_cols``, then
        the first ``keep`` rows in ``order`` per first key column. A
        drain may prune its batch with it before ``merge``, so the
        merge's window sees at most k batch rows per group."""
        w = Window.partitionBy(self.key_cols[0]).orderBy(*self.order)
        return (
            df.dropDuplicates(self.key_cols)
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= self.keep)
            .drop("_r")
        )

    def _commit(self, df: DataFrame) -> None:
        """Versioned write + atomic pointer flip — the commit half of
        the protocol, the package's only pointer flip."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        writer = df.write.mode("overwrite")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(os.path.join(self.root, version))
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
