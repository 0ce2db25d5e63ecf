"""One owner for the life of a bounded streaming drain.

The reference loads its dynamic graph in transaction batches
(load_gexf_to_neo4j.py, SURVEY T2); every ``stream_*`` drain and
``*_from_parquet`` runner in this package is the incremental form of
that ingest: stage a file input, read it as a stream, run one query
with Trigger.AvailableNow to completion, read the result back. All of
them do it through :func:`bounded_drain`, which owns one root:

    <root>/_src         the staged input (streaming/staging.py)
    <root>/_checkpoint  the streaming query's checkpoint
    <root>/_out         the parquet sink, for parquet drains
    <root>/...          the caller's stores (streaming/upsert.py)

The root is the caller's ``store_root`` when given: PERSISTENT, so a
second drain resumes from the recorded offsets and processes only new
files; nothing is deleted and the result stays lazy. Otherwise it is
one fresh temp dir: EPHEMERAL, so :meth:`Drain.result` materializes
the result through ``hub.materialize`` (an eager checkpoint,
independent of the files) and the root is deleted when the ``with``
block exits, on success and on error alike.

On a multi-node cluster an ephemeral root must live on a filesystem
every executor sees (set ``TMPDIR`` / ``tempfile.tempdir``): executors
write the sinks and stores, the driver lists them.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators.hub import materialize
from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts
from neo4j_dynagraph_spark.streaming.staging import stage_input, stage_with_sentinel


class Drain:
    """A drain's root, its staged source, and its one streaming run."""

    def __init__(self, spark: SparkSession, root: str, ephemeral: bool) -> None:
        self.spark = spark
        self.root = root
        self.ephemeral = ephemeral
        self.query = None  # the terminated StreamingQuery of run()
        self.view: str | None = None  # the memory sink's table

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def source(
        self,
        path: str,
        schema,  # noqa: ANN001 — StructType of the batch-read table
        max_files_per_trigger: int | None = None,
        sentinel: bool | tuple[str, ...] = False,
        stagger_seconds: int = 3600,
    ) -> DataFrame:
        """Stage ``path`` and return it as a streaming DataFrame with an
        explicit schema and a normalized ``ts`` (when it has one).

        ``sentinel``: True stages one end-of-stream sentinel, a tuple
        one per ``event_type`` value (see stage_with_sentinel).
        ``max_files_per_trigger`` caps files per micro-batch, oldest
        first: over a directory of time-ordered files, state must carry
        across micro-batches."""
        into = self.path("_src")
        if sentinel:
            types = sentinel if isinstance(sentinel, tuple) else ()
            src = stage_with_sentinel(
                self.spark, path, schema, into, types, stagger_seconds
            )
        else:
            src = stage_input(path, into)
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            ).option("latestFirst", "false")
        stream = reader.parquet(src)
        if "ts" in schema.fieldNames():
            stream = normalize_stream_ts(self.spark, stream, schema)
        return stream

    def run(
        self,
        frame: DataFrame,
        sink: Callable[[DataFrame, int], None] | str,
        output_mode: str = "append",
    ) -> DataFrame | None:
        """Run ``frame`` to completion (Trigger.AvailableNow) into
        ``sink`` with its checkpoint under the root; one run per drain.

        ``sink`` is a foreachBatch function (returns None: the result
        lives in the caller's stores), ``"memory"`` (the driver-held
        sink, for small results; returns its table) or ``"parquet"``
        (executor-written files under ``_out``, for large results;
        returns their read-back)."""
        writer = frame.writeStream.outputMode(output_mode).option(
            "checkpointLocation", self.path("_checkpoint")
        )
        if callable(sink):
            writer = writer.foreachBatch(sink)
        elif sink == "memory":
            self.view = f"dynagraph_drain_{uuid.uuid4().hex[:12]}"
            writer = writer.format("memory").queryName(self.view)
        elif sink == "parquet":
            writer = writer.format("parquet").option("path", self.path("_out"))
        else:
            raise ValueError(f"unknown drain sink: {sink!r}")
        self.query = writer.trigger(availableNow=True).start()
        self.query.awaitTermination()
        if callable(sink):
            return None
        if sink == "memory":
            return self.spark.table(self.view)
        # explicit schema: an all-empty drain leaves no files to infer from
        return self.spark.read.schema(frame.schema).parquet(self.path("_out"))

    def result(self, df: DataFrame) -> DataFrame:
        """The drain's result: materialized when the root is ephemeral
        (it is about to be deleted), lazy when it is persistent."""
        return materialize(df) if self.ephemeral else df


@contextlib.contextmanager
def bounded_drain(
    spark: SparkSession, store_root: str | None = None
) -> Iterator[Drain]:
    """Yield a :class:`Drain` on ``store_root`` (persistent) or on one
    fresh temp dir (ephemeral, deleted on exit). A memory sink's view
    is dropped on exit, so a memory drain must return ``result(...)``."""
    ephemeral = store_root is None
    root = tempfile.mkdtemp(prefix="dynagraph_drain_") if ephemeral else store_root
    drain = Drain(spark, root, ephemeral)
    try:
        yield drain
    finally:
        if drain.view is not None:
            spark.catalog.dropTempView(drain.view)
        if ephemeral:
            shutil.rmtree(root, ignore_errors=True)
