"""Input staging for bounded file-stream drains.

Spark's file stream source reads a DIRECTORY. A drain stages its input
into ``<root>/_src`` of its :class:`~.drain.Drain` root in one of two
ways:

- :func:`stage_input`: a single parquet file becomes a directory
  holding one symlink to it (the testdata is read-only, never
  copied); a directory passes through unchanged. For a persistent
  store root the stage is idempotent and pinned to one source: the
  FileStreamSource checkpoint records source paths, so a different
  basePath per invocation would make every seen file look new and
  double-count additive state.
- :func:`stage_with_sentinel`: symlinks to every input parquet file
  plus an END-OF-STREAM SENTINEL event far past the real data, for
  append-mode stateful plans (watermarked joins, windows, event-time
  timeouts) whose trailing frames only emit once the watermark passes
  them.

Symlink targets are always absolute: ``os.symlink`` stores the target
string verbatim, so a relative input path would resolve relative to
the stage dir, a broken link the file source reads as zero files.
"""

from __future__ import annotations

import functools
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

_HORIZON_S = 7 * 24 * 3600


def stage_input(path: str, into: str) -> str:
    """If ``path`` is a single file, symlink it into ``into`` and return
    ``into``; a directory is returned unchanged. Re-staging the same
    file is a no-op; re-pointing a stage at another file raises."""
    if not os.path.isfile(path):
        return path
    target = os.path.abspath(path)
    os.makedirs(into, exist_ok=True)
    link = os.path.join(into, os.path.basename(target))
    if os.path.islink(link):
        if os.readlink(link) != target:
            raise ValueError(
                f"stage dir {into} already streams {os.readlink(link)}; "
                f"cannot re-point it at {target} — one persistent store "
                "tracks one source"
            )
    else:
        os.symlink(target, link)
    return into


def stage_with_sentinel(
    spark: SparkSession,
    path: str,
    schema,  # noqa: ANN001
    into: str,
    types: tuple[str, ...] = (),
    stagger_seconds: int = 3600,
) -> str:
    """Stage the input parquet file(s) plus a sentinel event into
    ``into`` and return it.

    Append-mode stateful operators only emit what the watermark has
    passed, and a drained stream's watermark stops at max_ts - delay;
    the sentinel (the MAX-ts row moved a week later, alone in its own
    frame so it never pairs) pushes the final watermark past every real
    frame. The ts arrival type (legacy long nanos, timestamp,
    timestamp_ntz) comes from ``schema``.

    ``types``: when the plan filters the stream by ``event_type`` into
    branches, Catalyst pushes the filters below the watermark node, so
    a branch whose type the sentinel lacks never sees it and stalls.
    One sentinel per value is staged, each ``stagger_seconds`` further
    out so no two fall inside one frame or spell and pair.
    """
    os.makedirs(into, exist_ok=True)
    src = os.path.abspath(path)
    files = (
        [src]
        if os.path.isfile(src)
        else [os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")]
    )
    for f in files:
        os.symlink(f, os.path.join(into, os.path.basename(f)))
    last = (
        spark.read.schema(schema)
        .parquet(path)
        .orderBy(F.col("ts").desc_nulls_last())
        .limit(1)
    )
    if last.isEmpty():
        raise ValueError(f"no rows under {path}; nothing to stream")

    def advanced(seconds: int):  # noqa: ANN202
        if isinstance(schema["ts"].dataType, LongType):
            ts = (F.col("ts") + F.lit(seconds * 1_000_000_000)).cast("long")
        else:
            # interval addition keeps the exact column type, so the
            # sentinel file's physical type matches the real files
            ts = F.col("ts") + F.expr(f"INTERVAL {seconds} SECONDS")
        return last.withColumn("ts", ts)

    parts = [
        advanced(_HORIZON_S + i * stagger_seconds).withColumn(
            "event_type", F.lit(v)
        )
        for i, v in enumerate(types)
    ] or [advanced(_HORIZON_S)]
    sentinel = functools.reduce(DataFrame.unionByName, parts)
    out = os.path.join(into, "_sentinel")
    sentinel.write.mode("overwrite").parquet(out)
    for f in os.listdir(out):
        if f.endswith(".parquet"):
            os.rename(os.path.join(out, f), os.path.join(into, f"zz_sentinel_{f}"))
    return into
