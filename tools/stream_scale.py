"""Streaming drains at generator scale: wall clock + state-store size.

The batch sf1 study (SCALE.md) validates the batch plans at 10x input;
this validates the STREAMING paths' state claim — O(actors-per-frame)
state for the stateful edge builder, O(new pairs) per micro-batch for
the incrementally-maintained degree view — under the generator's 10x
event density. State metrics come from StreamingQueryProgress
(stateOperators[].numRowsTotal / memoryUsedBytes), the same numbers a
production monitor would alert on.

Usage:

    python tools/stream_scale.py [sf_dir] [n_chunks] [query,query,...]

Set DYNAGRAPH_ROCKSDB_STATE=1 to drain through the RocksDB state
store (the spill-to-disk provider a production deployment would use
for O(edges)-sized state).

sf_dir defaults to /tmp/genscale/sf1 (tools/gen_scale.py output).
n_chunks > 1 re-stages events.parquet as n time-ordered files with
maxFilesPerTrigger=1, forcing frames to accumulate state ACROSS
micro-batches — the state-carry regime a long-running deployment
actually sits in (a single-file AvailableNow drain sees one giant
batch and understates steady-state state size).

Prints one JSON line per drained query:
    {"query": ..., "rows": N, "wall_sec": S,
     "state_rows_peak": N, "state_mem_peak_mb": M, "batches": B}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.streaming.drain import bounded_drain  # noqa: E402


def _chunk(spark, events_path: str, schema, n_chunks: int, into: str) -> str:
    """Re-write events as n_chunks time-ordered parquet files under
    ``into`` (lexicographic order == time order, so maxFilesPerTrigger=1
    replays the stream in event-time order) and return ``into``."""
    import pyspark.sql.functions as F

    df = spark.read.schema(schema).parquet(events_path).orderBy("ts")
    n = df.count()
    per = (n + n_chunks - 1) // n_chunks
    chunk = (F.monotonically_increasing_id() / per).cast("long")
    parts = os.path.join(into, "_parts")
    (
        df.coalesce(1)
        .withColumn("_chunk", chunk)
        .write.partitionBy("_chunk")
        .mode("overwrite")
        .parquet(parts)
    )
    idx = 0
    for sub in sorted(os.listdir(parts)):
        if not sub.startswith("_chunk="):
            continue
        for f in sorted(os.listdir(os.path.join(parts, sub))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(parts, sub, f),
                    os.path.join(into, f"chunk_{idx:05d}.parquet"),
                )
                idx += 1
    return into


def _drain_with_metrics(spark, source: str, schema, n_chunks: int, build):  # noqa: ANN001
    """AvailableNow drain of ``build(stream)`` to a PARQUET sink, with
    the end-of-stream sentinel, returning (rows, wall_sec,
    state_rows_peak, state_mem_peak_mb, n_batches).

    A parquet sink, not memory: at sf1 the per-frame edge stream is
    O(10^8) rows, and accumulating that in a driver-side memory sink is
    exactly the collect-the-enumeration anti-pattern SCALE.md warns
    about. Parquet is also the terminal a production drain would use,
    so the wall-clock includes the real sink cost.
    """
    with bounded_drain(spark) as drain:
        stream = drain.source(
            source, schema, 1 if n_chunks > 1 else None, sentinel=True
        )
        t0 = time.perf_counter()
        out = drain.run(build(stream), "parquet")
        wall = time.perf_counter() - t0
        rows_peak = mem_peak = batches = 0
        for p in drain.query.recentProgress:
            batches += 1
            for op in p.get("stateOperators", []):
                rows_peak = max(rows_peak, op.get("numRowsTotal", 0))
                mem_peak = max(mem_peak, op.get("memoryUsedBytes", 0))
        return out.count(), wall, rows_peak, mem_peak / 1e6, batches


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/genscale/sf1"
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark("stream-scale")
    if os.environ.get("DYNAGRAPH_ROCKSDB_STATE") == "1":
        # large-state drains (the join variant at sf>=1 holds O(edges)
        # state) belong in the spill-to-disk store, not the default
        # memory-backed HDFSBackedStateStore
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    spark.sparkContext.setLogLevel("ERROR")

    from neo4j_dynagraph_spark.streaming.edges import (
        stateful_frame_edges,
        stream_frame_edges,
    )

    events_path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events_path).schema
    with tempfile.TemporaryDirectory(prefix="dynagraph_chunks_") as chunks:
        source = (
            _chunk(spark, events_path, schema, n_chunks, chunks)
            if n_chunks > 1
            else events_path
        )
        for name, build in [
            ("stream_edges_stateful", stateful_frame_edges),
            ("stream_edges_join", stream_frame_edges),
        ]:
            if only is not None and name not in only:
                continue
            n, wall, rp, mm, nb = _drain_with_metrics(
                spark, source, schema, n_chunks, build
            )
            print(
                json.dumps(
                    {
                        "query": name,
                        "sf_dir": sf_dir,
                        "n_chunks": n_chunks,
                        "rows": n,
                        "wall_sec": round(wall, 1),
                        "state_rows_peak": rp,
                        "state_mem_peak_mb": round(mm, 1),
                        "batches": nb,
                    }
                ),
                flush=True,
            )

    # incrementally-maintained degree view (foreachBatch upsert): state
    # lives in the parquet-backed DimensionStore, so report the store's
    # final size instead of a state-store peak
    from neo4j_dynagraph_spark.streaming.edges import streaming_degree_from_parquet

    if only is not None and "stream_degree_view" not in only:
        return
    t0 = time.perf_counter()
    deg = streaming_degree_from_parquet(spark, events_path, schema)
    n = deg.count()
    print(
        json.dumps(
            {
                "query": "stream_degree_view",
                "sf_dir": sf_dir,
                "rows": n,
                "wall_sec": round(time.perf_counter() - t0, 1),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
