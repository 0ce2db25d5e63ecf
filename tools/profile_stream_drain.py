"""Attribute q_stream_edges_stateful's bench cost (VERDICT r8 task 8).

Runs the stateful edge drain at a given SF exactly as the registry
query does, but keeps the StreamingQuery handle so recentProgress can
split the wall clock into micro-batches and, within each batch, the
state-store vs. everything-else share. Prints one JSON line:

    {"sf_dir": ..., "wall_sec": W, "n_batches": B,
     "batches": [{"batch": i, "input_rows": n, "batch_sec": s,
                  "state_ms": {...}}, ...],
     "readback_sec": R}

Usage: python tools/profile_stream_drain.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.queries import DELTA  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("drain-profile")
    spark.sparkContext.setLogLevel("ERROR")

    from neo4j_dynagraph_spark.streaming.drain import bounded_drain
    from neo4j_dynagraph_spark.streaming.edges import stateful_frame_edges

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    with bounded_drain(spark) as drain:
        edges = stateful_frame_edges(
            drain.source(path, schema, sentinel=True), DELTA
        )
        t0 = time.perf_counter()
        out = drain.run(edges, "parquet")
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        n = out.count()
        readback = time.perf_counter() - t1
        progress = drain.query.recentProgress

    batches = []
    for p in progress:
        dur = p.get("durationMs", {})
        st = (p.get("stateOperators") or [{}])[0]
        batches.append(
            {
                "batch": p.get("batchId"),
                "input_rows": p.get("numInputRows"),
                # triggerExecution spans the batch; the other entries
                # (addBatch, getBatch, queryPlanning, ...) lie inside it
                "batch_sec": round(dur.get("triggerExecution", 0) / 1000.0, 3),
                "duration_ms": dur,
                "state_rows": st.get("numRowsTotal"),
                "state_commit_ms": st.get("commitTimeMs"),
                "state_update_ms": st.get("allUpdatesTimeMs"),
                "state_removed_ms": st.get("allRemovalsTimeMs"),
            }
        )

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "wall_sec": round(wall, 3),
                "n_batches": len(batches),
                "out_rows": n,
                "readback_sec": round(readback, 3),
                "batches": batches,
            }
        )
    )


if __name__ == "__main__":
    main()
