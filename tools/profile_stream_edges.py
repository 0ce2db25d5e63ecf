"""Phase-level profile of q_stream_edges_stateful (opt round r13).

Splits the query's wall into: sentinel staging, the AvailableNow drain
(micro-batch machinery + state shuffle, plus the materialized
read-back of the parquet sink), a count, and the bench's toPandas —
so the optimization targets the phase that actually costs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile-stream-edges")
    spark.sparkContext.setLogLevel("ERROR")

    from neo4j_dynagraph_spark.streaming.drain import bounded_drain
    from neo4j_dynagraph_spark.streaming.edges import stateful_frame_edges

    parquet_path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(parquet_path).schema

    for rep in range(3):
        with bounded_drain(spark) as drain:
            t0 = time.perf_counter()
            stream = drain.source(parquet_path, raw_schema, sentinel=True)
            t1 = time.perf_counter()
            edges = stateful_frame_edges(stream, 3600)
            t2 = time.perf_counter()
            out = drain.result(drain.run(edges, "parquet"))
            t3 = time.perf_counter()
            n = out.count()
            t4 = time.perf_counter()
            out.toPandas()
            t5 = time.perf_counter()
        print(
            f"rep{rep}: stage={t1-t0:.3f}s plan={t2-t1:.3f}s "
            f"drain={t3-t2:.3f}s count={t4-t3:.3f}s({n}) "
            f"toPandas={t5-t4:.3f}s total={t5-t0:.3f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
