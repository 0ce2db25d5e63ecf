"""Scale-proof runner: time registered queries at a generated SF.

    python tools/scale_proof.py <sf_dir> <query> [query ...]

For each query, runs the registered Spark plan against <sf_dir> and
prints one line: name, output rows, wall seconds. Output is counted
distributed (df.count()) — never collected — so enumeration-sized
results measure the PLAN, not the driver pipe (SCALE.md round-5
"enumeration outputs go to sinks" rule). Used for the sf1/sf10
linearity tables in SCALE.md; pair runs at two SFs in the SAME
session layout (fresh process per SF) and quote walls side by side.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.queries import REGISTRY  # noqa: E402
import neo4j_dynagraph_spark.queries_ext  # noqa: E402,F401


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")
    spark = get_spark("scale-proof")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        t0 = time.perf_counter()
        try:
            n_rows = REGISTRY[name].fn(spark, sf_dir).count()
            wall = time.perf_counter() - t0
            print(f"{name:28s} rows={n_rows:>12,} wall={wall:8.1f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue
            wall = time.perf_counter() - t0
            print(
                f"{name:28s} FAILED after {wall:.1f}s: "
                f"{type(exc).__name__}: {str(exc).splitlines()[0][:150]}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
