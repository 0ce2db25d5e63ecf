"""Skew stress for the ingest pair join: one hot frame, timed.

The ingest hot join (presence x presence on frame_id,
operators/ingest.py:presence_to_frame_interactions) meets its worst
case in one HOT frame — a burst where thousands of actors share a
frame — which creates quadratic join OUTPUT from tiny join INPUT.
AQE's skew-join split keys on shuffle-partition BYTES, so a 20k-row
hot partition never trips it, and its 20k x 20k pair explosion runs
in one task. ``max_actors_per_frame`` is the guard that drops such
frames; this tool measures what an unguarded hot frame costs.

It builds a deterministic skewed presence fixture, runs the real
pair builder once, and prints one JSON line:

    python tools/skew_stress.py [n_frames] [actors_per_frame] [hot_actors]

Defaults: 2000 frames x 40 actors + ONE hot frame with 20000 actors.
Pair output: 2000 * C(40,2) + C(20000,2) ~= 2.0e8, of which 99.2%
comes from the single hot frame.

Result rows go through an order-insensitive checksum (sum of per-row
hashes via F.hash), never a collect — the pair enumeration is O(10^8).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.operators.hub import materialize  # noqa: E402
from neo4j_dynagraph_spark.operators.ingest import (  # noqa: E402
    presence_to_frame_interactions,
)


def skewed_presence(spark, n_frames: int, per_frame: int, hot_actors: int):
    """Deterministic presence table: frames 0..n_frames-1 hold
    `per_frame` actors each; frame 0 is the HOT frame with
    `hot_actors` actors. n_events varies 1..5 so pair weights are
    non-trivial. Generated JVM-side (sequence/explode), never
    driver-materialized."""
    cold = (
        spark.range(n_frames)
        .select(F.col("id").alias("frame_id"))
        .select(
            "frame_id",
            F.explode(F.sequence(F.lit(0), F.lit(per_frame - 1))).alias("i"),
        )
        .select(
            "frame_id",
            # distinct actor ids per frame so the join key is the only
            # shared dimension
            (F.col("frame_id") * per_frame + F.col("i")).alias("actor"),
            (F.pmod(F.col("frame_id") + F.col("i"), F.lit(5)) + 1).alias(
                "n_events"
            ),
        )
    )
    hot = (
        spark.range(hot_actors)
        .select(
            F.lit(0).alias("frame_id"),
            (F.col("id") + n_frames * per_frame).alias("actor"),
            (F.pmod(F.col("id"), F.lit(5)) + 1).alias("n_events"),
        )
    )
    return cold.unionByName(hot)


def checksum(df) -> tuple[int, int]:
    """(row_count, order-insensitive hash-sum) without collecting the
    enumeration."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.hash("frame_id", "actor1", "actor2", "weight").cast("long")
        ).alias("h"),
    ).first()
    return int(row.n), int(row.h or 0)


def main() -> None:
    n_frames = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    per_frame = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    hot_actors = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

    spark = get_spark("skew-stress")
    spark.sparkContext.setLogLevel("ERROR")
    # materialize the fixture once so the timing covers the JOIN, not
    # the generator
    presence = materialize(skewed_presence(spark, n_frames, per_frame, hot_actors))
    t0 = time.perf_counter()
    n, h = checksum(presence_to_frame_interactions(presence))
    print(
        json.dumps(
            {
                "n_frames": n_frames,
                "per_frame": per_frame,
                "hot_actors": hot_actors,
                "pairs": n,
                "checksum": h,
                "wall_sec": round(time.perf_counter() - t0, 1),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
