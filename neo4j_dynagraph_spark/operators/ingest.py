"""Ingestion: events/spells -> discretized temporal-graph star schema.

Re-expresses the reference loader (load_gexf_to_neo4j.py:61-249) as lazy
DataFrame transforms. The reference's two REST passes (frames+presence,
then dimensions+facts) become five derived DataFrames, all computed from
one scan of the input:

    frames              one row per tumbling window (FRAME node props,
                        load_gexf_to_neo4j.py:170-188 + date parts :137-142)
    actors              actor dimension (ACTOR, :193,213)
    interactions        canonical undirected pair dimension (:201-204,220)
    frame_actors        fact: actor present in frame (FRAME_ACTOR, :236)
    frame_interactions  fact: pair co-active in frame, weighted
                        (FRAME_INTERACTION {weight}, :241-249)

Scale design:
- frame_actors is a map-side-combinable groupBy on (frame_id, actor);
  at 100 TB this is the one big shuffle, keyed well (high cardinality,
  low skew). Everything downstream joins on frame_id and reuses it.
- frame_interactions is a self-join of frame_actors on frame_id. Frames
  with pathologically many actors are the skew risk; AQE skew-join
  splitting handles it, and `max_actors_per_frame` provides an explicit
  guard (a frame that is a near-clique contributes O(k^2) pairs).
- dimensions (actors, interactions) are distinct-projections of the
  facts — small, broadcastable (the reference kept them as in-memory
  dicts during load, X8 in SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from neo4j_dynagraph_spark import functions as dfn

DEFAULT_DELTA = 3600  # engine default frame width for the events table, seconds


@dataclass
class StarSchema:
    """The discretized temporal-graph star schema (SURVEY.md §1.1)."""

    run: str
    delta: int
    start: int
    frames: DataFrame
    actors: DataFrame
    interactions: DataFrame
    frame_actors: DataFrame
    frame_interactions: DataFrame


def events_to_presence(
    events: DataFrame,
    delta: int = DEFAULT_DELTA,
    start: int = 0,
    ts_col: str = "ts",
    actor_col: str = "user_id",
) -> DataFrame:
    """events -> per-(frame, actor) presence with event multiplicity.

    Columns: frame_id, actor, n_events. One shuffle (partial+final hash
    agg); this is the base fact everything else derives from.
    """
    es = dfn.epoch_seconds(F.col(ts_col))
    return (
        events.select(
            dfn.frame_id(es, delta, start).alias("frame_id"),
            F.col(actor_col).alias("actor"),
        )
        .groupBy("frame_id", "actor")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def presence_to_frame_interactions(
    presence: DataFrame,
    max_actors_per_frame: int | None = None,
) -> DataFrame:
    """Self-join presence on frame_id -> co-activity edges per frame.

    ``max_actors_per_frame`` is the skew guard: a frame with k actors
    contributes k*(k-1)/2 pairs, so one pathological near-clique frame
    (a stadium event, a bot storm) can dominate the whole shuffle.
    Frames above the cap are DROPPED from the pair expansion (the
    filter runs on a cheap pre-count, before any explosion); callers
    that need them handle those frames out-of-band.

    weight = n_events(a1) * n_events(a2): the number of event pairings,
    a true aggregable weight where the reference stored the constant 1
    (load_gexf_to_neo4j.py:248; SURVEY.md §2.4 note).

    Canonicalized a1 < a2 (strict: no self-edges), mirroring
    load_gexf_to_neo4j.py:201-202.

    The left side is explicitly repartitioned on frame_id: presence
    comes out of an AQE-coalesced aggregate (1 partition at small SF),
    and this join multiplies rows ~66x — without re-establishing
    parallelism BEFORE the explosion, every downstream aggregate runs
    in one task (measured 3.3s -> 0.9s for q10's distinct at sf0.1).
    Shuffling 95k presence rows is far cheaper than shuffling 6.3M
    pairs after the fact; the explicit partition count opts out of AQE
    coalescing, which only sees the pre-explosion input size.
    """
    if max_actors_per_frame is not None:
        ok = (
            presence.groupBy("frame_id")
            .agg(F.count(F.lit(1)).alias("_k"))
            .where(F.col("_k") <= max_actors_per_frame)
            .select("frame_id")
        )
        presence = presence.join(F.broadcast(ok), "frame_id", "semi")
    n_part = int(presence.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = presence.select(
        "frame_id", F.col("actor").alias("actor1"), F.col("n_events").alias("n1")
    ).repartition(n_part, "frame_id")
    right = presence.select(
        "frame_id", F.col("actor").alias("actor2"), F.col("n_events").alias("n2")
    )
    return (
        left.join(right, "frame_id")
        .where(F.col("actor1") < F.col("actor2"))
        .select(
            "frame_id",
            "actor1",
            "actor2",
            (F.col("n1") * F.col("n2")).cast("long").alias("weight"),
        )
    )


def enumerate_frames(
    events: DataFrame,
    delta: int = DEFAULT_DELTA,
    start: int = 0,
    run: str = "run0",
    ts_col: str = "ts",
) -> DataFrame:
    """Full frame grid over [min(ts), max(ts)] — includes empty frames,
    exactly like the reference's frame loop (load_gexf_to_neo4j.py:170-188).

    Implemented as a 1-row aggregate + sequence/explode: the grid is
    generated JVM-side, never collected to the driver. At 100 TB the
    min/max aggregate is a cheap scan (or comes from parquet footer
    stats); the grid itself is tiny (rows = timespan / delta).
    """
    es = dfn.epoch_seconds(F.col(ts_col))
    bounds = events.agg(
        dfn.frame_id(F.min(es), delta, start).alias("first_fid"),
        dfn.frame_id(F.max(es), delta, start).alias("last_fid"),
    )
    fid = F.col("frame_id")
    ts_start = dfn.frame_start(fid, delta, start)
    frame_ts = F.timestamp_seconds(ts_start)
    return bounds.select(
        F.explode(F.sequence(F.col("first_fid"), F.col("last_fid"))).alias("frame_id")
    ).select(
        F.lit(run).alias("run"),
        fid,
        dfn.frame_name(fid).alias("name"),
        ts_start.alias("timestamp"),
        (ts_start + delta).alias("timestamp_end"),
        dfn.ctime(frame_ts).alias("time"),
        F.lit(delta).cast("long").alias("length"),
        *dfn.date_parts(frame_ts),
    )


def build_star(
    events: DataFrame,
    delta: int = DEFAULT_DELTA,
    start: int = 0,
    run: str = "run0",
    ts_col: str = "ts",
    actor_col: str = "user_id",
) -> StarSchema:
    """Full ingest: the Spark equivalent of running the reference loader."""
    presence = events_to_presence(events, delta, start, ts_col, actor_col)
    frame_actors = presence.select(
        F.lit(run).alias("run"), "frame_id", "actor", "n_events"
    )
    frame_interactions = presence_to_frame_interactions(presence).select(
        F.lit(run).alias("run"), "frame_id", "actor1", "actor2", "weight"
    )
    actors = (
        presence.select("actor")
        .distinct()
        .select(
            F.lit(run).alias("run"),
            "actor",
            dfn.actor_name(F.col("actor")).alias("name"),
        )
    )
    interactions = (
        frame_interactions.select("actor1", "actor2")
        .distinct()
        .select(
            F.lit(run).alias("run"),
            "actor1",
            "actor2",
            dfn.interaction_name(F.col("actor1"), F.col("actor2")).alias("name"),
        )
    )
    frames = enumerate_frames(events, delta, start, run, ts_col)
    return StarSchema(
        run=run,
        delta=delta,
        start=start,
        frames=frames,
        actors=actors,
        interactions=interactions,
        frame_actors=frame_actors,
        frame_interactions=frame_interactions,
    )


def discretize_spells(
    spells: DataFrame,
    delta: int,
    start: int = 0,
    t_start_col: str = "t_start",
    t_end_col: str = "t_end",
) -> DataFrame:
    """Expand interval spells [t_start, t_end) to one row per overlapped
    frame — the reference's get_intervals (load_gexf_to_neo4j.py:69-71)
    as sequence+explode (the engine's only UDTF-shaped operator,
    SURVEY.md §2.10).

    Output: input columns + frame_id. A spell spanning k frames emits k
    rows; Catalyst plans this as a generator inside whole-stage codegen,
    no Python involved.
    """
    t1 = F.col(t_start_col).cast("long")
    t2 = F.col(t_end_col).cast("long")
    first = dfn.frame_id(t1, delta, start)
    # end-exclusive: a spell ending exactly on a frame boundary does not
    # enter the next frame
    last = dfn.frame_id(t2 - 1, delta, start)
    return spells.where(t2 > t1).withColumn(
        "frame_id", F.explode(F.sequence(first, last))
    )


def write_star(star: StarSchema, out_dir: str) -> None:
    """Persist the star schema as parquet, partitioned for pruning.

    frames/facts partition by date-derived keys is the Spark equivalent
    of the reference's y/m/d/h timeline tree (SURVEY.md §1.4): partition
    pruning does what tree descent did. Facts are bucketed-by-sort on
    frame_id within files so row-group min/max stats prune range scans.
    """
    star.frames.write.mode("overwrite").partitionBy("year", "month", "day").parquet(
        f"{out_dir}/frames"
    )
    star.actors.write.mode("overwrite").parquet(f"{out_dir}/actors")
    star.interactions.write.mode("overwrite").parquet(f"{out_dir}/interactions")
    star.frame_actors.sortWithinPartitions("frame_id").write.mode("overwrite").parquet(
        f"{out_dir}/frame_actors"
    )
    star.frame_interactions.sortWithinPartitions("frame_id").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/frame_interactions")


def write_star_bucketed(
    star: StarSchema,
    database: str,
    out_dir: str,
    n_buckets: int = 64,
) -> None:
    """Bucketed-at-rest fact layout: both fact tables hash-bucketed AND
    sorted on frame_id via ``bucketBy``/``sortBy`` + ``saveAsTable``.

    This is the co-located-join layout for the hot key: any
    frame_id-keyed join between the facts (presence x interactions, or
    the pair-explosion self-join) plans as a SortMergeJoin with ZERO
    Exchange — at 100 TB the facts shuffle ONCE at write time instead
    of on every query (locked by
    tests/test_ingest.py::test_bucketed_star_join_no_shuffle). Matching
    bucket counts on both tables are what makes the join co-located;
    changing one side's count reintroduces the shuffle.
    """
    spark = star.frame_actors.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name, df in (
        ("frame_actors", star.frame_actors),
        ("frame_interactions", star.frame_interactions),
    ):
        (
            df.write.mode("overwrite")
            .option("path", f"{out_dir}/{name}")
            .bucketBy(n_buckets, "frame_id")
            .sortBy("frame_id")
            .saveAsTable(f"{database}.{name}")
        )


def _spread16(x) -> "F.Column":  # noqa: ANN001
    """Spread the low 16 bits of a long so bit i lands at position 2i
    (a zero between every bit) — the classic magic-mask Morton step,
    all JVM bitwise ops."""
    x = x.cast("long").bitwiseAND(F.lit(0xFFFF))
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(a, b) -> "F.Column":  # noqa: ANN001
    """Morton/Z-order interleave of two 16-bit dimensions into one
    32-bit sort key: points close in EITHER dimension stay close in
    the key, so a range-partitioned, key-sorted layout gives tight
    per-file min/max statistics on BOTH columns at once — the
    multi-dimensional generalization of sorting by one column.
    Callers must map each dimension into [0, 65535] (truncate ids,
    day-of-year, bucketed ranges...); only the low 16 bits are read —
    and the dimensions must be scaled to COMPARABLE magnitudes: the
    interleave balances bits positionally, so a 5-bit dimension beside
    a 14-bit one contributes nothing to the top key bits and its
    per-file ranges stay domain-wide (measured at sf1, SCALE.md:
    unscaled day gave day-range 29/29 per file; day*512 gave 4/29
    while keeping user 4x tighter than its domain)."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


def write_zorder(
    df: DataFrame,
    out_dir: str,
    dim_a,  # noqa: ANN001 — Column, already mapped into [0, 65535]
    dim_b,  # noqa: ANN001
    n_files: int = 16,
) -> None:
    """Z-ORDERED at-rest layout: range-partition + sort the rows by
    the Morton interleave of two dimensions, so parquet min/max
    statistics prune files for predicates on EITHER column — the
    data-skipping layout (Delta/Iceberg's OPTIMIZE ZORDER) for the
    two-filter-column case a single-column sort can't serve.

    At 100 TB this is the difference between a selective
    user-and-time query reading ~selectivity of the files and reading
    all of them: a ts-sorted layout answers time filters only (every
    file spans the full user domain), the z-ordered one keeps BOTH
    per-file ranges narrow (locked by
    tests/test_ingest.py::test_zorder_layout_tightens_both_dims).
    One range shuffle at write time, exactly like the bucketed star."""
    (
        df.withColumn("_z", zorder_key(dim_a, dim_b))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
