"""Distributed global ranking (two-phase) and the time-shuffle
permutation built on it.

A single `row_number() OVER (ORDER BY ...)` is a one-partition window —
the classic scale killer for global ranks. The two-phase form is the
DataFrame equivalent of zipWithIndex: partition rows into buckets that
are ORDER-ALIGNED with the sort key (every row in bucket b sorts before
every row in bucket b+1), take a per-bucket local row_number, and add
each bucket's global offset (an exclusive prefix sum over the
bucket-count table — tiny, broadcastable). Wall-clock parallelism is
the bucket count; no stage touches more than one bucket's rows per
task. The same decomposition as pack_sequences' two-phase prefix sum
(operators/text.py), generalized to ranking.

Because the bucket split is order-aligned, the result is IDENTICAL to
the naive global row_number — which is what lets a single-node oracle
replay it with one plain window while the engine runs distributed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from neo4j_dynagraph_spark.operators.hub import checkpoint_hub


def two_phase_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list,
    rank_col: str = "rank",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Global 1-based dense row rank over ``order_cols``, computed as
    bucket-local row_numbers plus broadcast bucket offsets.

    ``bucket`` MUST be order-aligned with ``order_cols`` (monotone
    coarsening of the first sort key — e.g. its high bits, or the key
    itself when its cardinality is bounded); this is what makes the
    two-phase rank equal the global one. Ties must be broken to a
    total order by the tail of ``order_cols`` or ranks are
    nondeterministic.

    ``group_cols`` ranks each group on its own (the grouped form a
    per-stratum quota sampler needs): buckets split WITHIN each group,
    the offset prefix-sum runs per group over the tiny
    (groups x buckets) count table, and no task ever holds more than
    one (group, bucket) slice — the same reason the ungrouped form
    never holds more than one bucket. A plain
    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` would sort
    each ENTIRE group in one task, which at 100 TB with a handful of
    strata is the one-partition window again, just multiplied by the
    stratum count.
    """
    from functools import reduce

    groups = list(group_cols or [])
    keys = [*groups, "_b"]
    d = df.withColumn("_b", bucket)
    w_local = Window.partitionBy(*keys).orderBy(*order_cols)
    d = d.withColumn("_rn", F.row_number().over(w_local))
    cnt = d.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy(*groups).orderBy("_b")
        if groups
        else Window.orderBy("_b")
    ).rowsBetween(Window.unboundedPreceding, -1)
    off = cnt.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0))
    ).select(*keys, "_off")
    # the offset join must be NULL-SAFE: a plain equi-join silently
    # DROPS rows whose group key or bucket is NULL (NULL != NULL),
    # while the plain row_number() window this function promises to
    # equal ranks the NULL partition like any other — eqNullSafe keeps
    # the equality for arbitrary inputs (still a broadcast hash join;
    # null-safe equality is a hash key)
    off_a = off.select(
        *[F.col(c).alias(f"_o_{c}") for c in keys], "_off"
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_o_{c}")) for c in keys],
    )
    return (
        d.join(F.broadcast(off_a), cond)
        .withColumn(rank_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off", *[f"_o_{c}" for c in keys])
    )


def time_shuffle(
    interactions: DataFrame,
    seed: str = "null:",
    hash_bucket_bits: int = 10,
) -> DataFrame:
    """Deterministic time-shuffled null model of a temporal edge
    stream: the multiset of frames and the per-pair occurrence counts
    are preserved, but WHICH frame each interaction lands in is a
    pseudorandom permutation — the SocioPatterns null model that
    separates genuine temporal structure (burstiness, inter-contact
    gaps) from what pure contact frequencies already imply.

    Input (frame_id, actor1, actor2) interaction instances; output the
    same columns with frame_id permuted. The permutation is the rank
    join of two global orders — rows by portable 60-bit hash (the
    pseudorandom order) and rows by (frame_id, actor1, actor2) (the
    time order) — both computed with :func:`two_phase_rank`, so an
    independent engine replays the exact permutation with two plain
    row_number windows.
    """
    from neo4j_dynagraph_spark import functions as dfn

    # r13: e feeds BOTH rank sides, and two_phase_rank references its
    # input twice — four executions of the upstream edge derivation
    # without the cut (guide §1.2 step 1). Window-scoped edge set.
    e = interactions.select("frame_id", "actor1", "actor2").transform(
        checkpoint_hub
    )
    hk = dfn.hash64(
        F.concat(
            F.lit(seed),
            F.col("frame_id").cast("string"),
            F.lit("_"),
            F.col("actor1").cast("string"),
            F.lit("_"),
            F.col("actor2").cast("string"),
        )
    )
    # hash keys are uniform on [0, 2^60): the top bits are an
    # order-aligned bucket by construction
    side_a = two_phase_rank(
        e.withColumn("_hk", hk),
        F.expr(f"_hk div {1 << (60 - hash_bucket_bits)}"),
        [F.col("_hk"), "frame_id", "actor1", "actor2"],
        rank_col="r",
    ).select("actor1", "actor2", "r")
    side_b = two_phase_rank(
        e,
        F.col("frame_id"),
        ["frame_id", "actor1", "actor2"],
        rank_col="r",
    ).select(F.col("frame_id"), "r")
    return side_a.join(side_b, "r").select("frame_id", "actor1", "actor2")
