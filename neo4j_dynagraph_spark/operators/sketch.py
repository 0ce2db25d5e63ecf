"""Portable cardinality sketch: k-minimum-values (KMV).

`approx_count_distinct` (HLL++) is the engine-native fast path, but
its register layout is engine-internal — no independent system can
verify the estimate, which is why q_approx_distinct is a rows-only
registry entry. KMV is the portable alternative: hash every value
with the repo's cross-engine 60-bit hash, keep the k smallest
normalized hashes per group, and estimate distinct = (k-1) / u_k
(u_k = the k-th smallest hash mapped into (0,1]; Bar-Yossef et al.'s
classic estimator). Every step is deterministic arithmetic over a
portable hash, so a DuckDB oracle replays the ENTIRE sketch and the
estimate hash-matches — the sketch you reach for when cross-engine
auditability of the estimate itself matters.

Scale shape: one dedup aggregate on (group, value) — map-side
combined — then a per-group row_number window over the deduped
stream and a k-row-per-group aggregate. State is O(k) per group; the
window partitions by group, so parallelism is the group count (use
the engine-native HLL when you need a single global count on one
key — or salt the dedup stage, which is the only corpus-sized step).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from neo4j_dynagraph_spark import functions as dfn

_TWO_60 = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value: Column,
    k: int = 64,
    seed: str = "kmv:",
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Columns: <group_col>, n_seen (values held by the sketch —
    min(k, group's distinct count)), est_distinct (the KMV estimate;
    when the sketch is not full the group's distinct count was
    observed exactly and is returned as-is), both deterministic.
    Estimate rounded at 1e-6 (the cross-engine float rule).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    return kmv_estimate(kmv_hashes(df, group_col, value, seed), group_col, k)


def kmv_hashes(
    df: DataFrame, group_col: str, value: Column, seed: str = "kmv:"
) -> DataFrame:
    """The distinct (group, u) normalized hashes a KMV sketch keeps the
    k smallest of: u = (hash64(seed || value) + 1) / 2^60 maps the
    uniform 60-bit hash into (0, 1]. Shared by the batch sketch and
    the streaming one (streaming/kmv.py), so both hash alike."""
    u = (dfn.hash64(F.concat(F.lit(seed), value.cast("string"))) + 1) / F.lit(
        _TWO_60
    )
    return df.select(F.col(group_col), u.alias("u")).distinct()


def kmv_estimate(vals: DataFrame, group_col: str, k: int) -> DataFrame:
    """n_seen / est_distinct from a (group, u) relation of DISTINCT
    normalized hashes in (0, 1] — only each group's k smallest matter,
    so the input may be the full deduped hash stream (kmv_distinct's
    batch path) or an incrementally-maintained pruned sketch of at
    most k rows per group (streaming/kmv.py); both yield the
    identical estimate because KMV merge is exactly 'keep the k
    smallest of the union'."""
    w = Window.partitionBy(group_col).orderBy("u")
    topk = vals.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    return (
        topk.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.max(F.when(F.col("rn") == k, F.col("u"))).alias("u_k"),
        )
        .select(
            group_col,
            F.col("n_seen").cast("long"),
            F.round(
                F.when(F.col("u_k").isNotNull(), (F.lit(k) - 1) / F.col("u_k"))
                .otherwise(F.col("n_seen").cast("double")),
                6,
            ).alias("est_distinct"),
        )
    )


def _cms_cells(d: int, w: int) -> Column:
    """A ``token``'s d Count-Min cells: the array of (r, c) structs,
    c = hash64('cms<r>:' || token) mod w — the one cell expression of
    the counter table, its pre-aggregated twin and the probe."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(
                    dfn.hash64(F.concat(F.lit(f"cms{r}:"), F.col("token"))),
                    F.lit(w),
                ).alias("c"),
            )
            for r in range(d)
        ]
    )


def cms_table(tokens: DataFrame, d: int = 4, w: int = 1024) -> DataFrame:
    """Count-Min sketch counter table over a token stream — the
    portable frequency sketch joining KMV (cardinality) and the
    hash-sample quantiles: d hash rows x w counters, built with the
    repo's cross-engine hash so an independent SQL engine replays
    every counter. CMS guarantees estimate >= true count (one-sided,
    like the Bloom filter's membership error).

    One pass: each occurrence explodes into its d (row, col) cells in
    a single generator, then ONE groupBy — map-side combine collapses
    to <= d*w cells per partition, so the shuffle is sketch-sized
    (d*w rows), never stream-sized. At 100 TB this is the frequency
    table you can afford to broadcast when the true vocabulary can't.

    Input: DataFrame with a ``token`` column, one row per occurrence.
    Columns: r, c, cnt.
    """
    return (
        tokens.select(F.explode(_cms_cells(d, w)).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_table_from_counts(
    counts: DataFrame, d: int = 4, w: int = 1024
) -> DataFrame:
    """:func:`cms_table` built from a pre-aggregated ``(token, cnt)``
    frequency table instead of the raw occurrence stream: each cell's
    counter is ``sum(cnt)`` over the tokens hashing there — integer
    sums grouped the same way, so the counter table is BIT-EQUAL to
    cms_table over the occurrences the counts summarize (pinned by
    unit test). The win is input volume: the d-cell explode runs over
    ~|vocab| rows instead of every corpus occurrence (r13, guide §2.2
    — shuffle and process fewer bytes when an upstream aggregate
    already exists). Columns: r, c, cnt.
    """
    return (
        counts.select(F.explode(_cms_cells(d, w)).alias("cell"), "cnt")
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimates(
    tokens: DataFrame, probe: DataFrame, d: int = 4, w: int = 1024
) -> DataFrame:
    """CMS point estimates for the tokens in ``probe`` (a small table
    with a ``token`` column): est = min over the d rows of the
    token's counter. The d*w sketch re-attaches by BROADCAST, so the
    probe is map-side. Columns: token, cms_est.
    """
    return cms_probe(cms_table(tokens, d, w), probe, d, w)


def cms_probe(
    sk: DataFrame, probe: DataFrame, d: int = 4, w: int = 1024
) -> DataFrame:
    """Probe a PREBUILT (r, c, cnt) sketch — the shared read path for
    the batch cms_table and the incrementally-maintained streaming
    sketch (streaming/cms.py), which are bit-equal counter tables.
    Columns: token, cms_est."""
    probes = probe.select(
        "token", F.explode(_cms_cells(d, w)).alias("cell")
    ).select("token", "cell.r", "cell.c")
    # LEFT join + coalesce-to-0: a probe token hashing to a cell with no
    # counter row has a true CMS count of 0 there, and the per-token min
    # must see that 0 — an inner join would silently drop fully-unseen
    # tokens and OVERestimate partially-unseen ones from their present
    # cells only.
    return (
        probes.join(F.broadcast(sk), ["r", "c"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("cms_est")
        )
    )
