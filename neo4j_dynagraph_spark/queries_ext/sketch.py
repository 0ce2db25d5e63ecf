"""Sketch family: KMV distinct, sample quantiles, Count-Min, HRW shards.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import text
from neo4j_dynagraph_spark.queries import query
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub
from neo4j_dynagraph_spark.sources.tables import load_table

from neo4j_dynagraph_spark.queries_ext._shared import _H64, _TOK, _docs


@query("q_approx_distinct")
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per event_type (SURVEY.md §2.4
    'not present' extension): at 100 TB approx_count_distinct replaces
    the two-shuffle exact countDistinct with mergeable constant-size
    state. No SQL oracle (HLL estimates are engine-specific); the exact
    value sits alongside for the rows-only check and the unit test
    asserts <5% relative error."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q_kmv_distinct",
    oracle=f"""
WITH v AS (SELECT DISTINCT event_type,
                  (({_H64.format(x="'kmv:' || user_id")}) + 1)
                    / 1152921504606846976.0 AS u
           FROM events),
r AS (SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM v),
s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen,
             round(CASE WHEN max(CASE WHEN rn = 64 THEN u END) IS NOT NULL
                        THEN 63 / max(CASE WHEN rn = 64 THEN u END)
                        ELSE count(*) END, 6) AS est_distinct
      FROM r WHERE rn <= 64 GROUP BY 1),
x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1)
SELECT s.event_type, s.n_seen, s.est_distinct, x.exact_distinct,
       round(abs(s.est_distinct - x.exact_distinct) / x.exact_distinct, 6)
         AS rel_err
FROM s JOIN x USING (event_type) ORDER BY s.event_type
""",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via the PORTABLE KMV
    sketch (operators/sketch.py) — the cross-engine-verifiable twin of
    q_approx_distinct's engine-native HLL: the oracle replays the
    whole sketch (portable hash -> k smallest -> (k-1)/u_k estimator)
    and the ESTIMATE ITSELF hash-matches, alongside the exact count
    and the realized relative error. Use HLL for raw speed on one
    global key; use KMV when the estimate must be auditable by an
    independent engine."""
    from neo4j_dynagraph_spark.operators.sketch import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    est = kmv_distinct(ev, "event_type", F.col("user_id"), k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_seen",
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@query(
    "q_sample_quantiles",
    oracle=f"""
WITH s AS (SELECT event_type, value FROM events
           WHERE ({_H64.format(x="'qs:' || event_id")}) % 20 = 0),
a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
             round(quantile_cont(value, 0.5), 6) AS p50_sample
      FROM s GROUP BY 1),
x AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50_exact
      FROM events GROUP BY 1)
SELECT a.event_type, a.n_sample, a.p50_sample, x.p50_exact,
       round(abs(a.p50_sample - x.p50_exact), 6) AS abs_err
FROM a JOIN x USING (event_type) ORDER BY a.event_type
""",
)
def q_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via DETERMINISTIC hash sampling — the
    portable, cross-engine-auditable twin of q_approx_quantiles' GK
    sketch (the same relationship q_kmv_distinct has to HLL): a 5%
    subset selected by the portable hash (every engine picks the SAME
    rows — no RNG state, re-runs identical), exact interpolated
    median over the sample beside the full-data exact, with the
    realized error. At 100 TB the sample is what you push through the
    exact percentile; the hash filter is map-side and the sampled
    aggregate's state is 5% of the group."""
    import neo4j_dynagraph_spark.functions as dfn

    ev = load_table(spark, sf_dir, "events")
    samp = ev.where(
        dfn.hash64(
            F.concat(F.lit("qs:"), F.col("event_id").cast("string"))
        )
        % 20
        == 0
    )
    # round(x, 6) on BOTH engines — the repo's cross-engine rule for
    # every exported double aggregate: Spark percentile vs DuckDB
    # quantile_cont bit-equality is only established for integer
    # inputs, so unrounded doubles risk a 1-ulp interpolation gap
    a = samp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_sample"),
    )
    x = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact")
    )
    return (
        a.join(x, "event_type")
        .select(
            "event_type",
            "n_sample",
            "p50_sample",
            "p50_exact",
            F.round(
                F.abs(F.col("p50_sample") - F.col("p50_exact")), 6
            ).alias("abs_err"),
        )
        .orderBy("event_type")
    )


@query(
    "q_cms_freq",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
u AS (SELECT unnest(t) AS token FROM tok),
freq AS (SELECT token, count(*) AS cnt FROM u GROUP BY 1),
top AS (SELECT token, cnt FROM freq ORDER BY cnt DESC, token LIMIT 20),
cells AS (SELECT r, {_H64.format(x="'cms' || r || ':' || token")} % 1024 AS c,
                 count(*) AS cnt
          FROM u, UNNEST([0, 1, 2, 3]) AS sd(r) GROUP BY 1, 2),
pr AS (SELECT token, r,
              {_H64.format(x="'cms' || r || ':' || token")} % 1024 AS c
       FROM top, UNNEST([0, 1, 2, 3]) AS sd(r)),
est AS (SELECT pr.token, min(cells.cnt) AS cms_est
        FROM pr JOIN cells ON cells.r = pr.r AND cells.c = pr.c
        GROUP BY 1)
SELECT top.token, CAST(top.cnt AS BIGINT) AS exact_cnt,
       CAST(est.cms_est AS BIGINT) AS cms_est,
       CAST(est.cms_est - top.cnt AS BIGINT) AS overshoot
FROM top JOIN est USING (token) ORDER BY exact_cnt DESC, top.token
""",
)
def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates graded against exact
    counts for the top-20 tokens — the third portable sketch beside
    KMV (cardinality) and hash-sample quantiles: d=4 x w=1024
    counters whose shuffle is sketch-sized (map-side combine collapses
    to <= d*w cells per partition), probed by broadcast. CMS's
    one-sided guarantee (est >= exact) is pinned by unit test; the
    overshoot column measures the realized error. Oracle replays every
    counter and every probe. r13 (guide §1.2/§2.2): the exact top-20
    and the sketch both need the corpus token counts, so ONE
    checkpointed vocab-sized frequency table feeds both — the sketch
    counters come from cms_table_from_counts (integer sums, bit-equal
    to the occurrence-stream build) instead of a second corpus
    tokenize+explode."""
    from neo4j_dynagraph_spark.operators.sketch import (
        cms_probe,
        cms_table_from_counts,
    )

    freq = text.token_frequencies(_docs(spark, sf_dir)).transform(
        checkpoint_hub
    )
    top = freq.orderBy(F.desc("cnt"), "token").limit(20)
    est = cms_probe(cms_table_from_counts(freq), top.select("token"))
    return (
        top.join(est, "token")
        .select(
            "token",
            F.col("cnt").cast("long").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("long").alias("overshoot"),
        )
        .orderBy(F.desc("exact_cnt"), "token")
    )


@query(
    "q_hrw_shards",
    oracle=f"""
WITH sd AS (SELECT unnest(range(0, 9)) AS s),
hs AS (SELECT doc_id, s,
              {_H64.format(x="'hrw' || s || ':' || doc_id")} AS h
       FROM documents, sd),
hrw AS (SELECT doc_id,
               arg_max(s, CASE WHEN s < 8 THEN h ELSE -1 END) AS shard_small,
               arg_max(s, h) AS shard_big
        FROM hs GROUP BY 1),
md AS (SELECT doc_id,
              {_H64.format(x="'shard:' || doc_id")} % 8 AS shard_small,
              {_H64.format(x="'shard:' || doc_id")} % 9 AS shard_big
       FROM documents),
a AS (SELECT 'hrw' AS scheme, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN shard_small <> shard_big THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved,
             round(sum(CASE WHEN shard_small <> shard_big THEN 1.0
                            ELSE 0.0 END) / count(*), 6) AS moved_frac
      FROM hrw
      UNION ALL
      SELECT 'mod', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN shard_small <> shard_big THEN 1 ELSE 0 END)
                  AS BIGINT),
             round(sum(CASE WHEN shard_small <> shard_big THEN 1.0
                            ELSE 0.0 END) / count(*), 6)
      FROM md)
SELECT * FROM a ORDER BY scheme
""",
)
def q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) sharding vs hash-mod, graded on resharding
    cost 8 -> 9 shards: HRW moves ~1/9 of the corpus (only docs whose
    NEW shard wins the hash tournament), hash-mod moves ~8/9 — at
    100 TB the difference between an 11% rebalance and an 89%
    rewrite; `q_train_shards`' mod layout is the static-shard-count
    fast path, this is the elastic one. Deterministic portable-hash
    tournament, one explode + one groupBy, 2-row terminal. Oracle
    replays every tournament and both mod assignments."""
    return text.hrw_shard_migration(_docs(spark, sf_dir), n_small=8)


@query(
    "q_join_size_est",
    oracle=f"""
WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS token FROM lineitem),
cells AS (SELECT r, {_H64.format(x="'cms' || r || ':' || token")} % 1024 AS c,
                 count(*) AS cnt
          FROM k, UNNEST([0, 1, 2, 3]) AS sd(r) GROUP BY 1, 2),
f2 AS (SELECT r, sum(cnt * cnt) AS s FROM cells GROUP BY 1),
ex AS (SELECT sum(cnt * cnt) AS exact_sj, count(*) AS n_keys,
              sum(cnt) AS n_rows
       FROM (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1))
SELECT CAST(ex.n_rows AS BIGINT) AS n_rows,
       CAST(ex.n_keys AS BIGINT) AS n_keys,
       CAST(ex.exact_sj AS BIGINT) AS exact_selfjoin,
       CAST(min(f2.s) AS BIGINT) AS cms_est,
       round(min(f2.s) / CAST(ex.exact_sj AS DOUBLE), 6) AS overshoot
FROM f2, ex GROUP BY ex.n_rows, ex.n_keys, ex.exact_sj
""",
)
def q_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based JOIN-SIZE estimation — the optimizer statistic
    behind q_skew_audit's warning: the self-join size on
    lineitem.l_partkey (SUM cnt_k^2 — exactly the pair-explosion
    volume a partkey-keyed self-join or co-purchase projection pays)
    estimated from the Count-Min sketch as min over rows of the
    per-row sum of squared counters (the AMS/CM inner-product bound:
    hash collisions only ADD cross terms, so est >= exact, one-sided
    like the point queries — test-pinned). At 100 TB this is how a
    planner prices a candidate join from d x w counters WITHOUT
    running it. One sketch-sized shuffle for the CMS, one per-key
    aggregate for the exact grading line; both terminals are 1-row.
    Oracle replays the sketch, both sums, and the ratio."""
    from neo4j_dynagraph_spark.operators.sketch import cms_table

    li = load_table(spark, sf_dir, "lineitem")
    occ = li.select(F.col("l_partkey").cast("string").alias("token"))
    sk = cms_table(occ)
    f2 = sk.groupBy("r").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s"))
    est = f2.agg(F.min("s").cast("long").alias("cms_est"))
    ex = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_selfjoin"),
        )
    )
    return ex.crossJoin(F.broadcast(est)).select(
        "n_rows",
        "n_keys",
        "exact_selfjoin",
        "cms_est",
        F.round(
            F.col("cms_est") / F.col("exact_selfjoin").cast("double"), 6
        ).alias("overshoot"),
    )
