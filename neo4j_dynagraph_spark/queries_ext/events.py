"""Event-log / TPC-H family: funnels, retention, transitions, intervals,
RFM segmentation, outliers.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.queries import SPELL_LEN, query
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub
from neo4j_dynagraph_spark.sources.tables import load_table



@query(
    "q_json_props",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_sum
FROM events GROUP BY 1 ORDER BY k
""",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the JSON property `k` out of
    the events.props payload column (get_json_object, JVM-side — the
    100 TB shape keeps JSON parsing inside codegen, no Python) and
    aggregate per key. Decimal-exact sum per the cross-engine float
    rule."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"), "value"
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("value_sum"),
        )
        .orderBy("k")
    )


@query(
    "q_rolling_active",
    oracle="""
WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM p),
c AS (SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day,
             user_id
      FROM p),
w AS (SELECT c.day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM c JOIN days USING (day) GROUP BY 1),
d AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM p GROUP BY 1)
SELECT day, dau, wau FROM d JOIN w USING (day) ORDER BY day
""",
)
def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling activity: per day, DAU and trailing-7-day WAU (distinct
    users active in [day-6, day]) — the freshness dashboard every
    activity pipeline runs. Scale shape: distinct (day, user) pairs
    first (the only corpus-sized aggregate, map-side combined), then
    each pair EXPLODES into the <= 7 output days it contributes to and
    the rolling distinct becomes a plain equi-shuffled
    count(DISTINCT) — no range join (a day-grid x pairs non-equi join
    would plan BroadcastNestedLoopJoin) and no 7-day window scan per
    day. The day grid is semi-joined back so partial future windows
    past the last active day are not emitted."""
    ev = load_table(spark, sf_dir, "events")
    # r13 (guide §1.2 step 1): the distinct (day, user) presence set
    # feeds THREE branches (day grid, the 7-day contribution explode,
    # DAU) and each re-ran the corpus scan + distinct shuffle —
    # checkpoint the narrow presence fact once (the q_actor_churn
    # precedent: activity-bounded, 2 narrow columns).
    p = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .transform(checkpoint_hub)
    )
    days = p.select("day").distinct()
    contrib = p.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    wau = (
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = p.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return dau.join(wau, "day").orderBy("day")


@query(
    "q_cohort_retention",
    oracle="""
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS offset_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, and
    for each (cohort, day-offset) the count of users still active —
    the standard product-analytics triangle. Shape: one distinct on
    (user, day), one min-agg for the cohort dimension, one broadcast
    join back (the cohort table is |users| rows of two narrow
    columns), one count agg. No window over the event stream."""
    ev = load_table(spark, sf_dir, "events")
    acts = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    firsts = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        acts.join(F.broadcast(firsts), "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("offset_days"),
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


@query(
    "q_funnel",
    oracle="""
WITH s AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events GROUP BY 1)
SELECT CAST(count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_signup,
       CAST(count(CASE WHEN t_signup < t_view THEN 1 END) AS BIGINT)
         AS n_signup_view,
       CAST(count(CASE WHEN t_signup < t_view AND t_view < t_purchase
                       THEN 1 END) AS BIGINT) AS n_full_funnel
FROM s
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> purchase: per user the FIRST
    timestamp of each stage (conditional min — one map-side-combined
    aggregation, no self-joins over the event log), then the strict
    time-ordering predicates count who progressed. The classic
    event-sequence analytic in its shuffle-minimal form: two
    aggregations total, no window, no n-way join of the log against
    itself."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):  # noqa: ANN202
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    s = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return s.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1))
        .alias("n_signup"),
        F.count(F.when(F.col("t_signup") < F.col("t_view"), 1))
        .alias("n_signup_view"),
        F.count(
            F.when(
                (F.col("t_signup") < F.col("t_view"))
                & (F.col("t_view") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "q_event_transitions",
    oracle="""
WITH s AS (SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
c AS (SELECT event_type AS prev_type, next_type, count(*) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
FROM c ORDER BY prev_type, next_type
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix: per-user lead window
    (ordered by ts with event_id tie-break, so simultaneous events
    sequence deterministically) -> pair counts -> row-normalized
    transition probability. The per-prev normalization runs as a
    window over the |types|^2 aggregate, not the event log. One
    shuffle on user_id, one on the type pair."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
    )
    cnt = seq.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("prev_type")
    return (
        cnt.select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@query(
    "q_conversion_latency",
    oracle="""
WITH s AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events GROUP BY 1),
l AS (SELECT date_diff('microsecond', t_signup, t_purchase) AS lat_us
      FROM s WHERE t_signup < t_purchase)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(lat_us, 0.5) AS p50_us,
       quantile_cont(lat_us, 0.9) AS p90_us,
       CAST(min(lat_us) AS BIGINT) AS min_us,
       CAST(max(lat_us) AS BIGINT) AS max_us
FROM l
""",
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per-user first-signup ->
    first-purchase latency (conditional-min aggregation, no log
    self-join) reduced to exact interpolated percentiles over the
    integer microsecond latencies (Spark `percentile` == DuckDB
    `quantile_cont` bit-exact over the same integers — the q_quantiles
    equivalence reused). Two aggregations, second one over |users|
    rows."""
    # first-touch instants via the contract's exact ts_ns longs (the
    # normalized `ts` may be TIMESTAMP_NTZ, which unix_micros rejects;
    # integer nanos sidestep the arrival type entirely). Both the
    # conversion filter and the latency use MICROSECOND-truncated
    # instants (ts_ns div 1000 per side — min/div commute since div is
    # monotone), matching the oracle's truncate-then-diff semantics
    # exactly even for sub-microsecond ns arrivals, where filtering on
    # raw ns then diffing would diverge at the boundary.
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "signup", F.expr("ts_ns div 1000")
            )
        ).alias("t_signup_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.expr("ts_ns div 1000")
            )
        ).alias("t_purchase_us"),
    )
    lat = s.where(F.col("t_signup_us") < F.col("t_purchase_us")).select(
        (F.col("t_purchase_us") - F.col("t_signup_us")).alias("lat_us")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(lat_us, 0.5)").alias("p50_us"),
        F.expr("percentile(lat_us, 0.9)").alias("p90_us"),
        F.min("lat_us").alias("min_us"),
        F.max("lat_us").alias("max_us"),
    )


@query(
    "q_campaign_overlap",
    oracle=f"""
WITH s AS (SELECT event_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t1,
                  CAST(floor(epoch(ts)) AS BIGINT) + {SPELL_LEN} AS t2
           FROM events WHERE event_type = 'signup'),
pu AS (SELECT event_id, user_id,
              CAST(floor(epoch(ts)) AS BIGINT) AS t1,
              CAST(floor(epoch(ts)) AS BIGINT) + {SPELL_LEN} AS t2
       FROM events WHERE event_type = 'purchase')
SELECT pu.event_id AS e2,
       CAST(count(*) AS BIGINT) AS n_overlaps,
       CAST(sum(least(s.t2, pu.t2) - greatest(s.t1, pu.t1)) AS BIGINT)
         AS sum_overlap_s
FROM pu JOIN s ON s.t1 < pu.t2 AND pu.t1 < s.t2
GROUP BY 1 ORDER BY 1
""",
    bench=True,
)
def q_campaign_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-RELATION interval join: for every purchase spell, the count
    and total seconds of concurrently-open signup spells (the
    campaign-exposure / readings-x-maintenance-windows shape the
    self-join form can't express). Same bucketed hash-join engine —
    both relations bucket-replicated, equi-join on bucket,
    first-shared-bucket exactly-once — via
    operators/intervals.py:interval_overlap_join(right=...), whose
    auto-sizer reads the bucket off the UNION of both interval sets;
    the oracle's plain theta-join verifies the engine's bucketed plan
    at any width. Aggregated per right-interval so the terminal is
    |purchases|-bounded, not |pairs|-bounded."""
    from neo4j_dynagraph_spark import functions as dfn
    from neo4j_dynagraph_spark.operators.intervals import interval_overlap_join
    from neo4j_dynagraph_spark.queries import _events

    ev = _events(spark, sf_dir)
    es = dfn.epoch_seconds(F.col("ts"))

    def spells(event_type: str) -> DataFrame:
        return ev.where(F.col("event_type") == event_type).select(
            "event_id",
            "user_id",
            es.alias("t1"),
            (es + SPELL_LEN).alias("t2"),
        )

    pairs = interval_overlap_join(spells("signup"), right=spells("purchase"))
    return (
        pairs.groupBy(F.col("e2"))
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum("overlap_s").alias("sum_overlap_s"),
        )
        .orderBy("e2")
    )


@query(
    "q_event_outliers",
    oracle="""
WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
           FROM events GROUP BY 1),
j AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)),
m2 AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
       FROM j GROUP BY 1)
SELECT j.event_type, CAST(count(*) AS BIGINT) AS n_events,
       any_value(j.med) AS med, any_value(m2.mad) AS mad,
       CAST(sum(CASE WHEN j.dev > 4.4478 * m2.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(max(j.dev), 6) AS max_dev
FROM j JOIN m2 USING (event_type)
GROUP BY 1 ORDER BY event_type
""",
)
def q_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier audit of event values per type:
    |value - median| > 3 * 1.4826 * MAD (the 4.4478 literal, identical
    in both engines) flags values a z-score rule would miss whenever
    the mean/stddev are themselves dragged by the outliers. Two
    percentile aggregates with the per-type stats tables re-attached
    by BROADCAST (event-type cardinality is bounded); med/mad are
    rounded at 1e-6 BEFORE the threshold compare so every engine flags
    the identical rows. At 100 TB swap the exact percentile for the
    GK sketch / hash-sample twin (q_approx_quantiles /
    q_sample_quantiles) — the flagging pass is unchanged."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # r13: m and m2 are the tiny per-type stats tables, each broadcast
    # into a branch that re-references the event stream — checkpoint
    # both so the exact-percentile aggregates run once each (j itself
    # stays unmaterialized: event-row-sized, two cheap scans)
    m = (
        ev.groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"))
        .transform(checkpoint_hub)
    )
    j = ev.join(F.broadcast(m), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    m2 = (
        j.groupBy("event_type")
        .agg(F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad"))
        .transform(checkpoint_hub)
    )
    return (
        j.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") > 4.4478 * F.col("mad"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("dev"), 6).alias("max_dev"),
        )
        .orderBy("event_type")
    )


def _rfm_rank_sql(measure: str, order: str, name: str) -> str:
    """Quintile via explicit row_number arithmetic (NOT ntile — its
    remainder distribution is engine-defined; floor((rn-1)*5/N)+1 is
    exact everywhere)."""
    return (
        f"SELECT o_custkey, CAST(floor((row_number() OVER "
        f"(ORDER BY {measure} {order}, o_custkey) - 1) * 5 "
        f"/ CAST(nc AS DOUBLE)) + 1 AS INTEGER) AS {name} FROM cust, n"
    )


@query(
    "q_rfm_segments",
    oracle=f"""
WITH cust AS (SELECT o_custkey,
                     max(o_orderdate) AS last_order,
                     count(*) AS n_orders,
                     sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
              FROM orders GROUP BY 1),
n AS (SELECT count(*) AS nc FROM cust),
r AS ({_rfm_rank_sql("last_order", "DESC", "r_score")}),
f AS ({_rfm_rank_sql("n_orders", "DESC", "f_score")}),
m AS ({_rfm_rank_sql("spend", "DESC", "m_score")})
SELECT r.r_score, f.f_score, m.m_score,
       CAST(count(*) AS BIGINT) AS n_customers
FROM r JOIN f USING (o_custkey) JOIN m USING (o_custkey)
GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles; quintile 1 = best) — the classic value-segmentation
    cube. Each quintile comes from the TWO-PHASE distributed rank
    (operators/rank.py) over the customer dimension, never a
    one-partition window, with explicit floor((rn-1)*5/N) bucket
    arithmetic instead of engine-defined ntile remainders — which is
    what lets the plain-window oracle replay every assignment. The
    terminal is the <=125-row segment cube. Monetary ranks on the
    DECIMAL-exact spend."""
    from neo4j_dynagraph_spark.operators.rank import two_phase_rank

    orders = load_table(spark, sf_dir, "orders")
    # r13: cust feeds the row count plus three two-phase ranks (each
    # referencing its input twice) — 7 executions of the orders
    # aggregate without the checkpoint (audited plan: 18 parquet
    # scans). Customer-dimension rows, 4 narrow columns.
    cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    ).transform(checkpoint_hub)
    nrow = cust.agg(F.count(F.lit(1)).cast("double").alias("nc"))

    def quintile(measure, bucket, name: str) -> DataFrame:  # noqa: ANN001
        # rank ASCENDING on a numeric proxy where smaller = better
        # (== the oracle's DESC rank on the raw measure), with an
        # order-aligned COARSE bucket so the offset table stays tiny
        # (two_phase_rank's contract: a monotone coarsening of the
        # first sort key, never the data-sized key itself)
        ranked = two_phase_rank(
            cust.select("o_custkey", measure.alias("_m")),
            bucket=bucket,
            order_cols=[F.col("_m"), F.col("o_custkey")],
            rank_col="rn",
        )
        return ranked.crossJoin(F.broadcast(nrow)).select(
            "o_custkey",
            (
                F.floor((F.col("rn") - 1) * 5 / F.col("nc")) + 1
            )
            .cast("int")
            .alias(name),
        )

    m_col = F.col("_m")  # bucket expressions resolve against the
    # (o_custkey, _m) projection two_phase_rank actually receives
    r = quintile(
        -F.unix_timestamp("last_order"), F.floor(m_col / 86400), "r_score"
    )
    f = quintile(-F.col("n_orders"), m_col, "f_score")
    m = quintile(-F.col("spend"), F.floor(m_col / 1000), "m_score")
    return (
        r.join(f, "o_custkey")
        .join(m, "o_custkey")
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q_scd2_history",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id
           FROM events),
c AS (SELECT user_id, event_type, t_us, event_id,
             CASE WHEN lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY t_us, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM e),
i AS (SELECT user_id, event_type, t_us, event_id,
             sum(chg) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
                 AS island
      FROM c),
v AS (SELECT user_id, island, min(t_us) AS from_us,
             min(event_id) AS eid, min(event_type) AS event_type
      FROM i GROUP BY 1, 2)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
       md5(string_agg(event_type || '@' || from_us, '|'
                      ORDER BY from_us, eid)) AS version_hash
FROM v GROUP BY 1 ORDER BY user_id
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD2) history reconstruction from the
    event log — the CDC-to-dimension operator every warehouse ingest
    needs: per user, consecutive runs of the same event_type collapse
    into validity VERSIONS (gaps-and-islands: change flag on lag
    inequality, running-sum island id, min-instant per island), and
    the full ordered version history is exported as one md5 per user
    (vocab_prune's rebuild stance: O(users) output rows, every
    interval still verified bit-for-bit). Instants are the contract's
    exact integer microseconds (ts_ns div 1000 == DuckDB epoch_us)
    with event_id as the deterministic same-instant tie-break.

    Scale shape: one shuffle on user_id shared by both windows and the
    two aggregates (per-user state bounded by that user's events);
    the version table is runs-bounded, the terminal |users|-bounded.
    Oracle replays islands, versions, and the history hash."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    c = ev.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    i = c.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    v = i.groupBy("user_id", "island").agg(
        F.min("t_us").alias("from_us"),
        # min event_id is the same-instant tie-break for the history
        # ordering (two versions CAN share from_us when types flip at
        # one instant; without it the hash order is engine-dependent —
        # caught by the planted fixture)
        F.min("event_id").alias("eid"),
        F.min("event_type").alias("event_type"),
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_versions"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.expr(
                        "transform(array_sort(collect_list(struct(from_us, "
                        "eid, event_type))), s -> concat(s.event_type, "
                        "'@', s.from_us))"
                    ),
                )
            ).alias("version_hash"),
        )
        .orderBy("user_id")
    )


@query(
    "q_pit_features",
    oracle="""
WITH u AS (SELECT event_id, user_id, epoch_us(ts) AS eus, event_type, value
           FROM events WHERE event_type IN ('purchase', 'view')),
w AS (SELECT event_id, event_type,
        COALESCE(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
          PARTITION BY user_id ORDER BY eus
          RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), 0) AS n_views_7d,
        COALESCE(sum(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END) OVER (
          PARTITION BY user_id ORDER BY eus
          RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), 0.0) AS vsum
      FROM u)
SELECT event_id, CAST(n_views_7d AS BIGINT) AS n_views_7d,
       round(vsum, 6) AS val_views_7d
FROM w WHERE event_type = 'purchase' ORDER BY event_id
""",
)
def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct feature join — the feature-store operator
    that prevents label leakage in training tables: for every purchase
    event, the user's trailing-7-day view count and view-value sum
    computed over STRICTLY EARLIER micros (a RANGE frame ending 1
    microsecond before the anchor, so a same-instant view can never
    leak into its own label's features).

    Scale shape: purchases and views ride ONE union and ONE shuffle on
    user_id; the RANGE window frame is value-based on exact
    epoch-micros (same-instant ties excluded by the frame bound, not by
    sort order — deterministic in every engine), bounded by each user's
    7-day activity. No self-join, no per-event probe. Oracle replays
    the union, the frame arithmetic, and the leakage cutoff."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    eus = F.expr("ts_ns div 1000")
    u = ev.select("event_id", "user_id", eus.alias("eus"), "event_type", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("eus")
        .rangeBetween(-604_800_000_000, -1)
    )
    is_view = F.col("event_type") == "view"
    return (
        u.withColumn(
            "n_views_7d",
            F.coalesce(
                F.sum(F.when(is_view, 1).otherwise(0)).over(w), F.lit(0)
            ).cast("long"),
        )
        .withColumn(
            "vsum",
            F.coalesce(
                F.sum(F.when(is_view, F.col("value")).otherwise(0.0)).over(w),
                F.lit(0.0),
            ),
        )
        .where(F.col("event_type") == "purchase")
        .select("event_id", "n_views_7d", F.round("vsum", 6).alias("val_views_7d"))
        .orderBy("event_id")
    )


@query(
    "q_skew_audit",
    oracle="""
WITH c AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
r AS (SELECT k, cnt, row_number() OVER (ORDER BY cnt, k) AS rn FROM c),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows FROM c),
p AS (SELECT
        max(CASE WHEN rn = CAST(floor((n_keys - 1) * 0.5) AS BIGINT) + 1
            THEN cnt END) AS p50_cnt,
        max(CASE WHEN rn = CAST(floor((n_keys - 1) * 0.99) AS BIGINT) + 1
            THEN cnt END) AS p99_cnt
      FROM r, g),
t AS (SELECT r.k, r.cnt, g.n_keys - r.rn + 1 AS heavy_rank,
             g.n_keys, g.n_rows
      FROM r, g WHERE r.rn > g.n_keys - 10)
SELECT CAST(heavy_rank AS BIGINT) AS heavy_rank, k AS partkey,
       CAST(cnt AS BIGINT) AS cnt,
       round(cnt / CAST(n_rows AS DOUBLE), 6) AS share,
       round(cnt * n_keys / CAST(n_rows AS DOUBLE), 6) AS x_mean,
       n_keys, n_rows,
       CAST(p50_cnt AS BIGINT) AS p50_cnt, CAST(p99_cnt AS BIGINT) AS p99_cnt
FROM t, p ORDER BY heavy_rank
""",
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit for lineitem.l_partkey — the operational
    pre-join diagnostic behind every salting/AQE-skew-join decision
    (SCALE.md's skew-stress methodology as a first-class query): the
    10 heaviest keys with their row share and multiple-of-mean, plus
    nearest-rank p50/p99 of the per-key count distribution. A key at
    x_mean >> p99/mean is the one you salt.

    Scale shape: ONE map-side-combined count per key, then everything
    runs on the |keys|-sized count table ranked by the TWO-PHASE
    global rank (no one-partition window even when |keys| is
    billions); the heavy-10 cut and both percentiles read off that
    rank, global stats ride as a broadcast 1-row dim. Oracle replays
    the rank with the plain window it provably equals."""
    from neo4j_dynagraph_spark.operators.rank import two_phase_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    cnts = li.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    # r13: ranked feeds the global stats, both percentile probes and
    # the heavy-10 cut — checkpoint the |keys|-row rank table once so
    # the lineitem count + two-phase rank run once, not 4x (audited
    # plan: 16 parquet scans)
    ranked = two_phase_rank(
        cnts,
        bucket=F.floor(F.col("cnt") / 8),
        order_cols=[F.col("cnt"), F.col("k")],
        rank_col="rn",
    ).transform(checkpoint_hub)
    glob = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    wg = ranked.join(F.broadcast(glob))
    pct = wg.agg(
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n_keys") - 1) * 0.5).cast("long") + 1,
                F.col("cnt"),
            )
        )
        .cast("long")
        .alias("p50_cnt"),
        F.max(
            F.when(
                F.col("rn")
                == F.floor((F.col("n_keys") - 1) * 0.99).cast("long") + 1,
                F.col("cnt"),
            )
        )
        .cast("long")
        .alias("p99_cnt"),
    )
    return (
        wg.where(F.col("rn") > F.col("n_keys") - 10)
        .join(F.broadcast(pct))
        .select(
            (F.col("n_keys") - F.col("rn") + 1).cast("long").alias("heavy_rank"),
            F.col("k").alias("partkey"),
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("n_rows").cast("double"), 6).alias(
                "share"
            ),
            F.round(
                (F.col("cnt") * F.col("n_keys")) / F.col("n_rows").cast("double"),
                6,
            ).alias("x_mean"),
            "n_keys",
            "n_rows",
            "p50_cnt",
            "p99_cnt",
        )
        .orderBy("heavy_rank")
    )
