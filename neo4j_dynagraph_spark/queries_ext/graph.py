"""Graph family: LPA, k-core/k-truss, contact matrices, temporal paths,
link prediction, node features, null models.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import graph
from neo4j_dynagraph_spark.queries import (
    ACTOR1,
    _EDGES_FROM_P,
    DAY,
    DELTA,
    HOUR,
    MONTH,
    YEAR,
    _edges,
    _presence_sql,
    query,
)
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub
from neo4j_dynagraph_spark.sources.tables import load_table

from neo4j_dynagraph_spark.queries_ext._shared import _DAY_WHERE, _H64


def _lpa_cte(n_iter: int) -> str:
    """DuckDB replay of graph.label_propagation: n_iter chained CTEs,
    each one synchronous round (neighbor-label count, argmax with
    smallest-label tie-break)."""
    parts = [
        "sym AS (SELECT actor1 AS src, actor2 AS dst FROM e "
        "UNION ALL SELECT actor2, actor1 FROM e)",
        "l0 AS (SELECT DISTINCT src AS actor, src AS community FROM sym)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"l{i} AS (SELECT src AS actor, community FROM (\n"
            f"  SELECT s.src, l.community, count(*) AS n,\n"
            f"         row_number() OVER (PARTITION BY s.src\n"
            f"           ORDER BY count(*) DESC, l.community) AS rk\n"
            f"  FROM sym s JOIN l{i - 1} l ON l.actor = s.dst\n"
            f"  GROUP BY s.src, l.community) WHERE rk = 1)"
        )
    return ",\n".join(parts)


@query(
    "q_communities_lpa",
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
{_lpa_cte(2)}
SELECT actor, community FROM l2 ORDER BY actor
""",
)
def q_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the hour-pruned contact graph via
    deterministic fixed-round synchronous label propagation
    (operators/graph.py:label_propagation): 2 rounds, min-label
    tie-break, no RNG — so the oracle replays the propagation
    round-for-round and the driver hash-checks the full community
    assignment, the same verify-the-whole-fit stance as q_semdedup's
    k-means."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = (
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1))
        .select("actor1", "actor2")
        .distinct()
    )
    return graph.label_propagation(edges, n_iter=2).orderBy("actor")


@query("q_ktruss")
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the full-range interaction graph: the maximal edge
    set where every edge closes >= 2 triangles inside the subgraph —
    the edge-level cohesion core beside q_kcore's node-level one.
    Iterative support peeling to the unique fixpoint
    (operators/graph.py:k_truss) — no ANSI-SQL oracle (rows-only
    check); the fixpoint semantics are pinned by a pure-Python peeling
    differential in tests/test_graph.py, and the bounded peel is
    hash-matched against an unrolled CTE oracle (q_ktruss_bounded).
    Full range (not the pinned hour) so every fixture SF — including
    sf0.001, where hour 10 has no co-presence at all — yields rows for
    the rows-only gate."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = (
        qmod._edges(spark, sf_dir).select("actor1", "actor2").distinct()
    )
    return graph.k_truss(edges, k=4)


def _degree_cap_sql(src: str, out: str, cap: int) -> str:
    """CTE blocks reducing edge set ``src`` to the subgraph induced by
    vertices of degree <= cap — the SQL twin of
    operators/graph.py:degree_cap_subgraph (both endpoints must clear
    the cap; degree counted on the distinct canonical set)."""
    return (
        f"degc AS (SELECT actor, count(*) AS d FROM ("
        f"SELECT actor1 AS actor FROM {src} "
        f"UNION ALL SELECT actor2 FROM {src}) GROUP BY 1),\n"
        f"keepc AS (SELECT actor FROM degc WHERE d <= {cap}),\n"
        f"{out} AS (SELECT actor1, actor2 FROM {src} "
        f"JOIN keepc k1 ON k1.actor = {src}.actor1 "
        f"JOIN keepc k2 ON k2.actor = {src}.actor2)"
    )


def _capped_day_edges_cte(cap: int) -> str:
    """Pinned-day canonical edge set reduced to the degree-<=cap
    induced subgraph, exposed as CTE ``e``."""
    day = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"
    return (
        f"p AS ({_presence_sql(day)}),\n"
        f"eraw AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),\n"
        + _degree_cap_sql("eraw", "e", cap)
    )


def _ktruss_cte(
    k: int,
    rounds: int,
    cap: int | None = None,
    day_scope: bool = True,
    materialized: bool = False,
) -> str:
    """Unrolled bounded k-truss peel as DuckDB CTE blocks: per round,
    enumerate canonical triangles a<b<c on the surviving edge set,
    count per-edge support by unioning each triangle's three edges,
    and keep edges clearing k-2 — the SQL twin of
    operators/graph.py:_truss_peel_round, one CTE triple per round
    (the unrolled-fit oracle pattern of ``_kmeans_cte`` /
    ``_pagerank_cte``). ``cap`` prepends the degree-cap subgraph
    reduction (q_ktruss_capped) so e0 is the capped edge set;
    ``day_scope=False`` peels the FULL-range graph (q_ktruss's
    fixpoint oracle); ``materialized`` writes every round CTE AS
    MATERIALIZED — REQUIRED past ~3 rounds because each e{i+1}
    references e{i} three times, so inlining is a 3^rounds planner
    blowup (the q_eigenvector_centrality precedent)."""
    where = (
        f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"
        if day_scope
        else ""
    )
    mat = "MATERIALIZED " if materialized else ""
    if cap is None:
        blocks = [
            f"p AS ({_presence_sql(where)})",
            f"e0 AS {mat}(SELECT DISTINCT actor1, actor2"
            f" FROM ({_EDGES_FROM_P}))",
        ]
    else:
        blocks = [
            f"p AS ({_presence_sql(where)})",
            f"eraw AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P}))",
            _degree_cap_sql("eraw", "e0", cap),
        ]
    for i in range(rounds):
        blocks += [
            f"t{i} AS {mat}(SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c "
            f"FROM e{i} x JOIN e{i} y ON y.actor1 = x.actor2 "
            f"JOIN e{i} z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2)",
            f"s{i} AS {mat}(SELECT actor1, actor2, count(*) AS support FROM ("
            f"SELECT a AS actor1, b AS actor2 FROM t{i} "
            f"UNION ALL SELECT a, c FROM t{i} "
            f"UNION ALL SELECT b, c FROM t{i}) GROUP BY 1, 2)",
            f"e{i + 1} AS {mat}(SELECT e.actor1, e.actor2 FROM e{i} e "
            f"JOIN s{i} s ON s.actor1 = e.actor1 AND s.actor2 = e.actor2 "
            f"WHERE s.support >= {k - 2})",
        ]
    return ",\n".join(blocks)


@query(
    "q_ktruss_bounded",
    oracle=f"""
WITH {_ktruss_cte(18, 2)}
SELECT actor1, actor2 FROM e2 ORDER BY 1, 2
""",
)
def q_ktruss_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two bounded support-peel rounds toward the 18-truss of the
    pinned-day interaction graph (k=18 drives a REAL cascade at
    sf0.01: 1723 -> 263 edges across the two rounds, so the oracle
    verifies non-trivial peeling, not a fixed-point no-op) — the
    deterministic fixed-round form
    of q_ktruss (no fixpoint loop), so the DuckDB oracle replays BOTH
    peel rounds as an unrolled CTE and the surviving edge set
    hash-matches exactly. The fixpoint production API stays
    :func:`operators.graph.k_truss` (q_ktruss, rows-only +
    pure-Python differential); this entry pins the per-round peel
    semantics cross-engine."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "actor1", "actor2"
    )
    return graph.k_truss_rounds(edges, k=18, rounds=2)


# ---------------------------------------------------------------------------
# Degree-capped enumeration variants (round 11): the planted-hub stress
# (SCALE.md, tools/skew_stress_wedge.py) proved AQE's skew split keys on
# shuffle INPUT bytes and never rescues a quadratic OUTPUT explosion, so
# every triangle-shaped self-join carries the same documented SEMANTIC
# guardrail as link_scores' max_center_degree: enumerate on the subgraph
# induced by vertices of degree <= cap (GDS maxDegree parity). Cap 40 on
# the pinned-day graph is a REAL reduction at sf0.01 (1723 -> 852 edges)
# while leaving a non-trivial result to hash-match.
_TRI_CAP = 40


@query(
    "q_triangles_capped",
    oracle=f"""
WITH {_capped_day_edges_cte(_TRI_CAP)},
tri AS (SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c
        FROM e x JOIN e y ON y.actor1 = x.actor2
        JOIN e z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2)
SELECT a, b, c FROM tri ORDER BY a, b, c
""",
)
def q_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY11's triangle enumeration (cypher_query_timing.py:158-203)
    under the degree-cap contract: triangles of the pinned-day graph's
    degree-<=40 induced subgraph (operators/graph.py:triangles with
    max_degree — the hub guardrail the planted-hub stress motivates:
    a hub's d_in*d_out intermediate rows in the b-keyed join land in
    ONE task because AQE splits on input bytes, not output). The
    oracle replays the cap (degree count + induced-subgraph semi
    joins) and the full enumeration, so the exact surviving triangle
    set hash-matches."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "actor1", "actor2"
    )
    return graph.triangles(edges, max_degree=_TRI_CAP)


@query(
    "q_clustering_capped",
    oracle=f"""
WITH {_capped_day_edges_cte(_TRI_CAP)},
tri AS (SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c
        FROM e x JOIN e y ON y.actor1 = x.actor2
        JOIN e z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2),
tc AS (SELECT actor, count(*) AS n_tri FROM (
         SELECT a AS actor FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri) GROUP BY 1),
deg AS (SELECT actor, count(*) AS degree FROM (
          SELECT actor1 AS actor FROM e
          UNION ALL SELECT actor2 FROM e) GROUP BY 1)
SELECT d.actor, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(tc.n_tri, 0) / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS coeff
FROM deg d LEFT JOIN tc ON tc.actor = d.actor
ORDER BY d.actor
""",
)
def q_clustering_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient OF THE DEGREE-CAPPED SUBGRAPH
    (q_clustering_coeff's formula — 2*tri/(deg*(deg-1)) — with both
    the triangle counts and the degrees recomputed inside the
    degree-<=40 induced subgraph of the pinned-day graph): the
    well-defined capped semantic for the cohesion metric, since mixing
    capped triangle counts with uncapped degrees would understate
    every surviving vertex. Same enumeration guardrail rationale as
    q_triangles_capped; the oracle replays cap + enumeration + both
    aggregates, so the coefficients themselves hash-match."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = graph.degree_cap_subgraph(
        qmod._edges(spark, sf_dir, qmod._day_filter()).select(
            "actor1", "actor2"
        ),
        _TRI_CAP,
    )
    tri = graph.triangles(edges)
    tc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(tc, "actor", "left")
        .select(
            "actor",
            "degree",
            n_tri.cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.lit(2.0)
                    * n_tri
                    / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coeff"),
        )
        .orderBy("actor")
    )


@query(
    "q_ktruss_capped",
    oracle=f"""
WITH {_ktruss_cte(10, 2, cap=_TRI_CAP)}
SELECT actor1, actor2 FROM e2 ORDER BY 1, 2
""",
)
def q_ktruss_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two bounded support-peel rounds toward the 10-truss of the
    degree-capped pinned-day subgraph — the truss-family entry of the
    capped-enumeration trio (each peel round re-enumerates triangles,
    so an uncapped hub pays its d_in*d_out intermediate EVERY round;
    capping first bounds all of them). k=10 drives a real cascade on
    the capped graph at sf0.01 (852 -> 510 -> 385 edges), so the
    oracle verifies genuine peeling on top of the cap reduction."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = graph.degree_cap_subgraph(
        qmod._edges(spark, sf_dir, qmod._day_filter()).select(
            "actor1", "actor2"
        ),
        _TRI_CAP,
    )
    return graph.k_truss_rounds(edges, k=10, rounds=2)


def _kcore_cte(k: int, rounds: int, materialized: bool = False) -> str:
    """Unrolled bounded k-core peel as DuckDB CTE blocks: per round,
    count degrees on the symmetrized survivor edges, keep nodes
    clearing k, and restrict edges to kept endpoints — the SQL twin of
    operators/graph.py:k_core_rounds, one CTE pair per round (the
    unrolled-fit oracle pattern of ``_ktruss_cte`` /
    ``_pagerank_cte``). ``materialized`` is REQUIRED past ~3 rounds:
    s{i+1} references s{i} (via d{i}/k{i} twice plus directly), so
    inlining is a 3^rounds planner blowup."""
    day = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"
    mat = "MATERIALIZED " if materialized else ""
    blocks = [
        f"p AS ({_presence_sql(day)})",
        f"e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P}))",
        f"s0 AS {mat}(SELECT actor1 AS src, actor2 AS dst FROM e "
        "UNION ALL SELECT actor2, actor1 FROM e)",
    ]
    for i in range(rounds):
        blocks += [
            f"d{i} AS {mat}(SELECT src, count(*) AS degree"
            f" FROM s{i} GROUP BY 1)",
            f"k{i} AS {mat}(SELECT src FROM d{i} WHERE degree >= {k})",
            f"s{i + 1} AS {mat}(SELECT s.src, s.dst FROM s{i} s "
            f"JOIN k{i} a ON a.src = s.src JOIN k{i} b ON b.src = s.dst)",
        ]
    return ",\n".join(blocks)


@query(
    "q_kcore_bounded",
    oracle=f"""
WITH {_kcore_cte(18, 2)}
SELECT src AS actor, CAST(count(*) AS BIGINT) AS degree
FROM s2 GROUP BY 1 ORDER BY 1
""",
)
def q_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two bounded degree-peel rounds toward the 18-core of the
    pinned-day interaction graph — the deterministic fixed-round form
    of q_kcore (no fixpoint loop), so the DuckDB oracle replays BOTH
    peel rounds as an unrolled CTE and the surviving (actor, degree)
    set hash-matches exactly. The fixpoint production API stays
    :func:`operators.graph.k_core` (q_kcore, rows-only + cascade unit
    tests); this entry pins the per-round peel semantics cross-engine,
    upgrading the k-core family from rows-only to hash-matched — the
    node-level twin of q_ktruss_bounded."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "actor1", "actor2"
    )
    return graph.k_core_rounds(edges, k=18, rounds=2)


_SPAN_K, _SPAN_DELTA, _SPAN_SLOTS = 8, 2, 24

# first hourly frame id of the pinned day (floor(epoch(00:00Z)/DELTA))
# — shared by the span-core and temporal-PageRank slot lists
import datetime as _dt

_DAY_BASE_FID = (
    int(
        _dt.datetime(YEAR, MONTH, DAY, tzinfo=_dt.timezone.utc).timestamp()
    )
    // DELTA
)


@query(
    "q_span_core",
    empty_ok=True,
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS actor FROM e
        UNION ALL SELECT frame_id, actor2 FROM e),
d AS (SELECT frame_id - {_DAY_BASE_FID} AS i, actor,
             CAST(count(*) AS BIGINT) AS deg
      FROM sym
      WHERE frame_id BETWEEN {_DAY_BASE_FID}
                         AND {_DAY_BASE_FID} + {_SPAN_SLOTS - 1}
      GROUP BY 1, 2 HAVING count(*) >= {_SPAN_K}),
w AS (SELECT d.i, d.actor, d.deg, u.w
      FROM d, unnest(range(0, {_SPAN_SLOTS - _SPAN_DELTA + 1})) AS u(w)
      WHERE d.i >= u.w AND d.i <= u.w + {_SPAN_DELTA - 1})
SELECT CAST(w AS BIGINT) AS window_start, actor,
       CAST(min(deg) AS BIGINT) AS min_deg
FROM w GROUP BY 1, 2 HAVING count(*) = {_SPAN_DELTA}
ORDER BY window_start, actor
""",
)
def q_span_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-PERSISTENT degree core of the pinned day (the span-core
    candidate set, Galimberti et al. 2018): actors sustaining frame
    degree >= 8 across EVERY frame of a 2-hour sliding window —
    temporal cohesion the static day k-core cannot see. Parameters
    measured-then-scoped: per-frame degrees run 9-16 (median 13) at
    sf0.01 but actors ROTATE hour to hour, so persistence is the
    scarce signal — (k=8, delta=2) keeps a real 26-row core while
    (6, 4) is already empty; on the sf0.001 fixture (5 active frames,
    max degree < 8) the empty core is the CORRECT answer, declared
    empty_ok. Declarative, no fixpoint: one per-(frame, actor) degree
    aggregate filtered to >= k BEFORE the <= delta-fold window
    replication (broadcast 23-row window list), count == delta closes
    the all-frames requirement. Integers end to end."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "frame_id", "actor1", "actor2"
    )
    return graph.persistent_degree_core(
        edges,
        [_DAY_BASE_FID + i for i in range(_SPAN_SLOTS)],
        k=_SPAN_K,
        delta=_SPAN_DELTA,
    )


def _attach_fixpoint_oracles() -> None:
    """Upgrade q_kcore / q_ktruss from rows-only to FULL value oracles
    (r12 verdict #6): the fixpoint is replayed as a generously
    unrolled bounded peel — idempotent once converged, so any unroll
    >= the cascade depth equals the fixpoint exactly. Measured depth
    at sf0.01: kcore-18 pinned-day converges in 7 rounds (12 here),
    ktruss-4 full-range in 0 peels — the whole graph IS its 4-truss —
    (4 here, so the support arithmetic is still verified four times
    over). Every round CTE is MATERIALIZED (3^rounds inlining blowup
    otherwise). A future fixture needing more rounds than the unroll
    surfaces as a parity hash-FAIL, not a silent wrong answer —
    superset-vs-fixpoint differs."""
    import dataclasses

    from neo4j_dynagraph_spark.queries import REGISTRY

    kcore_oracle = f"""
WITH {_kcore_cte(18, 12, materialized=True)}
SELECT src AS actor, CAST(count(*) AS BIGINT) AS core_degree
FROM s12 GROUP BY 1 ORDER BY 1
"""
    ktruss_oracle = f"""
WITH {_ktruss_cte(4, 4, day_scope=False, materialized=True)}
SELECT actor1, actor2 FROM e4 ORDER BY 1, 2
"""
    for name, oracle in (
        ("q_kcore", kcore_oracle),
        ("q_ktruss", ktruss_oracle),
    ):
        REGISTRY[name] = dataclasses.replace(REGISTRY[name], oracle=oracle)


_attach_fixpoint_oracles()


@query(
    "q_contact_matrix",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS ({_EDGES_FROM_P}),
j AS (SELECT e.actor1, e.actor2,
             c1.c_mktsegment AS g1, c2.c_mktsegment AS g2
      FROM e JOIN customer c1 ON c1.c_custkey = e.actor1
             JOIN customer c2 ON c2.c_custkey = e.actor2),
m AS (SELECT least(g1, g2) AS seg_a, greatest(g1, g2) AS seg_b,
             actor1, actor2 FROM j)
SELECT seg_a, seg_b,
       CAST(count(*) AS BIGINT) AS n_contacts,
       CAST(count(DISTINCT (actor1, actor2)) AS BIGINT) AS n_pairs
FROM m GROUP BY 1, 2 ORDER BY 1, 2
""",
    bench=True,
)
def q_contact_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-x-group contact matrix of the pinned day — the
    SocioPatterns headline analysis (contact matrices between
    classes/departments, e.g. the school / hospital-ward studies the
    reference's data model serves; ref: README.md dataset description)
    re-expressed on the star schema: frame-level co-presence edges,
    each endpoint joined to its customer segment via the BROADCAST
    dimension, aggregated into an unordered segment-pair matrix with
    both contact instances (frame-pair co-presences) and distinct
    actor pairs per cell. One agg shuffle over ~|segments|^2 keys; the
    dimension joins are broadcast so the edge stream never shuffles
    for them."""
    from neo4j_dynagraph_spark import queries as qmod

    # r14: the day filter applies to events INSIDE the checkpointed
    # presence subtree, so nothing is lost to the barrier; without it
    # the events scan + presence aggregate ran once per self-join side
    # (VERDICT r13 #4)
    edges = qmod._edges(
        spark, sf_dir, qmod._day_filter(), presence_checkpointed=True
    ).select("actor1", "actor2")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("actor"), F.col("c_mktsegment").alias("seg")
    )
    j = (
        edges.join(
            F.broadcast(
                cust.select(
                    F.col("actor").alias("actor1"), F.col("seg").alias("g1")
                )
            ),
            "actor1",
        )
        .join(
            F.broadcast(
                cust.select(
                    F.col("actor").alias("actor2"), F.col("seg").alias("g2")
                )
            ),
            "actor2",
        )
    )
    return (
        j.select(
            F.least("g1", "g2").alias("seg_a"),
            F.greatest("g1", "g2").alias("seg_b"),
            "actor1",
            "actor2",
        )
        .groupBy("seg_a", "seg_b")
        .agg(
            F.count(F.lit(1)).alias("n_contacts"),
            F.countDistinct("actor1", "actor2").alias("n_pairs"),
        )
        .orderBy("seg_a", "seg_b")
    )


@query(
    "q_degree_dist",
    oracle=f"""
WITH p AS ({_presence_sql()}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src FROM e UNION ALL SELECT actor2 FROM e),
deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY 1)
SELECT degree, CAST(count(*) AS BIGINT) AS n_actors
FROM deg GROUP BY 1 ORDER BY 1
""",
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the full-range interaction graph — the
    first plot of every contact-network paper (how many actors have
    k distinct partners). Two cascaded aggregations: per-actor degree
    over the distinct symmetrized edge set, then a histogram over the
    (at most |actors|-sized) degree table — output is
    O(max degree), a fixed-size terminal at any corpus scale.
    Symmetrization via explode(array(..)) rather than a union so the
    edge subtree (presence agg + frame self-join + distinct) is
    scanned ONCE, not duplicated per union branch."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir).select("actor1", "actor2").distinct()
    sym = e.select(F.explode(F.array("actor1", "actor2")).alias("src"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_actors"))
        .orderBy("degree")
    )


@query(
    "q_graph_diff",
    oracle=f"""
WITH p1 AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}")}),
p2 AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY + 1}")}),
e1 AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P.replace("p p1", "p1 p1").replace("p p2", "p1 p2")})),
e2 AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P.replace("p p1", "p2 p1").replace("p p2", "p2 p2")})),
st AS (SELECT CASE WHEN e2.actor1 IS NULL THEN 'removed'
                   WHEN e1.actor1 IS NULL THEN 'added'
                   ELSE 'stable' END AS status
       FROM e1 FULL OUTER JOIN e2 USING (actor1, actor2))
SELECT status, CAST(count(*) AS BIGINT) AS n_edges
FROM st GROUP BY 1 ORDER BY 1
""",
)
def q_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day network evolution: the distinct edge sets of two
    consecutive days full-outer-joined into added / removed / stable
    counts — the SocioPatterns snapshot-comparison analysis (which
    contacts persist across days) as one co-partitioned join: both
    edge sets shuffle on the same (actor1, actor2) key, the histogram
    terminal is 3 rows at any scale."""
    from neo4j_dynagraph_spark import queries as qmod

    def day_edges(day: int) -> DataFrame:
        lo = qmod._utc_ns(qmod.YEAR, qmod.MONTH, day)
        flt = qmod._ns_range(lo, lo + 86400 * 1_000_000_000)
        return (
            qmod._edges(spark, sf_dir, flt).select("actor1", "actor2").distinct()
        )

    e1 = day_edges(qmod.DAY).withColumn("_in1", F.lit(1))
    e2 = day_edges(qmod.DAY + 1).withColumn("_in2", F.lit(1))
    st = e1.join(e2, ["actor1", "actor2"], "full").select(
        F.when(F.col("_in2").isNull(), F.lit("removed"))
        .when(F.col("_in1").isNull(), F.lit("added"))
        .otherwise(F.lit("stable"))
        .alias("status")
    )
    return (
        st.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("status")
    )


@query(
    "q_topk_per_actor",
    oracle=f"""
WITH p AS ({_presence_sql()}),
e AS ({_EDGES_FROM_P}),
sym AS (SELECT actor1 AS actor, actor2 AS partner, frame_id FROM e
        UNION ALL SELECT actor2, actor1, frame_id FROM e),
cnt AS (SELECT actor, partner, count(DISTINCT frame_id) AS n_frames
        FROM sym GROUP BY 1, 2),
rk AS (SELECT actor, partner, n_frames,
              row_number() OVER (PARTITION BY actor
                                 ORDER BY n_frames DESC, partner) AS rnk
       FROM cnt)
SELECT actor, CAST(rnk AS BIGINT) AS rnk, partner, n_frames
FROM rk WHERE rnk <= 3 ORDER BY actor, rnk
""",
)
def q_topk_per_actor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: each actor's top-3 co-presence partners by
    shared-frame count, deterministic tie-break (count desc, partner
    asc). The grouped-top-k operator the global q_topk
    (TakeOrderedAndProject) can't express. Shape matters at scale:
    the frame-distinct count aggregates the (large) interaction stream
    ONCE on canonical pairs, and only the |pairs|-sized count table is
    symmetrized — via explode(array(..)), not a union, so the
    expensive pair subtree isn't duplicated per branch (a union here
    measured 390 s vs 9 s at sf1). Then one row_number window
    partitioned by actor."""
    from neo4j_dynagraph_spark import queries as qmod
    from pyspark.sql import Window

    e = qmod._edges(spark, sf_dir)
    # presence_to_frame_interactions emits exactly one row per
    # (frame, pair) — the presence input is an aggregate keyed by
    # (frame, actor) — so the distinct-frame count is a plain count,
    # sparing count_distinct's second aggregation pass
    cnt = e.groupBy("actor1", "actor2").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    sym = cnt.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("actor1").alias("actor"),
                    F.col("actor2").alias("partner"),
                ),
                F.struct(
                    F.col("actor2").alias("actor"),
                    F.col("actor1").alias("partner"),
                ),
            )
        ).alias("ap"),
        "n_frames",
    ).select("ap.actor", "ap.partner", "n_frames")
    w = Window.partitionBy("actor").orderBy(F.desc("n_frames"), "partner")
    return (
        sym.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("actor", "rnk", "partner", "n_frames")
        .orderBy("actor", "rnk")
    )


@query(
    "q_null_model_gaps",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
h AS (SELECT frame_id, actor1, actor2,
             {_H64.format(x="'null:' || frame_id || '_' || actor1 || '_' || actor2")} AS hk
      FROM e),
ra AS (SELECT actor1, actor2,
              row_number() OVER (ORDER BY hk, frame_id, actor1, actor2) AS r
       FROM h),
rb AS (SELECT frame_id,
              row_number() OVER (ORDER BY frame_id, actor1, actor2) AS r
       FROM e),
nm AS (SELECT DISTINCT ra.actor1, ra.actor2, rb.frame_id
       FROM ra JOIN rb USING (r)),
g AS (SELECT frame_id - lag(frame_id) OVER (PARTITION BY actor1, actor2
                                            ORDER BY frame_id) AS gap
      FROM nm)
SELECT gap, CAST(count(*) AS BIGINT) AS n
FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1
""",
)
def q_null_model_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-shuffled null model of the pinned day's interaction stream
    (the SocioPatterns baseline that separates real temporal structure
    from contact frequencies): the frame multiset and per-pair
    occurrence counts are preserved while frame assignments are
    permuted by a DETERMINISTIC pseudorandom rank join
    (operators/rank.py:time_shuffle — two two-phase distributed global
    ranks, no one-partition window in the engine), then the inter-
    contact gap histogram of the shuffled stream. Compare with
    q_intercontact's real-stream gaps to read off the burstiness
    excess. The oracle replays the permutation with two plain
    row_number windows — bit-identical because order-aligned bucketed
    ranking equals the global rank by construction."""
    from neo4j_dynagraph_spark.operators.rank import time_shuffle
    from pyspark.sql import Window

    from neo4j_dynagraph_spark import queries as qmod

    e = (
        qmod._edges(spark, sf_dir, qmod._day_filter())
        .select("frame_id", "actor1", "actor2")
        .distinct()
    )
    nm = time_shuffle(e).distinct()
    w = Window.partitionBy("actor1", "actor2").orderBy("frame_id")
    g = nm.select(
        (F.col("frame_id") - F.lag("frame_id").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    return (
        g.groupBy("gap").agg(F.count(F.lit(1)).alias("n")).orderBy("gap")
    )


@query(
    "q_temporal_paths",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1, actor2 FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
paths AS (
  SELECT h1.actor1 AS src, h2.actor2 AS dst, h2.frame_id AS f2
  FROM sym h1 JOIN sym h2
    ON h2.actor1 = h1.actor2
   AND h2.frame_id BETWEEN h1.frame_id + 1 AND h1.frame_id + 2
   AND h2.actor2 != h1.actor1)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_paths,
       min(f2) AS earliest_arrival
FROM paths GROUP BY 1, 2 ORDER BY src, dst
""",
)
def q_temporal_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-hop transmission routes on the pinned day:
    src -> mid -> dst where the second contact is strictly later but
    within 2 frames of the first — the bounded-hop sibling of
    q_temporal_reach's fixpoint (who could pass something to whom via
    one intermediary, the reference's epidemiology motivation). The
    time window folds INTO the equi-join key (first hop replicated
    once per allowed gap with key (mid, frame+d)), so the plan is a
    pure hash join on (actor, frame) with no inequality residual and
    no hot-actor band scan; the oracle's theta-join BETWEEN replays it
    (operators/graph.py:temporal_path_counts)."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "frame_id", "actor1", "actor2"
    )
    return graph.temporal_path_counts(edges, max_gap_frames=2).orderBy(
        "src", "dst"
    )


@query(
    "q_broker_actors",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1, actor2 FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
paths AS (
  SELECT h1.actor1 AS src, h1.actor2 AS mid, h2.actor2 AS dst
  FROM sym h1 JOIN sym h2
    ON h2.actor1 = h1.actor2
   AND h2.frame_id BETWEEN h1.frame_id + 1 AND h1.frame_id + 2
   AND h2.actor2 != h1.actor1)
SELECT mid AS actor, CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT (src, dst)) AS BIGINT) AS n_routes
FROM paths GROUP BY 1 ORDER BY actor
""",
)
def q_broker_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal brokerage centrality on the pinned day: per actor, the
    time-respecting 2-hop paths routed THROUGH it and the distinct
    src->dst routes those realize — the countable core of temporal
    betweenness (which hubs sit on the transmission corridors). Shares
    q_temporal_paths' window-in-join-key path stream (pure hash
    equi-join on (actor, frame)); only the aggregate key differs
    (intermediary, not endpoint pair)."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "frame_id", "actor1", "actor2"
    )
    return graph.broker_counts(edges, max_gap_frames=2).orderBy("actor")


@query(
    "q_widest_paths",
    oracle=f"""
WITH p AS ({_presence_sql()}),
e0 AS ({_EDGES_FROM_P}),
pw AS (SELECT actor1, actor2, count(*) AS w FROM e0 GROUP BY 1, 2),
sym AS (SELECT actor1 AS src, actor2 AS dst, w FROM pw
        UNION ALL SELECT actor2, actor1, w FROM pw),
d1 AS (SELECT dst AS actor, max(w) AS width FROM sym
       WHERE src = {ACTOR1} GROUP BY 1),
d2 AS (SELECT s.dst AS actor, max(least(d1.width, s.w)) AS width
       FROM d1 JOIN sym s ON s.src = d1.actor GROUP BY 1),
d3 AS (SELECT s.dst AS actor, max(least(d2.width, s.w)) AS width
       FROM d2 JOIN sym s ON s.src = d2.actor GROUP BY 1),
u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2
      UNION ALL SELECT * FROM d3)
SELECT actor, CAST(max(width) AS BIGINT) AS width
FROM u WHERE actor != {ACTOR1} GROUP BY 1 ORDER BY actor
""",
)
def q_widest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded widest-path (max-bottleneck) search from actor 1 over
    the co-present-frame-count graph, 3 undirected hops: for each
    reachable actor, the strongest corridor's weakest link — the
    weighted transmission-capacity sibling of q_temporal_paths.
    Integer weights (frame counts) keep the min/max algebra exact in
    every engine; the pruned O(nodes) frontier provably dominates
    (least is monotone), so a 3-level unrolled CTE replays the search
    ring-for-ring."""
    pw = (
        _edges(spark, sf_dir)
        .groupBy("actor1", "actor2")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return (
        graph.widest_paths(pw, anchor=ACTOR1, hops=3)
        .select("actor", F.col("width").cast("long").alias("width"))
        .orderBy("actor")
    )


@query(
    "q_triadic_closure",
    oracle=f"""
WITH p1 AS ({_presence_sql("WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15 AND hour(ts)>=9 AND hour(ts)<11")}),
p2 AS ({_presence_sql("WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15 AND hour(ts)>=11 AND hour(ts)<13")}),
e1 AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P.replace("p p1", "p1 p1").replace("p p2", "p1 p2")})),
e2 AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P.replace("p p1", "p2 p1").replace("p p2", "p2 p2")})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e1
        UNION ALL SELECT actor2, actor1 FROM e1),
w AS (SELECT DISTINCT s1.dst AS actor1, s2.dst AS actor2
      FROM sym s1 JOIN sym s2
      ON s1.src = s2.src AND s1.dst < s2.dst),
o AS (SELECT w.actor1, w.actor2 FROM w
      LEFT JOIN e1 ON e1.actor1 = w.actor1 AND e1.actor2 = w.actor2
      WHERE e1.actor1 IS NULL),
cl AS (SELECT o.actor1 FROM o
       JOIN e2 ON e2.actor1 = o.actor1 AND e2.actor2 = o.actor2)
SELECT CAST((SELECT count(*) FROM o) AS BIGINT) AS n_open_wedges,
       CAST((SELECT count(*) FROM cl) AS BIGINT) AS n_closed,
       round(CAST((SELECT count(*) FROM cl) AS DOUBLE)
             / greatest((SELECT count(*) FROM o), 1), 6) AS closure_rate
""",
)
def q_triadic_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal triadic closure, window [9,11) → [11,13) on the pinned
    day: of the open wedges (common neighbor, no direct edge) in the
    morning contact graph, what fraction are edges in the next window.
    NOTE the window must span >= 2 frames: a single DELTA-wide frame
    graph is a disjoint union of cliques (every co-present pair IS an
    edge), so it has ZERO open wedges by construction — measured, then
    re-scoped — the
    link-prediction baseline / tie-formation statistic. Wedges stream
    per center and collapse to DISTINCT pairs map-side; one anti-join
    (openness) + one semi-join (closure); O(1)-row terminal. Oracle
    replays wedge generation and both joins."""
    from neo4j_dynagraph_spark import queries as qmod

    e1 = qmod._edges(spark, sf_dir, qmod._hour_filter(9, 11))
    e2 = qmod._edges(spark, sf_dir, qmod._hour_filter(11, 13))
    return graph.triadic_closure(e1, e2)


@query(
    "q_link_negatives",
    oracle=f"""
WITH p AS ({_presence_sql("WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
a AS (SELECT DISTINCT actor FROM
      (SELECT actor1 AS actor FROM e UNION ALL SELECT actor2 FROM e)),
i AS (SELECT actor, row_number() OVER (ORDER BY actor) - 1 AS idx FROM a),
nn AS (SELECT count(*) AS n_actors FROM a),
c AS (SELECT i.actor AS a,
             {_H64.format(x="'neg0:' || i.actor")} % n_actors AS j
      FROM i, nn
      UNION ALL
      SELECT i.actor,
             {_H64.format(x="'neg1:' || i.actor")} % n_actors
      FROM i, nn),
p2 AS (SELECT DISTINCT least(c.a, t.actor) AS actor1,
              greatest(c.a, t.actor) AS actor2
       FROM c JOIN i t ON t.idx = c.j WHERE c.a <> t.actor)
SELECT p2.actor1, p2.actor2
FROM p2 LEFT JOIN e ON e.actor1 = p2.actor1 AND e.actor2 = p2.actor2
WHERE e.actor1 IS NULL
ORDER BY p2.actor1, p2.actor2 LIMIT 100
""",
)
def q_link_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-edge sampling on the pinned-day contact graph: two
    hash-seeded pseudo-random partners per node over the two-phase
    node index, minus real edges — the deterministic non-edge side of
    a link-prediction training set (the positives being the edges
    themselves). No RNG state, no rejection loop, no one-partition
    window; the exclusion is one anti-join on the canonical pair key.
    Oracle replays the index, both hash draws, and the exclusion."""
    from neo4j_dynagraph_spark import queries as qmod

    lo = qmod._utc_ns(qmod.YEAR, qmod.MONTH, qmod.DAY)
    e = qmod._edges(
        spark, sf_dir, qmod._ns_range(lo, lo + 86400 * 1_000_000_000)
    )
    return graph.negative_edges(e, n_seeds=2, k=100)


@query(
    "q_node_features",
    oracle=f"""
WITH pd AS ({_presence_sql("WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15")}),
act AS (SELECT actor, count(*) AS n_frames, sum(n_events) AS n_events
        FROM pd GROUP BY 1),
ed AS (SELECT DISTINCT actor1, actor2
       FROM ({_EDGES_FROM_P.replace("p p1", "pd p1").replace("p p2", "pd p2")})),
part AS (SELECT actor, count(*) AS day_partners FROM (
           SELECT actor1 AS actor FROM ed
           UNION ALL SELECT actor2 FROM ed) GROUP BY 1),
ph AS ({_presence_sql("WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15 AND hour(ts)=10")}),
eh AS (SELECT DISTINCT actor1, actor2
       FROM ({_EDGES_FROM_P.replace("p p1", "ph p1").replace("p p2", "ph p2")})),
tri AS (SELECT e1.actor1 AS a, e1.actor2 AS b, e2.actor2 AS c
        FROM eh e1
        JOIN eh e2 ON e1.actor2 = e2.actor1
        JOIN eh e3 ON e3.actor1 = e1.actor1 AND e3.actor2 = e2.actor2),
tc AS (SELECT actor, count(*) AS n_tri FROM (
         SELECT a AS actor FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri) GROUP BY 1),
degh AS (SELECT actor, count(*) AS hour_degree FROM (
           SELECT actor1 AS actor FROM eh
           UNION ALL SELECT actor2 FROM eh) GROUP BY 1)
SELECT act.actor, CAST(act.n_frames AS BIGINT) AS n_frames,
       CAST(act.n_events AS BIGINT) AS n_events,
       CAST(COALESCE(part.day_partners, 0) AS BIGINT) AS day_partners,
       CAST(COALESCE(degh.hour_degree, 0) AS BIGINT) AS hour_degree,
       round(CASE WHEN COALESCE(degh.hour_degree, 0) >= 2
                  THEN 2.0 * COALESCE(tc.n_tri, 0)
                       / (degh.hour_degree * (degh.hour_degree - 1))
                  ELSE 0.0 END, 6) AS hour_coeff
FROM act
LEFT JOIN part ON part.actor = act.actor
LEFT JOIN degh ON degh.actor = act.actor
LEFT JOIN tc ON tc.actor = act.actor
ORDER BY act.actor
""",
)
def q_node_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-actor structural FEATURE TABLE on the pinned day — the
    graph-ML feature store a link-prediction / node-classification
    pipeline trains on (pairs with `q_link_negatives`' labels):
    day-level activity (frames active, events, distinct partners) plus
    hour-graph topology (degree, local clustering coefficient). Every
    feature is an aggregate over the shared pruned presence/edge
    subtrees; the assembly is three left joins on the actor key, all
    shuffles actor-partitioned, nothing quadratic beyond the bounded
    hour-graph triangle join (QUERY11's shape). Oracle replays every
    feature and the joins."""
    from neo4j_dynagraph_spark import queries as qmod

    lo = qmod._utc_ns(qmod.YEAR, qmod.MONTH, qmod.DAY)
    day = qmod._ns_range(lo, lo + 86400 * 1_000_000_000)
    pres_day = qmod._presence(spark, sf_dir, day)
    act = pres_day.groupBy("actor").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("n_events").cast("long").alias("n_events"),
    )
    day_edges = (
        qmod._edges(spark, sf_dir, day).select("actor1", "actor2").distinct()
    )
    part = (
        day_edges.select(
            F.explode(F.array("actor1", "actor2")).alias("actor")
        )
        .groupBy("actor")
        .agg(F.count(F.lit(1)).cast("long").alias("day_partners"))
    )
    # r13: eh feeds the triangle build AND the hour-degree explode —
    # checkpoint the hour pair set once (triangles() re-checkpoints
    # its deduped view, which then reads this cut instead of the scan)
    eh = (
        qmod._edges(spark, sf_dir, qmod._hour_filter(qmod.HOUR, qmod.HOUR + 1))
        .select("actor1", "actor2")
        .distinct()
        .transform(checkpoint_hub)
    )
    tri = graph.triangles(eh)
    tc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    degh = (
        eh.select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("hour_degree"))
    )
    hd = F.coalesce(F.col("hour_degree"), F.lit(0))
    return (
        act.join(part, "actor", "left")
        .join(degh, "actor", "left")
        .join(tc, "actor", "left")
        .select(
            "actor",
            "n_frames",
            "n_events",
            F.coalesce("day_partners", F.lit(0)).cast("long").alias(
                "day_partners"
            ),
            hd.cast("long").alias("hour_degree"),
            F.round(
                F.when(
                    hd >= 2,
                    F.lit(2.0)
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / (F.col("hour_degree") * (F.col("hour_degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("hour_coeff"),
        )
        .orderBy("actor")
    )


_HOUR_P = "WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15 AND hour(ts)>=9 AND hour(ts)<11"
_WEDGE_CTES = f"""p AS ({{p}}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
deg AS (SELECT src AS center, count(*) AS cdeg FROM sym GROUP BY 1),
w AS (SELECT s1.src AS center, s1.dst AS actor1, s2.dst AS actor2
      FROM sym s1 JOIN sym s2
      ON s1.src = s2.src AND s1.dst < s2.dst)"""


@query(
    "q_adamic_adar",
    oracle=f"""
WITH {_WEDGE_CTES.format(p=_presence_sql(_HOUR_P))},
sc AS (SELECT w.actor1, w.actor2,
              CAST(count(*) AS BIGINT) AS n_common,
              round(sum(1.0 / ln(CAST(deg.cdeg AS DOUBLE))), 6) AS aa_score
       FROM w JOIN deg ON deg.center = w.center
       GROUP BY 1, 2),
ne AS (SELECT sc.* FROM sc
       LEFT JOIN e ON e.actor1 = sc.actor1 AND e.actor2 = sc.actor2
       WHERE e.actor1 IS NULL)
SELECT actor1, actor2, n_common, aa_score
FROM ne ORDER BY aa_score DESC, actor1, actor2 LIMIT 30
""",
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the pinned day's [9,11) two-frame window (a single frame is a clique — zero non-edge wedges) (Neo4j GDS
    `linkprediction.adamicAdar` parity — the engine's domain is a
    Neo4j graph store): top-30 NON-edge pairs by Σ 1/ln(deg) over
    common neighbors, the score that feeds `q_link_negatives`' /
    `q_node_features`' training set. Wedge stream + broadcast degree
    dim + one pair aggregate + anti-join; TakeOrderedAndProject
    terminal. Oracle replays wedges, weights, and the rank cut."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._hour_filter(9, 11))
    return graph.adamic_adar(e, k=30)


@query(
    "q_node_similarity",
    oracle=f"""
WITH {_WEDGE_CTES.format(p=_presence_sql(_HOUR_P))},
cm AS (SELECT actor1, actor2, CAST(count(*) AS BIGINT) AS n_common
       FROM w GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT cm.actor1, cm.actor2, cm.n_common,
       round(cm.n_common / CAST(d1.cdeg + d2.cdeg - cm.n_common AS DOUBLE),
             6) AS jaccard
FROM cm JOIN deg d1 ON d1.center = cm.actor1
JOIN deg d2 ON d2.center = cm.actor2
ORDER BY jaccard DESC, cm.actor1, cm.actor2 LIMIT 30
""",
)
def q_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard node similarity on the pinned day's [9,11) two-frame window (single-frame cliques make J degenerate at 1.0)
    (Neo4j GDS `nodeSimilarity` parity): top-30 pairs by
    |N∩| / |N∪|, union size derived as deg+deg−common so the
    intersection aggregate is the only corpus-sized pass; degrees
    re-attach by broadcast. Structural-role similarity — includes
    pairs that are themselves edges, per GDS semantics. Oracle
    replays the wedge counts and the Jaccard arithmetic."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._hour_filter(9, 11))
    return graph.neighbor_jaccard(e, k=30, min_common=2)


@query(
    "q_link_scores",
    empty_ok=True,
    oracle=f"""
WITH {_WEDGE_CTES.format(p=_presence_sql(_HOUR_P))},
cap AS (SELECT CAST(floor(quantile_cont(cdeg, 0.5)) AS BIGINT) AS mx FROM deg),
keepc AS (SELECT center FROM deg, cap WHERE cdeg <= cap.mx),
symc AS (SELECT src, dst FROM sym WHERE src IN (SELECT center FROM keepc)),
wc AS (SELECT s1.src AS center, s1.dst AS actor1, s2.dst AS actor2
       FROM symc s1 JOIN symc s2
       ON s1.src = s2.src AND s1.dst < s2.dst),
sc AS (SELECT wc.actor1, wc.actor2,
              CAST(count(*) AS BIGINT) AS n_common,
              round(sum(1.0 / ln(CAST(deg.cdeg AS DOUBLE))), 6) AS aa_score
       FROM wc JOIN deg ON deg.center = wc.center
       GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT sc.actor1, sc.actor2, sc.n_common, sc.aa_score,
       round(sc.n_common / CAST(d1.cdeg + d2.cdeg - sc.n_common AS DOUBLE),
             6) AS jaccard,
       (e.actor1 IS NOT NULL) AS is_edge
FROM sc JOIN deg d1 ON d1.center = sc.actor1
JOIN deg d2 ON d2.center = sc.actor2
LEFT JOIN e ON e.actor1 = sc.actor1 AND e.actor2 = sc.actor2
ORDER BY aa_score DESC, sc.actor1, sc.actor2 LIMIT 30
""",
)
def q_link_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH link-prediction scores (Adamic-Adar + neighbor-Jaccard)
    from ONE wedge pass, under the GDS-parity upperDegreeCutoff
    contract (VERDICT r9 task 3): centers with degree above the MEDIAN
    degree contribute no wedges — the SEMANTIC knob that makes the
    wedge stream Σ min(deg, cap)² instead of Σ deg² on a saturated
    graph (sf1: the uncapped stream is 2.6x10⁹ wedges; SCALE.md
    records the capped walls). The cap is data-derived (floor of the
    exact interpolated median — a one-row scalar, the O(1) collect the
    repo's contract allows) so the demonstration holds at every SF of
    this near-clique window, where any fixed constant either keeps
    everything or nothing. Pair degrees stay full-graph (only wedge
    ENUMERATION is capped); is_edge slices the prediction vs
    similarity views. The oracle replays the cap derivation, both
    scores, and the rank cut (operators/graph.py link_scores).
    Empty at sf0.001 (the pinned window has no events there, like
    q11)."""
    from neo4j_dynagraph_spark import queries as qmod
    from neo4j_dynagraph_spark.operators.graph import degree

    e = qmod._edges(spark, sf_dir, qmod._hour_filter(9, 11))
    row = (
        degree(e.select("actor1", "actor2").distinct())
        .agg(F.floor(F.expr("percentile(degree, 0.5)")).alias("mx"))
        .first()
    )
    cap = int(row.mx) if row.mx is not None else 0
    return graph.link_scores(e, k=30, min_common=2, max_center_degree=cap)


@query(
    "q_activity_rhythm",
    oracle="""
WITH c AS (SELECT CAST(isodow(ts) AS INTEGER) AS dow,
                  CAST(hour(ts) AS INTEGER) AS hod,
                  count(*) AS n_events,
                  count(DISTINCT user_id) AS n_actors
           FROM events GROUP BY 1, 2),
t AS (SELECT CAST(sum(n_events) AS DOUBLE) AS total FROM c)
SELECT dow, hod, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_actors AS BIGINT) AS n_actors,
       round(n_events / total, 6) AS frac
FROM c, t ORDER BY dow, hod
""",
)
def q_activity_rhythm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity rhythm — the SocioPatterns
    temporal-heatmap analysis (the daily/weekly contact cycle their
    deployments publish; the reference's datepart traversal,
    load_gexf_to_neo4j.py's Y/M/D timeline levels, exists to serve
    exactly this cut). One pass, one ≤168-cell aggregate, the corpus
    total re-attached as a 1-row broadcast. ISO day-of-week (Mon=1)
    in both engines: Spark's dayofweek() is Sun=1, so the query maps
    it explicitly rather than trusting dialect defaults."""
    ev = load_table(spark, sf_dir, "events")
    # ISO dow: Spark dayofweek is 1=Sunday..7=Saturday -> Mon=1..Sun=7
    iso = (F.dayofweek("ts") + 5) % 7 + 1
    c = ev.groupBy(
        iso.cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_actors"),
    )
    t = c.agg(F.sum("n_events").cast("double").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hod",
            "n_events",
            "n_actors",
            F.round(F.col("n_events") / F.col("total"), 6).alias("frac"),
        )
        .orderBy("dow", "hod")
    )


_H913 = "WHERE year(ts)=2024 AND month(ts)=1 AND day(ts)=15 AND hour(ts)>=9 AND hour(ts)<13"


@query(
    "q_triangle_spans",
    oracle=f"""
WITH p AS ({_presence_sql(_H913)}),
e0 AS ({_EDGES_FROM_P}),
fp AS (SELECT actor1, actor2, min(frame_id) AS f FROM e0 GROUP BY 1, 2),
tri AS (SELECT e1.f AS fab, e2.f AS fbc, e3.f AS fac
        FROM fp e1
        JOIN fp e2 ON e2.actor1 = e1.actor2
        JOIN fp e3 ON e3.actor1 = e1.actor1 AND e3.actor2 = e2.actor2),
sp AS (SELECT CASE WHEN fab <> fbc AND fbc <> fac AND fab <> fac
              THEN greatest(fab, fbc, fac) - least(fab, fbc, fac)
              ELSE -1 END AS span
       FROM tri)
SELECT CAST(span AS BIGINT) AS span, CAST(count(*) AS BIGINT) AS n_triangles
FROM sp GROUP BY 1 ORDER BY span
""",
)
def q_triangle_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle formation-span histogram over the pinned day's [9,13)
    four-frame window (the undirected delta-temporal triangle motif of
    Paranjape et al. 2017): per triangle, the spread in frames between
    the first pair to co-appear and the last — the closure-delay
    distribution; span -1 buckets the degenerate triangles born
    whole inside one frame (a single co-presence frame is a clique;
    the sentinel is -1, not NULL, so rows stay totally orderable in
    any comparator).
    First-frame-per-pair reduces the stream before the QUERY11-shaped
    a<b<c join; no forced broadcast (AQE chooses); frames-bounded
    terminal. Oracle replays the reduction, the join, and the span
    arithmetic."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._hour_filter(9, 13))
    return graph.triangle_formation_spans(
        e.select("frame_id", "actor1", "actor2")
    )


@query(
    "q_random_walks",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
adj0 AS (SELECT actor1 AS src, actor2 AS dst FROM e
         UNION SELECT actor2, actor1 FROM e),
adj AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
        FROM adj0),
deg AS (SELECT src, count(*) AS deg FROM adj0 GROUP BY 1),
w0 AS (SELECT src AS walk_id, 0 AS step, src AS node FROM deg),
w1 AS (SELECT w.walk_id, 1 AS step, a.dst AS node
      FROM w0 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 1")}) % d.deg + 1),
w2 AS (SELECT w.walk_id, 2 AS step, a.dst AS node
      FROM w1 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 2")}) % d.deg + 1),
w3 AS (SELECT w.walk_id, 3 AS step, a.dst AS node
      FROM w2 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 3")}) % d.deg + 1),
w4 AS (SELECT w.walk_id, 4 AS step, a.dst AS node
      FROM w3 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 4")}) % d.deg + 1)
SELECT walk_id, CAST(step AS INT) AS step, node
FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4) ORDER BY walk_id, step
""",
)
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random-walk corpus over the pinned-hour contact
    graph — DeepWalk-style walk generation (Perozzi et al. 2014), the
    graph-embedding training-data operator: one 4-hop walk per node,
    each hop picking the neighbor at hash64-mod-degree index. No RNG
    state anywhere, so re-runs and retried tasks reproduce the
    identical corpus, and the oracle replays every hop (adjacency
    rank, degree mod, all 4 joins) bit-for-bit. Scale shape: the
    neighbor-rank window is bounded by max degree; each hop is one
    equi-join of the frontier on (src, rank) — n_steps joins, no
    per-walk loop (operators/graph.py random_walks)."""
    edges = _edges(
        spark, sf_dir,
        (F.expr(f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}")
         & F.expr(f"hour(ts)={HOUR}")),
    ).select("actor1", "actor2").distinct()
    return graph.random_walks(edges, n_steps=4).orderBy("walk_id", "step")


@query(
    "q_node2vec_walks",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
adj0 AS (SELECT actor1 AS src, actor2 AS dst FROM e
         UNION SELECT actor2, actor1 FROM e),
adj AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
        FROM adj0),
deg AS (SELECT src, count(*) AS deg FROM adj0 GROUP BY 1),
f1 AS (SELECT d.src AS walk_id, d.src AS prev, a.dst AS node
      FROM deg d JOIN adj a ON a.src = d.src
       AND a.rnk = ({_H64.format(x="'n2v:' || d.src || ':' || 1")}) % d.deg + 1),HOP2,HOP3
SELECT walk_id, step, node FROM (
  SELECT src AS walk_id, 0 AS step, src AS node FROM deg
  UNION ALL SELECT walk_id, 1, node FROM f1
  UNION ALL SELECT walk_id, 2, node FROM f2
  UNION ALL SELECT walk_id, 3, node FROM f3)
ORDER BY walk_id, step
""".replace("HOP2", '''
cand2 AS (SELECT f.walk_id, f.prev, f.node, a.dst,
       CASE WHEN a.dst = f.prev THEN 1
            WHEN ee._adj THEN 4 ELSE 16 END AS wgt
  FROM f1 f JOIN adj0 a ON a.src = f.node
  LEFT JOIN (SELECT actor1 AS e1, actor2 AS e2, TRUE AS _adj FROM e) ee
    ON least(f.prev, a.dst) = ee.e1 AND greatest(f.prev, a.dst) = ee.e2),
cum2 AS (SELECT *,
       sum(wgt) OVER (PARTITION BY walk_id ORDER BY dst
                      ROWS UNBOUNDED PRECEDING) AS cum,
       sum(wgt) OVER (PARTITION BY walk_id) AS total FROM cand2),
f2 AS (SELECT walk_id, node AS prev, dst AS node FROM cum2
   WHERE cum - wgt <= (('0x' || substr(md5('n2v:' || walk_id || ':' || 2), 1, 15))::BIGINT) % total AND (('0x' || substr(md5('n2v:' || walk_id || ':' || 2), 1, 15))::BIGINT) % total < cum)''').replace("HOP3", '''
cand3 AS (SELECT f.walk_id, f.prev, f.node, a.dst,
       CASE WHEN a.dst = f.prev THEN 1
            WHEN ee._adj THEN 4 ELSE 16 END AS wgt
  FROM f2 f JOIN adj0 a ON a.src = f.node
  LEFT JOIN (SELECT actor1 AS e1, actor2 AS e2, TRUE AS _adj FROM e) ee
    ON least(f.prev, a.dst) = ee.e1 AND greatest(f.prev, a.dst) = ee.e2),
cum3 AS (SELECT *,
       sum(wgt) OVER (PARTITION BY walk_id ORDER BY dst
                      ROWS UNBOUNDED PRECEDING) AS cum,
       sum(wgt) OVER (PARTITION BY walk_id) AS total FROM cand3),
f3 AS (SELECT walk_id, node AS prev, dst AS node FROM cum3
   WHERE cum - wgt <= (('0x' || substr(md5('n2v:' || walk_id || ':' || 3), 1, 15))::BIGINT) % total AND (('0x' || substr(md5('n2v:' || walk_id || ':' || 3), 1, 15))::BIGINT) % total < cum)'''),
)
def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node2vec walks (Grover & Leskovec 2016) over the
    pinned hour graph — the SECOND-ORDER biased walk completing the
    embedding-walk family (uniform DeepWalk q_random_walks,
    time-respecting q_temporal_walks): hop i weights each neighbor of
    the current node by its distance to the PREVIOUS node (return 1,
    stay 4, explore 16 — exact INTEGER weights standing for p=4,
    q=1/4, the exploratory preset), drawn by integer prefix-sum CDF on
    the portable hash — zero RNG state, zero FP boundary risk, every
    hop (both the adjacency candidates, the edge-existence distance
    test, and the draw) replayed by the unrolled oracle
    (operators/graph.py node2vec_walks; validity/determinism and the
    forced-backtrack case pinned by unit test)."""
    edges = _edges(
        spark, sf_dir,
        (F.expr(f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}")
         & F.expr(f"hour(ts)={HOUR}")),
    ).select("actor1", "actor2").distinct()
    return graph.node2vec_walks(edges, n_steps=3).orderBy(
        "walk_id", "step", "node"
    )


@query(
    "q_skipgram_pairs",
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
adj0 AS (SELECT actor1 AS src, actor2 AS dst FROM e
         UNION SELECT actor2, actor1 FROM e),
adj AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
        FROM adj0),
deg AS (SELECT src, count(*) AS deg FROM adj0 GROUP BY 1),
w0 AS (SELECT src AS walk_id, 0 AS step, src AS node FROM deg),
w1 AS (SELECT w.walk_id, 1 AS step, a.dst AS node
      FROM w0 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 1")}) % d.deg + 1),
w2 AS (SELECT w.walk_id, 2 AS step, a.dst AS node
      FROM w1 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 2")}) % d.deg + 1),
w3 AS (SELECT w.walk_id, 3 AS step, a.dst AS node
      FROM w2 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 3")}) % d.deg + 1),
w4 AS (SELECT w.walk_id, 4 AS step, a.dst AS node
      FROM w3 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 4")}) % d.deg + 1),
walks AS (SELECT walk_id, step, node FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)),
pairs AS (SELECT a.node AS center, b.node AS context
          FROM walks a JOIN walks b
            ON b.walk_id = a.walk_id
           AND b.step BETWEEN a.step - 2 AND a.step + 2
           AND b.step != a.step)
SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2 ORDER BY center, context
""",
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the deterministic walk corpus —
    the second half of the DeepWalk pipeline (walks ARE sentences;
    window-2 co-occurrence pairs are the embedding model's actual
    training rows, word2vec's data layout applied to graphs). The pair
    join is walk-id-keyed with the step-window bound folded in, so
    volume is walks x steps x window — linear in the corpus, never
    all-pairs; the aggregate collapses to the (center, context) vocab
    grid map-side. Oracle replays the walks AND the windowed pair
    extraction."""
    edges = _edges(
        spark, sf_dir,
        (F.expr(f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}")
         & F.expr(f"hour(ts)={HOUR}")),
    ).select("actor1", "actor2").distinct()
    # checkpoint the corpus once: the pair extraction self-joins it,
    # and without this each side re-derives the full 4-hop walk plan
    walks = graph.random_walks(edges, n_steps=4).transform(checkpoint_hub)
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("s_a"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("s_b"), F.col("node").alias("context")
    )
    return (
        a.join(
            b,
            (a.walk_id == b.walk_id)
            & (F.col("s_b") >= F.col("s_a") - 2)
            & (F.col("s_b") <= F.col("s_a") + 2)
            & (F.col("s_b") != F.col("s_a")),
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("center", "context")
    )


@query(
    "q_sgns_negatives",
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
adj0 AS (SELECT actor1 AS src, actor2 AS dst FROM e
         UNION SELECT actor2, actor1 FROM e),
adj AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
        FROM adj0),
deg AS (SELECT src, count(*) AS deg FROM adj0 GROUP BY 1),
w0 AS (SELECT src AS walk_id, 0 AS step, src AS node FROM deg),
w1 AS (SELECT w.walk_id, 1 AS step, a.dst AS node
      FROM w0 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 1")}) % d.deg + 1),
w2 AS (SELECT w.walk_id, 2 AS step, a.dst AS node
      FROM w1 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 2")}) % d.deg + 1),
w3 AS (SELECT w.walk_id, 3 AS step, a.dst AS node
      FROM w2 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 3")}) % d.deg + 1),
w4 AS (SELECT w.walk_id, 4 AS step, a.dst AS node
      FROM w3 w JOIN deg d ON d.src = w.node
      JOIN adj a ON a.src = w.node
       AND a.rnk = ({_H64.format(x="'walk:' || w.walk_id || ':' || 4")}) % d.deg + 1),
walks AS (SELECT walk_id, step, node FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4)),
pr AS (SELECT DISTINCT a.node AS center, b.node AS context
       FROM walks a JOIN walks b ON b.walk_id = a.walk_id
        AND b.step BETWEEN a.step - 2 AND a.step + 2 AND b.step != a.step),
nd AS (SELECT src, count(*) AS deg FROM adj0 GROUP BY 1),
nw AS (SELECT src,
       GREATEST(1, CAST(round(pow(CAST(deg AS DOUBLE), 0.75) * 1048576)
                        AS BIGINT)) AS w,
       src // 1024 AS b FROM nd),
nl AS (SELECT src, w, b,
       sum(w) OVER (PARTITION BY b ORDER BY src ROWS UNBOUNDED PRECEDING) AS hi_local
       FROM nw),
nbs AS (SELECT b, sum(w) AS bw FROM nw GROUP BY 1),
nof AS (SELECT b, COALESCE(sum(bw) OVER (ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM nbs),
ncdf AS (SELECT nl.src, nl.hi_local + nof.off - nl.w AS lo,
                nl.hi_local + nof.off AS hi
         FROM nl JOIN nof USING (b)),
ntot AS (SELECT max(hi) AS total FROM ncdf),
dr AS (SELECT center, context, j.j AS j,
              ({_H64.format(x="'neg:' || center || ':' || context || ':' || j.j")}) % total AS target
       FROM pr, UNNEST(range(1, 3)) AS j(j), ntot)
SELECT dr.center, dr.context, CAST(dr.j AS INT) AS j, ncdf.src AS neg
FROM dr JOIN ncdf ON ncdf.lo <= dr.target AND dr.target < ncdf.hi
ORDER BY center, context, j
""",
)
def q_sgns_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE sampling for the walk-pair corpus —
    word2vec's SGNS noise draw (Mikolov et al. 2013) adapted to nodes:
    2 noise nodes per distinct (center, context) pair, drawn from the
    degree^0.75 distribution by inverse-CDF lookup on the portable
    hash. Completes the embedding-training trio (walks -> skip-gram
    pairs -> negatives); zero RNG state, so the negative table replays
    identically on retry and the oracle re-derives every draw. The
    CDF is EXACT INTEGER fixed-point (round(deg^0.75 * 2^20) weights),
    so intervals partition [0, total) with no FP boundary holes and
    summation order can't perturb bounds; the prefix sum is TWO-PHASE
    (order-aligned src buckets + broadcast offsets — no one-partition
    window over the node table) and the draw -> node lookup is an
    equi-join on the fixed cell grid with an exact range re-check,
    never a nested-loop range join (operators/graph.py
    sgns_negatives)."""
    edges = _edges(
        spark, sf_dir,
        (F.expr(f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}")
         & F.expr(f"hour(ts)={HOUR}")),
    ).select("actor1", "actor2").distinct()
    walks = graph.random_walks(edges, n_steps=4).transform(checkpoint_hub)
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("s_a"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("s_b"), F.col("node").alias("context")
    )
    pairs = (
        a.join(
            b,
            (a.walk_id == b.walk_id)
            & (F.col("s_b") >= F.col("s_a") - 2)
            & (F.col("s_b") <= F.col("s_a") + 2)
            & (F.col("s_b") != F.col("s_a")),
        )
        .select("center", "context")
        .distinct()
    )
    return graph.sgns_negatives(edges, pairs, k=2).orderBy(
        "center", "context", "j"
    )


@query(
    "q_modularity",
    oracle=f"""
WITH p AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} AND hour(ts)={HOUR}")}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
{_lpa_cte(2)},
cm AS (SELECT actor, community FROM l2),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
ic AS (SELECT c1.community, count(*) AS ec
       FROM e JOIN cm c1 ON c1.actor = e.actor1
              JOIN cm c2 ON c2.actor = e.actor2
       WHERE c1.community = c2.community GROUP BY 1),
dg AS (SELECT actor, count(*) AS deg FROM
       (SELECT actor1 AS actor FROM e UNION ALL SELECT actor2 FROM e)
       GROUP BY 1),
dc AS (SELECT cm.community, CAST(sum(dg.deg) AS DOUBLE) AS dsum
       FROM cm JOIN dg USING (actor) GROUP BY 1),
qc AS (SELECT dc.community,
              COALESCE(ic.ec, 0) / mm.m
              - (dc.dsum / (2 * mm.m)) * (dc.dsum / (2 * mm.m)) AS q
       FROM dc LEFT JOIN ic USING (community), mm)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(mm.m AS BIGINT) AS n_edges,
       round(sum(q), 6) AS modularity
FROM qc, mm GROUP BY mm.m
""",
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities — the grade that
    completes community detection the way recall completes ANN and
    purity completes k-means: Q = sum_c (e_c/m - (d_c/2m)^2) says
    whether the 2-round propagation found real structure (Q near 0 on
    the saturated contact hour means "one blob", exactly the health
    signal to read before trusting the assignment downstream). One
    intra-community edge count (two broadcast-able label joins), one
    degree mass per community, a 1-row edge-count dim, and a
    |communities|-bounded sum. Oracle replays the LPA fit AND the
    modularity arithmetic."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = (
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1))
        .select("actor1", "actor2")
        .distinct()
        .transform(checkpoint_hub)
    )
    cm = graph.label_propagation(edges, n_iter=2)
    mm = edges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    c1 = cm.select(F.col("actor").alias("actor1"), F.col("community").alias("ca"))
    c2 = cm.select(F.col("actor").alias("actor2"), F.col("community").alias("cb"))
    ic = (
        edges.join(c1, "actor1")
        .join(c2, "actor2")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    dg = (
        edges.select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dc = (
        cm.join(dg, "actor")
        .groupBy("community")
        .agg(F.sum("deg").cast("double").alias("dsum"))
    )
    qc = (
        dc.join(ic, "community", "left")
        .join(F.broadcast(mm))
        .select(
            "community",
            (
                F.coalesce("ec", F.lit(0)) / F.col("m")
                - (F.col("dsum") / (2 * F.col("m")))
                * (F.col("dsum") / (2 * F.col("m")))
            ).alias("q"),
            "m",
        )
    )
    return qc.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(F.sum("q"), 6).alias("modularity"),
    ).select(
        "n_communities",
        F.col("m").cast("long").alias("n_edges"),
        "modularity",
    )


@query(
    "q_temporal_walks",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
fe AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
tadj AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM fe
         UNION SELECT frame_id, actor2, actor1 FROM fe),
tw0 AS (SELECT DISTINCT src AS walk_id, 0 AS step, src AS node,
               CAST(-1 AS BIGINT) AS t FROM tadj),
tc1 AS (SELECT w.walk_id, a.dst, a.frame_id,
       row_number() OVER (PARTITION BY w.walk_id ORDER BY a.frame_id, a.dst) AS rk,
       count(*) OVER (PARTITION BY w.walk_id) AS n
       FROM tw0 w JOIN tadj a ON a.src = w.node AND a.frame_id > w.t),
tw1 AS (SELECT walk_id, 1 AS step, dst AS node, frame_id AS t FROM tc1
       WHERE rk = ({_H64.format(x="'twalk:' || walk_id || ':' || 1")}) % n + 1),
tc2 AS (SELECT w.walk_id, a.dst, a.frame_id,
       row_number() OVER (PARTITION BY w.walk_id ORDER BY a.frame_id, a.dst) AS rk,
       count(*) OVER (PARTITION BY w.walk_id) AS n
       FROM tw1 w JOIN tadj a ON a.src = w.node AND a.frame_id > w.t),
tw2 AS (SELECT walk_id, 2 AS step, dst AS node, frame_id AS t FROM tc2
       WHERE rk = ({_H64.format(x="'twalk:' || walk_id || ':' || 2")}) % n + 1),
tc3 AS (SELECT w.walk_id, a.dst, a.frame_id,
       row_number() OVER (PARTITION BY w.walk_id ORDER BY a.frame_id, a.dst) AS rk,
       count(*) OVER (PARTITION BY w.walk_id) AS n
       FROM tw2 w JOIN tadj a ON a.src = w.node AND a.frame_id > w.t),
tw3 AS (SELECT walk_id, 3 AS step, dst AS node, frame_id AS t FROM tc3
       WHERE rk = ({_H64.format(x="'twalk:' || walk_id || ':' || 3")}) % n + 1)
SELECT walk_id, CAST(step AS INT) AS step, node, t
FROM (SELECT * FROM tw0 UNION ALL SELECT * FROM tw1 UNION ALL SELECT * FROM tw2 UNION ALL SELECT * FROM tw3) ORDER BY walk_id, step
""",
)
def q_temporal_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RESPECTING random-walk corpus over the pinned day's frame
    edges (CTDNE, Nguyen et al. 2018) — the temporal twin of
    q_random_walks and the walk form that matches this engine's
    dynamic-graph identity: each hop only traverses an edge in a
    strictly LATER frame, so every walk is a plausible transmission
    path (the same causal constraint q_temporal_paths enumerates
    exhaustively, here sampled deterministically for embedding
    training). Walks with no later edge terminate early — variable
    length, like real temporal paths. Zero RNG state; the oracle
    replays every hop (candidate rank, count, hash-mod choice)
    bit-for-bit (operators/graph.py temporal_walks)."""
    fe = (
        _edges(spark, sf_dir, F.expr(
            f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"))
        .select("frame_id", "actor1", "actor2")
        .distinct()
    )
    return graph.temporal_walks(fe, n_steps=3).orderBy("walk_id", "step")


@query(
    "q_degree_powerlaw",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_WHERE)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
s AS (SELECT actor1 AS actor FROM e UNION ALL SELECT actor2 FROM e),
dg AS (SELECT actor, count(*) AS degree FROM s GROUP BY 1),
h AS (SELECT degree, count(*) AS n_actors FROM dg GROUP BY 1),
xy AS (SELECT ln(CAST(degree AS DOUBLE)) AS x,
              ln(CAST(n_actors AS DOUBLE)) AS y FROM h),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
SELECT CAST(n AS BIGINT) AS n_degrees,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS alpha,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept
FROM st
""",
)
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of the day graph's degree distribution — the
    graph twin of q_token_zipf's corpus-health statistic: closed-form
    least-squares slope of ln(count) on ln(degree) over the degree
    histogram (real contact networks sit near alpha = -2..-3; the
    saturated synthetic graph reads far from that — exactly the
    scale-free-ness flag the metric exists to raise before anyone
    tunes skew handling for a hub structure that isn't there). One
    degree aggregate, an O(max-degree) histogram, one scalar fit.
    Oracle replays the histogram and the regression algebra."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(
        spark, sf_dir,
        F.expr(f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"),
    ).select("actor1", "actor2").distinct()
    h = (
        graph.degree(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_actors"))
    )
    xy = h.select(
        F.log(F.col("degree").cast("double")).alias("x"),
        F.log(F.col("n_actors").cast("double")).alias("y"),
    )
    st = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return st.select(
        F.col("n").cast("long").alias("n_degrees"),
        F.round(slope, 6).alias("alpha"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Dynamic-graph evolution family (round 11): per-frame components, the
# Palla-style lifecycle taxonomy over them, delta-windowed temporal
# triangle motifs, and per-actor burst windows — the frame-indexed
# analyses the reference's timeline tree exists to serve
# (BaseTimeline.java's per-frame subgraph walk; graph_manipulation.py's
# frame loop).

_DAY_SQL = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"

_PER_FRAME_COMP_CTE = f"""
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
nodes AS (SELECT DISTINCT frame_id, src AS node FROM sym),
reach AS (
  SELECT frame_id, node, node AS label FROM nodes
  UNION
  SELECT s.frame_id, s.dst AS node, r.label
  FROM reach r JOIN sym s ON s.frame_id = r.frame_id AND s.src = r.node
  WHERE r.label < s.dst
),
comp AS (SELECT frame_id, node AS actor, min(label) AS component
         FROM reach GROUP BY 1, 2)
"""


@query(
    "q_component_lifecycle",
    bench=True,
    oracle=f"""
WITH RECURSIVE
{_PER_FRAME_COMP_CTE},
sizes AS (SELECT frame_id, component, count(*) AS n_members
          FROM comp GROUP BY 1, 2),
pred AS (SELECT c.frame_id, c.component,
                count(DISTINCT q.component) AS n_pred
         FROM comp c LEFT JOIN comp q
           ON q.frame_id = c.frame_id - 1 AND q.actor = c.actor
         GROUP BY 1, 2),
succ AS (SELECT c.frame_id, c.component,
                count(DISTINCT q.component) AS n_succ
         FROM comp c LEFT JOIN comp q
           ON q.frame_id = c.frame_id + 1 AND q.actor = c.actor
         GROUP BY 1, 2)
SELECT s.frame_id, s.component,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(pr.n_pred AS BIGINT) AS n_pred,
       CAST(su.n_succ AS BIGINT) AS n_succ,
       CASE WHEN pr.n_pred = 0 THEN 'birth'
            WHEN pr.n_pred >= 2 THEN 'merge'
            ELSE 'continue' END AS event,
       CASE WHEN su.n_succ = 0 THEN 'dissolve'
            WHEN su.n_succ >= 2 THEN 'split'
            ELSE 'persist' END AS fate
FROM sizes s
JOIN pred pr ON pr.frame_id = s.frame_id AND pr.component = s.component
JOIN succ su ON su.frame_id = s.frame_id AND su.component = s.component
ORDER BY s.frame_id, s.component
""",
)
def q_component_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-evolution lifecycle over the pinned day's hourly frames:
    per-frame connected components (min-label keyed by (frame, actor)
    — ALL frames advanced by one distributed iteration, never a
    driver loop over frames), classified against the adjacent frames
    as birth/continue/merge and dissolve/persist/split by counting
    distinct overlapping components (the Palla-style taxonomy, THE
    canonical dynamic-network analysis on SocioPatterns-shaped data).
    The oracle replays per-frame reachability as one recursive CTE
    with frame_id in the join key and the same three aggregations."""
    from neo4j_dynagraph_spark import queries as qmod

    labels = graph.connected_components_per_frame(
        qmod._edges(spark, sf_dir, qmod._day_filter())
    )
    return graph.component_lifecycle(labels)


_MOTIF_DELTA = 6


@query(
    "q_temporal_motifs",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
ed AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
eh AS (SELECT DISTINCT actor1, actor2 FROM ed
       WHERE frame_id = CAST(floor(epoch(TIMESTAMP '{YEAR}-0{MONTH}-{DAY} {HOUR}:00:00')/{DELTA}) AS BIGINT)),
tri AS (SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c
        FROM eh x JOIN eh y ON y.actor1 = x.actor2
        JOIN eh z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2),
m AS (SELECT greatest(x.frame_id, y.frame_id, z.frame_id)
             - least(x.frame_id, y.frame_id, z.frame_id) AS span
      FROM tri t
      JOIN ed x ON x.actor1 = t.a AND x.actor2 = t.b
      JOIN ed y ON y.actor1 = t.b AND y.actor2 = t.c
      JOIN ed z ON z.actor1 = t.a AND z.actor2 = t.c
      WHERE greatest(x.frame_id, y.frame_id, z.frame_id)
            - least(x.frame_id, y.frame_id, z.frame_id) <= {_MOTIF_DELTA})
SELECT span, count(*) AS n_motifs FROM m GROUP BY 1 ORDER BY span
""",
)
def q_temporal_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-windowed temporal triangle census (Paranjape/Benson/
    Leskovec's delta-temporal motifs, triangle motif): triads whose
    structure is anchored in the pinned HOUR's graph (the reference
    QUERY11 triangle shape, cypher_query_timing.py:158-203 — hour
    restriction bounds the enumeration's density at ANY corpus scale,
    no cap needed), spans measured over the full pinned DAY's
    frame-edge lists: triples of day frame-edges covering the
    triangle's three pairs within <= 6 hours, counted per span —
    bursty triads vs smeared ones. Broadcast structure + three
    equi-joins; output is an O(delta) census, never an enumeration.
    Non-trivial at every SF (unlike a fixed degree cap, which empties
    the sf0.1 day graph — median degree 253)."""
    from neo4j_dynagraph_spark import queries as qmod

    day_edges = qmod._edges(spark, sf_dir, qmod._day_filter())
    hour_edges = qmod._edges(
        spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)
    )
    return graph.temporal_motifs(
        day_edges, delta=_MOTIF_DELTA, structure_edges=hour_edges
    )


_BURST_ORACLE = f"""
WITH p AS ({_presence_sql()}),
s AS (SELECT frame_id, actor, n_events,
             count(*) OVER w AS n_obs,
             sum(n_events) OVER w AS s1,
             sum(n_events * n_events) OVER w AS s2
      FROM p
      WINDOW w AS (PARTITION BY actor ORDER BY frame_id
                   RANGE BETWEEN 168 PRECEDING AND 1 PRECEDING)),
z AS (SELECT frame_id, actor, n_events, n_obs,
             round((n_events - s1 / n_obs)
                   / sqrt(greatest(s2 / n_obs - (s1 / n_obs) * (s1 / n_obs),
                                   0.0)), 6) AS z
      FROM s
      WHERE n_obs >= 8
        AND sqrt(greatest(s2 / n_obs - (s1 / n_obs) * (s1 / n_obs), 0.0)) > 0)
SELECT frame_id, actor, n_events, CAST(n_obs AS BIGINT) AS n_obs, z
FROM z WHERE z >= 3.0 ORDER BY frame_id, actor
"""


@query("q_burst_windows", oracle=_BURST_ORACLE)
def q_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-actor activity-burst detection over the full month's hourly
    presence: frames whose event count sits >= 3 trailing-week
    population standard deviations above the actor's own baseline
    (RANGE window on frame_id, so inactive frames are non-observations
    and sparse baselines — under 8 observed frames — yield no verdict
    rather than a noisy one). Moments are exact integer window sums;
    both engines derive the z from the same integers, so the rounded
    score hash-matches. One shuffle (partition by actor)."""
    from neo4j_dynagraph_spark import queries as qmod

    presence = qmod._presence(spark, sf_dir)
    return graph.burst_windows(
        presence, window=168, min_obs=8, z_thresh=3.0
    )


def _ppr_cte(seeds: tuple[int, ...], n_iter: int = 10) -> str:
    """Unrolled personalized-PageRank oracle — _pagerank_cte with
    seed-targeted teleport. The teleport value and the damping
    complement are PYTHON float reprs interpolated into the SQL so
    both engines carry bit-identical constants (1.0-0.85 folds
    differently under DuckDB DECIMAL arithmetic than under Python
    float — the 1e-6 rounding usually absorbs it, the repr makes it
    exact by construction)."""
    tele = repr(1.0 / len(seeds))
    comp = repr(1.0 - 0.85)
    in_list = ", ".join(str(s) for s in seeds)
    day = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"
    blocks = [
        f"p AS ({_presence_sql(day)})",
        f"e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P}))",
        "sym AS (SELECT actor1 AS src, actor2 AS dst FROM e "
        "UNION ALL SELECT actor2, actor1 FROM e)",
        "deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY 1)",
        "tele AS (SELECT src AS actor, CASE WHEN src IN "
        f"({in_list}) THEN {tele} ELSE 0.0 END AS tele FROM deg)",
        'r0 AS (SELECT actor, tele AS "rank" FROM tele)',
    ]
    for i in range(n_iter):
        blocks.append(
            f"m{i} AS (SELECT s.dst AS actor, "
            f'sum(r."rank" / d.degree) AS mass '
            f"FROM sym s JOIN r{i} r ON r.actor = s.src "
            "JOIN deg d ON d.src = s.src GROUP BY 1)"
        )
        blocks.append(
            f"r{i + 1} AS (SELECT t.actor, "
            f"{comp} * t.tele + 0.85 * COALESCE(m.mass, 0.0) AS \"rank\" "
            f"FROM tele t LEFT JOIN m{i} m ON m.actor = t.actor)"
        )
    return ",\n".join(blocks)


_PPR_SEEDS = (ACTOR1, 2)


@query(
    "q_personalized_pagerank",
    oracle=f"""
WITH {_ppr_cte(_PPR_SEEDS, 10)}
SELECT actor, round("rank", 6) AS rank
FROM r10 ORDER BY 2 DESC, actor
""",
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the pinned anchor actors {1, 2} over
    the pinned-day interaction graph (GDS pageRank sourceNodes parity
    — random walk with restart, THE seed-centric relevance measure;
    the seeded twin of q_pagerank): teleport mass jumps back to the
    seeds, so ranks measure graph proximity to them. Fixed 10-round
    deterministic power method; the oracle unrolls all rounds with
    bit-identical interpolated constants and the full-vector LEFT-join
    shape, so the rounded vector hash-matches."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.personalized_pagerank(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        list(_PPR_SEEDS),
        iterations=10,
    )


def _eigen_cte(n_iter: int = 10) -> str:
    """Unrolled sum-normalized power iteration (the q_pagerank oracle
    pattern with an L1 normalizer sub-select per round)."""
    blocks = [
        f"p AS ({_presence_sql(_DAY_SQL)})",
        f"e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P}))",
        "sym AS (SELECT actor1 AS src, actor2 AS dst FROM e "
        "UNION ALL SELECT actor2, actor1 FROM e)",
        "deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY 1)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg)",
        "s0 AS (SELECT src AS actor, 1.0 / (SELECT n FROM nn) AS score FROM deg)",
    ]
    # raw{i} is referenced TWICE per round (normalizer + projection);
    # DuckDB inlines single-use CTEs and would double the expression
    # tree per round — 2^n_iter planner blowup (measured: the inlined
    # form hangs >60 s on a 1,723-edge graph). MATERIALIZED pins each
    # round to one evaluation, linear total.
    for i in range(n_iter):
        blocks.append(
            f"raw{i} AS MATERIALIZED (SELECT s.src AS actor, sum(r.score) AS raw "
            f"FROM sym s JOIN s{i} r ON r.actor = s.dst GROUP BY 1)"
        )
        blocks.append(
            f"s{i + 1} AS (SELECT actor, "
            f"raw / (SELECT sum(raw) FROM raw{i}) AS score FROM raw{i})"
        )
    return ",\n".join(blocks)


@query(
    "q_eigenvector_centrality",
    oracle=f"""
WITH {_eigen_cte(10)}
SELECT actor, round(score, 6) AS score
FROM s10 ORDER BY 2 DESC, actor
""",
)
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (GDS parity; == HITS hub/authority on an
    undirected graph) of the pinned-day interaction graph: 10 rounds
    of sum-normalized power iteration — L1 normalization keeps the
    only cross-engine nonlinearity a plain double division (no sqrt),
    so the unrolled oracle hash-matches on the 1e-6 grid like
    q_pagerank's."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.eigenvector_centrality(
        qmod._edges(spark, sf_dir, qmod._day_filter()), iterations=10
    )


_HOUR_SQL = (
    f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY} "
    f"AND hour(ts)={HOUR}"
)


@query(
    "q_harmonic_centrality",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_HOUR_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
reach AS (
  SELECT src AS s, src AS v, 0 AS d FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT r.s, sy.dst AS v, r.d + 1 AS d
  FROM reach r JOIN sym sy ON sy.src = r.v
  WHERE r.d < 4
),
md AS (SELECT s, v, min(d) AS d FROM reach GROUP BY 1, 2)
SELECT s AS actor, CAST(count(*) AS BIGINT) AS n_reached,
       round(sum(CAST(1.0 AS DOUBLE) / d), 6) AS harmonic
FROM md WHERE d > 0 GROUP BY 1
ORDER BY 3 DESC, actor
""",
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-4 harmonic centrality of the pinned-hour graph (GDS
    closeness/harmonic family; the hour restriction bounds the V^2
    reach state the statistic inherently costs — the same density
    argument as q11's triangle scope): multi-source BFS advanced for
    ALL sources per distributed round (the per-frame-CC pattern),
    exact integer distances, 1/d sums only at the terminal. The
    oracle replays reachability as a depth-bounded recursive CTE with
    min-distance reduction."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.harmonic_centrality(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        max_dist=4,
    )


def _twalk_bounded_cte(n_steps: int, gap: int) -> str:
    """Unrolled bounded-CTDNE oracle: q_temporal_walks' replay with
    (a) seeds at (first active frame - 1) and (b) the per-hop
    max_gap frame bound — generated instead of hand-unrolled."""
    blocks = [
        f"p AS ({_presence_sql(_DAY_WHERE)})",
        f"fe AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P}))",
        "tadj AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM fe "
        "UNION SELECT frame_id, actor2, actor1 FROM fe)",
        "tw0 AS (SELECT src AS walk_id, 0 AS step, src AS node, "
        "CAST(min(frame_id) - 1 AS BIGINT) AS t FROM tadj GROUP BY src)",
    ]
    for i in range(1, n_steps + 1):
        h = _H64.format(x=f"'twalk:' || walk_id || ':' || {i}")
        blocks.append(
            f"tc{i} AS (SELECT w.walk_id, a.dst, a.frame_id,\n"
            "  row_number() OVER (PARTITION BY w.walk_id "
            "ORDER BY a.frame_id, a.dst) AS rk,\n"
            "  count(*) OVER (PARTITION BY w.walk_id) AS n\n"
            f"  FROM tw{i - 1} w JOIN tadj a ON a.src = w.node "
            f"AND a.frame_id > w.t AND a.frame_id <= w.t + {gap})"
        )
        blocks.append(
            f"tw{i} AS (SELECT walk_id, {i} AS step, dst AS node, "
            f"frame_id AS t FROM tc{i} WHERE rk = ({h}) % n + 1)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM tw{i}" for i in range(n_steps + 1))
    return ",\n".join(blocks) + f"\n, allw AS ({union})"


@query(
    "q_temporal_walks_bounded",
    oracle=f"""
WITH {_twalk_bounded_cte(3, 2)}
SELECT walk_id, CAST(step AS INT) AS step, node, t
FROM allw ORDER BY walk_id, step
""",
)
def q_temporal_walks_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_temporal_walks under the bounded-temporal-neighborhood
    contract (max_gap=2: each hop within the next 2 frames of the
    walk's clock, seeds at the node's first active frame) — the
    standard CTDNE windowing AND the semantic guardrail the sf10
    stress motivated: unbounded, a seed's candidate set is its entire
    remaining temporal adjacency (frames x near-clique partners per
    walk — spilled >78 GiB and died at sf10); bounded, per-hop
    candidates are the node's activity inside 2 frames. The oracle
    replays seeds, bounds, ranks, and every hash-mod draw."""
    fe = (
        _edges(spark, sf_dir, F.expr(
            f"year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"))
        .select("frame_id", "actor1", "actor2")
        .distinct()
    )
    return graph.temporal_walks(fe, n_steps=3, max_gap=2).orderBy(
        "walk_id", "step"
    )


@query(
    "q_frame_density",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
ec AS (SELECT frame_id, count(*) AS n_edges FROM e GROUP BY 1),
ac AS (SELECT frame_id, count(DISTINCT actor) AS n_actors FROM (
         SELECT frame_id, actor1 AS actor FROM e
         UNION ALL SELECT frame_id, actor2 FROM e) GROUP BY 1)
SELECT ec.frame_id, CAST(ac.n_actors AS BIGINT) AS n_actors,
       CAST(ec.n_edges AS BIGINT) AS n_edges,
       round(2.0 * ec.n_edges
             / (ac.n_actors * CAST(ac.n_actors - 1 AS DOUBLE)), 6)
         AS density
FROM ec JOIN ac ON ac.frame_id = ec.frame_id
ORDER BY ec.frame_id
""",
)
def q_frame_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame graph-density timeseries over the pinned day — the
    network-evolution statistic SocioPatterns plots first (how
    connected is each snapshot: density = 2E / N(N-1) on the frame's
    edge-endpoint actors). One scan, two per-frame aggregates, one
    frame-keyed join; O(frames) terminal. The density series is also
    the saturation diagnostic behind every dense-regime guardrail in
    this repo: the generator's frames sit near 1.0 while real contact
    networks sit orders of magnitude lower."""
    from neo4j_dynagraph_spark import queries as qmod

    # r13: e feeds both the edge-count and actor-count branches —
    # checkpoint the day-scoped frame-edge set once
    e = (
        qmod._edges(spark, sf_dir, qmod._day_filter())
        .select("frame_id", "actor1", "actor2")
        .distinct()
        .transform(checkpoint_hub)
    )
    ec = e.groupBy("frame_id").agg(F.count(F.lit(1)).alias("n_edges"))
    ac = (
        e.select(
            "frame_id",
            F.explode(F.array("actor1", "actor2")).alias("actor"),
        )
        .groupBy("frame_id")
        .agg(F.countDistinct("actor").alias("n_actors"))
    )
    return (
        ec.join(ac, "frame_id")
        .select(
            "frame_id",
            "n_actors",
            "n_edges",
            F.round(
                2.0 * F.col("n_edges")
                / (F.col("n_actors") * (F.col("n_actors") - 1).cast("double")),
                6,
            ).alias("density"),
        )
        .orderBy("frame_id")
    )


# ---------------------------------------------------------------------------
# round-11 centrality completion: closeness / distance distribution /
# Brandes betweenness / rich club


_REACH_CTE = f"""
p AS ({_presence_sql(_HOUR_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
reach AS (
  SELECT src AS s, src AS v, 0 AS d FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT r.s, sy.dst AS v, r.d + 1 AS d
  FROM reach r JOIN sym sy ON sy.src = r.v
  WHERE r.d < 4
),
md AS MATERIALIZED (SELECT s, v, min(d) AS d FROM reach GROUP BY 1, 2)"""


@query(
    "q_closeness_centrality",
    oracle=f"""
WITH RECURSIVE
{_REACH_CTE},
nn AS (SELECT count(*) AS n FROM (SELECT DISTINCT src FROM sym))
SELECT s AS actor, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(d) AS BIGINT) AS total_dist,
       round(CAST(count(*) AS DOUBLE) / sum(d), 6) AS closeness,
       round(CAST(count(*) AS DOUBLE) / sum(d) * count(*)
             / ((SELECT n FROM nn) - 1), 6) AS wf_closeness
FROM md WHERE d > 0 GROUP BY s
ORDER BY 4 DESC, actor
""",
)
def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-4 closeness centrality of the pinned-hour graph (GDS
    closeness parity incl. the Wasserman-Faust component correction;
    completes the distance-centrality family next to
    q_harmonic_centrality): shared bounded-BFS core, exact integer
    distances, terminal ratios on the 1e-6 grid. The oracle replays
    reachability as the same depth-bounded recursive CTE with
    min-distance reduction plus a one-row node-count aggregate."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.closeness_centrality(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        max_dist=4,
    )


@query(
    "q_distance_distribution",
    oracle=f"""
WITH RECURSIVE
{_REACH_CTE},
hist AS (SELECT d, count(*) AS n_pairs FROM md WHERE d > 0 GROUP BY d)
SELECT d, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(CAST(sum(n_pairs) OVER (ORDER BY d) AS DOUBLE)
             / sum(n_pairs) OVER (), 6) AS cum_frac
FROM hist ORDER BY d
""",
)
def q_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance distribution (exact neighborhood function N(d),
    the HyperANF / effective-diameter statistic) of the pinned-hour
    graph within radius 4: ordered reachable pairs per distance and
    the cumulative fraction whose 0.9 crossing is the effective
    diameter. The terminal histogram is <= 4 rows, so the
    unpartitioned cumulative window is legitimate."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.distance_distribution(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        max_dist=4,
    )


def _brandes_cte(max_d: int = 4, seed_rel: str | None = None) -> str:
    """Unrolled Brandes oracle: forward sigma layers (shortest-path
    counts, exact integers) then descending dependency-accumulation
    layers, each one MATERIALIZED CTE (the q_eigenvector_centrality
    precedent — DuckDB inlines single-use CTEs, and del{{i}} is
    referenced twice)."""
    if seed_rel is None:
        blocks = [
            "sig0 AS MATERIALIZED (SELECT src AS s, src AS v, "
            "CAST(1 AS BIGINT) AS sigma FROM (SELECT DISTINCT src FROM sym))"
        ]
    else:
        blocks = [
            f"sig0 AS MATERIALIZED (SELECT s, s AS v, "
            f"CAST(1 AS BIGINT) AS sigma FROM {seed_rel})"
        ]
    for i in range(1, max_d + 1):
        blocks.append(
            f"sig{i} AS MATERIALIZED (\n"
            f"  SELECT g.s, sy.dst AS v, CAST(sum(g.sigma) AS BIGINT) AS sigma\n"
            f"  FROM sig{i - 1} g JOIN sym sy ON sy.src = g.v\n"
            f"  JOIN md m ON m.s = g.s AND m.v = sy.dst AND m.d = {i}\n"
            f"  GROUP BY 1, 2)"
        )
    blocks.append(
        f"del{max_d} AS MATERIALIZED (SELECT s, v, sigma, "
        f"CAST(0 AS DOUBLE) AS delta FROM sig{max_d})"
    )
    for d in range(max_d, 0, -1):
        blocks.append(
            f"del{d - 1} AS MATERIALIZED (\n"
            f"  SELECT u.s, u.v, min(u.sigma) AS sigma,\n"
            f"         coalesce(sum(CAST(u.sigma AS DOUBLE) / w.sigma\n"
            f"                      * (1 + w.delta)), 0) AS delta\n"
            f"  FROM sig{d - 1} u\n"
            f"  LEFT JOIN sym sy ON sy.src = u.v\n"
            f"  LEFT JOIN del{d} w ON w.s = u.s AND w.v = sy.dst\n"
            f"  GROUP BY u.s, u.v)"
        )
    unions = " UNION ALL ".join(
        f"SELECT v, delta FROM del{d}" for d in range(1, max_d + 1)
    )
    blocks.append(f"alldelta AS ({unions})")
    return ",\n".join(blocks)


@query(
    "q_betweenness",
    # bench row for the Brandes family: the hour-scoped EXACT pass
    # (~4 s at sf0.1). The day-scoped sampled twin was the headline
    # whale (27.9 s = 26% of the 43-row total, masking regressions in
    # every other row — VERDICT r11); its day wall is a SCALE.md proof
    # row instead of a bench row.
    bench=True,
    oracle=f"""
WITH RECURSIVE
{_REACH_CTE},
{_brandes_cte(4)}
SELECT v AS actor, round(sum(delta) / 2, 6) AS betweenness
FROM alldelta GROUP BY v
ORDER BY 2 DESC, actor
""",
)
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brandes betweenness centrality of the pinned-hour graph,
    radius-4 bounded (the ball saturates within the bound on
    SocioPatterns-shaped hour graphs, so this is exact betweenness —
    GDS betweenness parity, THE shortest-path brokerage measure and
    the headline of the centrality family). Forward layered sigma
    counts and backward dependency accumulation are each one
    equi-join + aggregate per layer; the oracle unrolls both passes
    over the recursive min-distance reach (sigma layers exact
    integers, deltas on the 1e-6 grid)."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.betweenness_centrality(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        max_dist=4,
    )


_RC_KS = (2, 4, 8, 16, 32, 64)


@query(
    "q_rich_club",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
deg AS (SELECT src AS actor, count(*) AS degree FROM sym GROUP BY 1),
emd AS (SELECT least(d1.degree, d2.degree) AS min_deg
        FROM e JOIN deg d1 ON d1.actor = e.actor1
               JOIN deg d2 ON d2.actor = e.actor2),
eh AS (SELECT min_deg, count(*) AS n_e FROM emd GROUP BY 1),
nh AS (SELECT degree, count(*) AS n_v FROM deg GROUP BY 1),
ks(k) AS (VALUES {", ".join(f"({k})" for k in _RC_KS)}),
nk AS (SELECT k, CAST(coalesce(sum(n_v), 0) AS BIGINT) AS n_nodes
       FROM ks LEFT JOIN nh ON nh.degree > ks.k GROUP BY k),
ek AS (SELECT k, CAST(coalesce(sum(n_e), 0) AS BIGINT) AS n_edges
       FROM ks LEFT JOIN eh ON eh.min_deg > ks.k GROUP BY k)
SELECT nk.k, n_nodes, n_edges,
       CASE WHEN n_nodes >= 2 THEN
         round(2.0 * n_edges / (n_nodes * (n_nodes - 1)), 6)
       END AS phi
FROM nk JOIN ek ON ek.k = nk.k
ORDER BY nk.k
""",
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) of the pinned-day interaction
    graph at thresholds k in {2,4,8,16,32,64} (Zhou & Mondragon 2004
    — hub-hub edge density): both sides of the threshold comparison
    collapse to degree HISTOGRAMS before the non-equi join, so the
    only theta-join is literal-sized-broadcast x histogram. Empty
    clubs survive as n_nodes=0 / NULL phi rows (left joins)."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.rich_club(
        qmod._edges(spark, sf_dir, qmod._day_filter()), list(_RC_KS)
    )


def _anf_cte(k: int, max_d: int) -> str:
    """Unrolled KMV-ANF oracle: per-node k-smallest-hash sketches
    advanced one radius per round (union neighbors' sketches ->
    distinct -> row_number prune), then the (k-1)/u_k estimate —
    bit-identical to operators.sketch.kmv_estimate's convention
    (round-6 per node, exact count when the sketch is not full)."""
    h = _H64.format(x="'anf:' || src")
    blocks = [
        f"b0 AS MATERIALIZED (SELECT src AS v, "
        f"(({h}) + 1) / 1152921504606846976.0 AS u "
        f"FROM (SELECT DISTINCT src FROM sym))"
    ]
    for d in range(1, max_d + 1):
        blocks.append(
            f"b{d} AS MATERIALIZED (\n"
            f"  SELECT v, u FROM (\n"
            f"    SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY u) AS rn\n"
            f"    FROM (SELECT DISTINCT v, u FROM (\n"
            f"      SELECT v, u FROM b{d - 1}\n"
            f"      UNION ALL\n"
            f"      SELECT sy.src AS v, b.u FROM sym sy "
            f"JOIN b{d - 1} b ON b.v = sy.dst)))\n"
            f"  WHERE rn <= {k})"
        )
        blocks.append(
            f"pe{d} AS MATERIALIZED (\n"
            f"  SELECT v, round(CASE WHEN count(*) = {k} THEN ({k} - 1) / max(u)\n"
            f"                       ELSE CAST(count(*) AS DOUBLE) END, 6) AS est\n"
            f"  FROM b{d} GROUP BY v)"
        )
    unions = " UNION ALL ".join(
        f"SELECT {d} AS d, round(sum(est - 1), 6) AS est_pairs FROM pe{d}"
        for d in range(1, max_d + 1)
    )
    blocks.append(f"anf AS ({unions})")
    return ",\n".join(blocks)


@query(
    "q_anf_sketch",
    oracle=f"""
WITH p AS ({_presence_sql(_HOUR_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_anf_cte(16, 4)}
SELECT d, est_pairs FROM anf ORDER BY d
""",
)
def q_anf_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood function of the pinned-hour graph —
    HyperANF (Boldi-Rosa-Vigna) with exactly-replayable KMV counters
    (k=16, radius 4): the O(V*k) scale path whose exact O(V^2) twin
    is q_distance_distribution. Every round is one equi-join + one
    per-node k-smallest prune; the oracle unrolls the rounds with the
    shared cross-engine hash, so even the ESTIMATES hash-match."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.kmv_neighborhood(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        k=16,
        max_dist=4,
    )


def _bellman_cte(source: int, max_hops: int) -> str:
    """Unrolled bounded Bellman-Ford: one min-aggregate relaxation
    round per CTE, exact integer costs."""
    blocks = [
        f"d0 AS (SELECT CAST({source} AS BIGINT) AS v, "
        f"CAST(0 AS BIGINT) AS cost)"
    ]
    for i in range(1, max_hops + 1):
        blocks.append(
            f"d{i} AS MATERIALIZED (SELECT v, min(cost) AS cost FROM (\n"
            f"  SELECT v, cost FROM d{i - 1}\n"
            f"  UNION ALL\n"
            f"  SELECT sy.dst AS v, d.cost + sy.cost\n"
            f"  FROM d{i - 1} d JOIN sc sy ON sy.src = d.v) GROUP BY v)"
        )
    return ",\n".join(blocks)


_SSSP_SRC = 7  # present with pinned-day edges at sf0.001/0.01/0.1


@query(
    "q_shortest_path_weighted",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
pw AS (SELECT actor1, actor2, CAST(sum(weight) AS BIGINT) AS w
       FROM ({_EDGES_FROM_P}) GROUP BY 1, 2),
mx AS (SELECT max(w) AS m FROM pw),
sc AS (SELECT actor1 AS src, actor2 AS dst,
              (SELECT m FROM mx) + 1 - w AS cost FROM pw
       UNION ALL
       SELECT actor2, actor1, (SELECT m FROM mx) + 1 - w FROM pw),
{_bellman_cte(_SSSP_SRC, 4)}
SELECT v AS actor, cost FROM d4 ORDER BY cost, actor
""",
)
def q_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source weighted shortest paths from anchor actor 7
    (pinned-day-active at every test SF) over the pinned-day graph, bounded Bellman-Ford (4 relaxation
    rounds — GDS Dijkstra parity with an explicit hop bound). Edge
    cost is the integerized inverse tie strength max_w + 1 - w (w =
    summed frame weights), so strong contacts are short and ALL state
    stays exact integers — no cross-engine float risk anywhere. The
    oracle unrolls the relaxation rounds."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._day_filter())
    pw = e.groupBy("actor1", "actor2").agg(F.sum("weight").alias("w"))
    mx = pw.agg(F.max("w").alias("m"))
    ew = pw.crossJoin(F.broadcast(mx)).select(
        "actor1",
        "actor2",
        (F.col("m") + 1 - F.col("w")).alias("cost"),
    )
    return graph.shortest_paths_weighted(ew, _SSSP_SRC, max_hops=4)


_NS_FANOUTS = (3, 2)


def _ns_cte(fanouts) -> str:
    """Unrolled neighbor-sampling oracle: per hop, rank each frontier
    node's neighbors by the shared cross-engine hash and keep the
    fanout smallest — bit-identical to operators.graph.neighbor_sampling."""
    blocks = [
        "f0 AS (SELECT DISTINCT src AS seed, src AS v FROM sym)"
    ]
    for hop, fo in enumerate(fanouts, start=1):
        h = _H64.format(
            x=f"'ns:{hop}:' || sy.src || ':' || sy.dst"
        )
        blocks.append(
            f"s{hop} AS MATERIALIZED (\n"
            f"  SELECT seed, {hop} AS hop, src, dst FROM (\n"
            f"    SELECT f.seed, sy.src, sy.dst,\n"
            f"      row_number() OVER (PARTITION BY f.seed, sy.src\n"
            f"        ORDER BY {h}, sy.dst) AS rk\n"
            f"    FROM f{hop - 1} f JOIN sym sy ON sy.src = f.v)\n"
            f"  WHERE rk <= {fo})"
        )
        blocks.append(
            f"f{hop} AS (SELECT DISTINCT seed, dst AS v FROM s{hop})"
        )
    unions = " UNION ALL ".join(
        f"SELECT * FROM s{hop}" for hop in range(1, len(fanouts) + 1)
    )
    blocks.append(f"ns AS ({unions})")
    return ",\n".join(blocks)


_NS_ORACLE = f"""
WITH p AS ({_presence_sql(_HOUR_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_ns_cte(_NS_FANOUTS)}
SELECT seed, hop, src, dst FROM ns ORDER BY seed, hop, src, dst
"""


@query("q_neighbor_sampling", oracle=_NS_ORACLE)
def q_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling over the
    pinned-hour graph, fanouts (3, 2) from every node — the GNN
    minibatch blocks of the training-data pipeline: bounded
    seeds * prod(fanouts) rows where the full 2-hop expansion of a
    hub is quadratic. Hash-ranked draws make the sample partition-
    independent and exactly replayable; the oracle unrolls both hops
    with the shared cross-engine hash."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.neighbor_sampling(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        list(_NS_FANOUTS),
    )


@query(
    "q_anf_day",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_anf_cte(16, 4)}
SELECT d, est_pairs FROM anf ORDER BY d
""",
)
def q_anf_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-ANF neighborhood function of the full pinned-DAY graph —
    the bench-scoped scale demonstration of q_anf_sketch: at sf0.1
    the day graph has ~1.3k nodes, where the exact O(V^2) form
    carries ~1.8M reach rows and the sketch carries V*k = ~21k; at
    100 TB only the sketch shape survives. Same k=16 radius-4
    replay oracle."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.kmv_neighborhood(
        qmod._edges(spark, sf_dir, qmod._day_filter()), k=16, max_dist=4
    )


_BWS_MOD = 4  # deterministic 1-in-4 source sample


@query(
    "q_betweenness_sampled",
    # NOT a bench row: at sf0.1 the day-scoped sampled pass is ~28 s —
    # 26% of the whole headline total, drowning the other rows'
    # signal. Its wall lives in SCALE.md (day-scope proof table); the
    # bench's Brandes representative is the hour-scoped q_betweenness.
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
seeds AS MATERIALIZED (SELECT src AS s FROM (SELECT DISTINCT src FROM sym)
  WHERE ({_H64.format(x="'bw:' || src")}) % {_BWS_MOD} = 0),
reach AS (
  SELECT s, s AS v, 0 AS d FROM seeds
  UNION
  SELECT r.s, sy.dst AS v, r.d + 1 AS d
  FROM reach r JOIN sym sy ON sy.src = r.v
  WHERE r.d < 4
),
md AS MATERIALIZED (SELECT s, v, min(d) AS d FROM reach GROUP BY 1, 2),
{_brandes_cte(4, seed_rel="seeds")},
vc AS (SELECT CAST(count(*) AS DOUBLE) AS n
       FROM (SELECT DISTINCT src FROM sym)),
sc2 AS (SELECT count(*) AS n FROM seeds)
SELECT v AS actor,
       round(sum(delta) * (SELECT n FROM vc) / (SELECT n FROM sc2) / 2,
             6) AS betweenness
FROM alldelta GROUP BY v
ORDER BY 2 DESC, actor
""",
)
def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate betweenness of the full pinned-DAY graph by
    deterministic source sampling (Brandes-Pich 2007, the GDS
    samplingSize knob): the forward/backward passes run from the
    hash-sampled quarter of the nodes and dependencies scale by
    V/|S| — O(V * |S|) state where the exact pass is O(V^2), the
    scale path the exact q_betweenness docstring promises. The
    hash-drawn source set makes even the ESTIMATE replayable; the
    oracle unrolls both Brandes passes seeded at the sample."""
    from neo4j_dynagraph_spark import functions as dfn
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._day_filter())
    nodes = e.select(
        F.explode(F.array("actor1", "actor2")).alias("s")
    ).distinct()
    seeds = nodes.where(
        dfn.hash64(F.concat(F.lit("bw:"), F.col("s").cast("string")))
        % _BWS_MOD
        == 0
    )
    return graph.betweenness_centrality(e, max_dist=4, sources=seeds)


@query(
    "q_temporal_closeness",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
r AS (
  SELECT src AS s, src AS v, CAST(-1 AS BIGINT) AS t, 0 AS h
  FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT r.s, sy.dst AS v, sy.frame_id AS t, r.h + 1 AS h
  FROM r JOIN sym sy ON sy.src = r.v AND sy.frame_id >= r.t
  WHERE r.h < 6
),
ma AS MATERIALIZED (SELECT s, v, min(t) AS t FROM r GROUP BY 1, 2),
w0 AS (SELECT min(frame_id) AS w0 FROM sym)
SELECT s AS actor, CAST(count(*) AS BIGINT) AS n_reached,
       round(sum(CAST(1.0 AS DOUBLE) / (1 + t - (SELECT w0 FROM w0))),
             6) AS t_closeness
FROM ma WHERE v <> s GROUP BY s
ORDER BY 3 DESC, actor
""",
)
def q_temporal_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-sources temporal closeness of the pinned day (Pan-Saramäki
    temporal-path latency): per source, the harmonic sum of
    1/(1 + earliest_arrival - first_frame) over every node reachable
    by a time-respecting path of <= 6 hops (the family's explicit
    bound contract) — the latency-weighted twin of q_temporal_reach
    (which is single-source, arrival only). Exact integer arrivals,
    one join+min round per hop, stopping at the first hop that improves
    no arrival; the oracle replays it as a hop-bounded recursive CTE
    with min-reduction."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.temporal_closeness(
        qmod._edges(spark, sf_dir, qmod._day_filter())
    )


_TCS_MOD = 4  # deterministic 1-in-4 source sample (the _BWS_MOD twin)


@query(
    "q_temporal_closeness_sampled",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
nodes AS MATERIALIZED (SELECT DISTINCT src FROM sym),
seeds AS MATERIALIZED (SELECT src AS s FROM nodes
  WHERE ({_H64.format(x="'tc:' || src")}) % {_TCS_MOD} = 0),
r AS (
  SELECT s, s AS v, CAST(-1 AS BIGINT) AS t, 0 AS h FROM seeds
  UNION
  SELECT r.s, sy.dst AS v, sy.frame_id AS t, r.h + 1 AS h
  FROM r JOIN sym sy ON sy.src = r.v AND sy.frame_id >= r.t
  WHERE r.h < 6
),
ma AS MATERIALIZED (SELECT s, v, min(t) AS t FROM r GROUP BY 1, 2),
w0 AS (SELECT min(frame_id) AS w0 FROM sym),
vc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
sc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds)
SELECT v AS actor,
       round(CAST(count(*) AS DOUBLE)
             * (SELECT n FROM vc) / (SELECT n FROM sc), 6)
         AS est_n_reaching,
       round(sum(CAST(1.0 AS DOUBLE) / (1 + t - (SELECT w0 FROM w0)))
             * (SELECT n FROM vc) / (SELECT n FROM sc), 6)
         AS t_closeness_in
FROM ma WHERE v <> s GROUP BY v
ORDER BY 3 DESC, actor
""",
)
def q_temporal_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of the family's most expensive member: inbound
    temporal closeness estimated from a deterministic hash-drawn 1-in-4
    source sample (Eppstein-Wang / Brandes-Pich estimator — inbound
    closeness is a sum over sources, so sampled sources scaled by
    V/|S| are unbiased; see operators/graph.py
    temporal_closeness_sampled for why the OUTBOUND table admits no
    such estimator). O(V * |S|) arrival state where the exact
    all-sources pass is O(V^2) — the 100 TB path. The hash draw makes
    the estimate itself replayable: the oracle re-runs the seeded
    delta iteration as a hop-bounded recursive CTE."""
    from neo4j_dynagraph_spark import functions as dfn
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._day_filter())
    nodes = e.select(
        F.explode(F.array("actor1", "actor2")).alias("s")
    ).distinct()
    sources = nodes.where(
        dfn.hash64(F.concat(F.lit("tc:"), F.col("s").cast("string")))
        % _TCS_MOD
        == 0
    )
    return graph.temporal_closeness_sampled(e, sources)


@query(
    "q_node_minhash",
    oracle=(
        f"WITH p AS ({_presence_sql(_DAY_SQL)}), "
        f"e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})), "
        "sym AS (SELECT actor1 AS src, actor2 AS dst FROM e "
        "UNION ALL SELECT actor2, actor1 FROM e), "
        "sh AS (SELECT src AS doc_id, 'nb:' || dst AS shingle FROM sym), "
        "hx AS (SELECT doc_id, md5('s0:' || shingle) || md5('s1:' || shingle) "
        "|| md5('s2:' || shingle) || md5('s3:' || shingle) AS hh FROM sh), "
        "hs AS (SELECT doc_id, "
        + ", ".join(
            f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}"
            for i in range(8)
        )
        + " FROM hx), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"min(h{i}) AS h{i}" for i in range(8))
        + " FROM hs GROUP BY 1), "
        "bands AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, h{2 * b} AS h0, h{2 * b + 1} AS h1 FROM sig"
            for b in range(4)
        )
        + "), "
        "bsz AS (SELECT band, h0, h1, count(*) AS n FROM bands GROUP BY 1, 2, 3), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 "
        "AND a.doc_id < b.doc_id "
        "JOIN bsz ON bsz.band = a.band AND bsz.h0 = a.h0 AND bsz.h1 = a.h1 "
        "AND bsz.n <= 64), "
        "cm AS (SELECT c.d1, c.d2, count(*) AS n_common "
        "FROM cand c JOIN sym a1 ON a1.src = c.d1 "
        "JOIN sym a2 ON a2.src = c.d2 AND a2.dst = a1.dst "
        "GROUP BY 1, 2 HAVING count(*) >= 2), "
        "deg AS (SELECT src, count(*) AS degree FROM sym GROUP BY 1) "
        "SELECT cm.d1 AS actor1, cm.d2 AS actor2, "
        "CAST(n_common AS BIGINT) AS n_common, "
        "round(CAST(n_common AS DOUBLE) / (g1.degree + g2.degree - n_common), "
        "6) AS jaccard "
        "FROM cm JOIN deg g1 ON g1.src = cm.d1 JOIN deg g2 ON g2.src = cm.d2 "
        "ORDER BY 4 DESC, actor1, actor2"
    ),
)
def q_node_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH node similarity over the pinned-day graph — the
    scale path for q_node_similarity's exact wedge enumeration: each
    node's neighbor set is signed and banded with the SAME dedup
    machinery as document near-dup (k=8, 4 bands x 2 rows, bucket cap
    64), so hub-quadratic wedge pairs become band equi-join candidates
    and only candidates pay the exact-Jaccard verify. Membership is
    integer-thresholded (>= 2 common neighbors); the oracle replays
    signatures, banding, cap, and verify bit-for-bit."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.node_minhash_similarity(
        qmod._edges(spark, sf_dir, qmod._day_filter())
    )


@query("q_stream_neighbor_sampling", oracle=_NS_ORACLE)
def q_stream_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GNN-minibatch index maintenance: the events stream
    drained through incremental per-hop neighbor-sample lattices
    (per source, keep the fanout smallest neighbors by the hop hash —
    union + dedup + keep-k-min is associative/commutative/idempotent,
    the running top-k's shape), with a presence-key store making
    cross-batch edge discovery exact (an actor arriving in batch 5
    pairs with frame-mates from batches 0-4 — the late-arrival hazard
    again). Read-time composition chains the hop lattices; bit-equal
    to batch q_neighbor_sampling under any chopping, graded on ITS
    oracle (streaming/neighbor_sampling.py; multibatch test)."""
    from neo4j_dynagraph_spark import queries as qmod
    from neo4j_dynagraph_spark.streaming.neighbor_sampling import (
        stream_neighbor_sampling,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return stream_neighbor_sampling(
        spark,
        f"{sf_dir}/events.parquet",
        schema,
        fanouts=list(_NS_FANOUTS),
        where=qmod._hour_filter(HOUR, HOUR + 1),
    )


def _luby_cte(rounds: int) -> str:
    """Unrolled Luby rounds: draws, winners (no active neighbor drew
    <=), dominated (active winner-neighbors), shrunken active set."""
    blocks = ["a0 AS (SELECT DISTINCT src AS v FROM sym)"]
    for r in range(1, rounds + 1):
        h = _H64.format(x=f"'mis:{r}:' || v")
        blocks.append(
            f"d{r} AS MATERIALIZED (SELECT v, ({h}) AS dr FROM a{r - 1})"
        )
        blocks.append(
            f"m{r} AS MATERIALIZED (\n"
            f"  SELECT t.v FROM d{r} t WHERE NOT EXISTS (\n"
            f"    SELECT 1 FROM sym sy JOIN d{r} n ON n.v = sy.dst\n"
            f"    WHERE sy.src = t.v AND n.dr <= t.dr))"
        )
        blocks.append(
            f"dom{r} AS MATERIALIZED (\n"
            f"  SELECT DISTINCT sy.dst AS v FROM m{r} m\n"
            f"  JOIN sym sy ON sy.src = m.v\n"
            f"  JOIN a{r - 1} a ON a.v = sy.dst\n"
            f"  WHERE sy.dst NOT IN (SELECT v FROM m{r}))"
        )
        blocks.append(
            f"a{r} AS MATERIALIZED (SELECT v FROM a{r - 1} "
            f"EXCEPT SELECT v FROM m{r} EXCEPT SELECT v FROM dom{r})"
        )
    unions = " UNION ALL ".join(
        f"SELECT v, 'mis' AS status, {r} AS round FROM m{r} "
        f"UNION ALL SELECT v, 'dominated', {r} FROM dom{r}"
        for r in range(1, rounds + 1)
    )
    blocks.append(
        f"verdicts AS ({unions} UNION ALL "
        f"SELECT v, 'undecided', CAST(NULL AS INTEGER) FROM a{rounds})"
    )
    return ",\n".join(blocks)


_MIS_ROUNDS = 4


@query(
    "q_luby_mis",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_luby_cte(_MIS_ROUNDS)}
SELECT v AS actor, status, round FROM verdicts ORDER BY actor
""",
)
def q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby's maximal independent set over the pinned-day graph, 4
    deterministic hash-draw rounds — the classic distributed symmetry
    breaker (and the scheduling/sampling primitive: an MIS is a
    maximal set of pairwise non-interacting actors). Winners,
    dominated neighbors, and any honest 'undecided' tail all replay
    bit-for-bit in the unrolled oracle because draws are the shared
    cross-engine hash."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.luby_mis(
        qmod._edges(spark, sf_dir, qmod._day_filter()), rounds=_MIS_ROUNDS
    )


def _densest_cte(rounds: int) -> str:
    """Unrolled peel rounds with the integer deg*V <= 2*E removal
    test (no float compare decides membership)."""
    blocks = ["e0 AS MATERIALIZED (SELECT actor1 AS a, actor2 AS b FROM e)"]
    for r in range(1, rounds + 1):
        blocks.append(
            f"deg{r} AS MATERIALIZED (SELECT v, count(*) AS deg FROM (\n"
            f"  SELECT a AS v FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})\n"
            f"  GROUP BY 1)"
        )
        blocks.append(
            f"st{r} AS MATERIALIZED (SELECT {r} AS round,\n"
            f"  (SELECT count(*) FROM deg{r}) AS n_nodes,\n"
            f"  (SELECT count(*) FROM e{r - 1}) AS n_edges)"
        )
        blocks.append(
            f"sur{r} AS MATERIALIZED (SELECT v FROM deg{r}\n"
            f"  WHERE deg * (SELECT n_nodes FROM st{r}) "
            f"> 2 * (SELECT n_edges FROM st{r}))"
        )
        blocks.append(
            f"e{r} AS MATERIALIZED (SELECT a, b FROM e{r - 1}\n"
            f"  WHERE a IN (SELECT v FROM sur{r}) "
            f"AND b IN (SELECT v FROM sur{r}))"
        )
    unions = " UNION ALL ".join(
        f"SELECT * FROM st{r}" for r in range(1, rounds + 1)
    )
    blocks.append(
        f"allst AS (SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,\n"
        f"  CAST(n_edges AS BIGINT) AS n_edges,\n"
        f"  round(CAST(n_edges AS DOUBLE) / n_nodes, 6) AS density\n"
        f"  FROM ({unions}) WHERE n_nodes > 0)"
    )
    return ",\n".join(blocks)


_DS_ROUNDS = 8


@query(
    "q_densest_subgraph",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
{_densest_cte(_DS_ROUNDS)}
SELECT round, n_nodes, n_edges, density,
       density = max(density) OVER () AS is_best
FROM allst ORDER BY round
""",
)
def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy densest-subgraph peeling of the pinned-day graph
    (Charikar / Bahmani et al., epsilon=0, 8 rounds): per round the
    remaining density and the integer-exact removal of nodes with
    deg * V <= 2 * E; the flagged best round 2-approximates the
    densest subgraph — the community-core detector of the evolution
    family. The oracle unrolls the peel with the same integer test,
    so the full density trajectory hash-matches."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.densest_subgraph(
        qmod._edges(spark, sf_dir, qmod._day_filter()), rounds=_DS_ROUNDS
    )


@query(
    "q_link_auc",
    oracle=f"""
WITH pd AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM (
  SELECT p1.frame_id, p1.actor AS actor1, p2.actor AS actor2,
         p1.n_events * p2.n_events AS weight
  FROM pd p1 JOIN pd p2
    ON p1.frame_id = p2.frame_id AND p1.actor < p2.actor)),
pt AS ({_presence_sql(f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY + 1}")}),
et AS (SELECT DISTINCT actor1, actor2 FROM (
  SELECT p1.frame_id, p1.actor AS actor1, p2.actor AS actor2,
         p1.n_events * p2.n_events AS weight
  FROM pt p1 JOIN pt p2
    ON p1.frame_id = p2.frame_id AND p1.actor < p2.actor)),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
wedge AS (SELECT s1.dst AS actor1, s2.dst AS actor2
          FROM sym s1 JOIN sym s2
            ON s1.src = s2.src AND s1.dst < s2.dst),
cn AS (SELECT actor1, actor2, CAST(count(*) AS BIGINT) AS score
       FROM wedge GROUP BY 1, 2),
cand AS (SELECT cn.* FROM cn LEFT JOIN e
           ON e.actor1 = cn.actor1 AND e.actor2 = cn.actor2
         WHERE e.actor1 IS NULL),
lab AS (SELECT cand.actor1, cand.actor2, score,
               CASE WHEN et.actor1 IS NULL THEN 0 ELSE 1 END AS label
        FROM cand LEFT JOIN et
          ON et.actor1 = cand.actor1 AND et.actor2 = cand.actor2),
hist AS (SELECT score, count(*) AS cnt, sum(label) AS pos
         FROM lab GROUP BY 1),
ranked AS (SELECT score, cnt, pos,
       coalesce(sum(cnt) OVER (ORDER BY score
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       + (cnt + 1) / 2.0 AS midrank FROM hist),
ag AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_cand,
              CAST(sum(pos) AS BIGINT) AS n_pos,
              CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
              sum(pos * midrank) AS rank_sum FROM ranked),
tops AS (SELECT CAST(sum(label) AS BIGINT) AS hits_at_k FROM (
  SELECT label FROM lab ORDER BY score DESC, actor1, actor2 LIMIT 50))
SELECT n_cand, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round((rank_sum - n_pos * (n_pos + 1) / 2.0)
               / CAST(n_pos * n_neg AS DOUBLE), 6)
       END AS auc,
       hits_at_k
FROM ag CROSS JOIN tops
""",
)
def q_link_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal link-prediction evaluation — the grading row of the
    link family (q_link_scores/q_link_negatives produce, this one
    MEASURES): candidates are the pinned day's non-edge wedge pairs
    scored by common-neighbor count, positives are pairs that really
    link the NEXT day, and the metric is tie-aware Mann-Whitney AUC
    plus precision-in-top-50. Integer scores make midranks exact in
    both engines; top-k is orderBy+limit (TakeOrderedAndProject),
    never a one-partition window."""
    from neo4j_dynagraph_spark import queries as qmod

    lo = qmod._utc_ns(YEAR, MONTH, DAY)
    day = 86400 * 1_000_000_000
    train = qmod._edges(spark, sf_dir, qmod._ns_range(lo, lo + day))
    test = qmod._edges(spark, sf_dir, qmod._ns_range(lo + day, lo + 2 * day))
    return graph.link_prediction_eval(train, test, k=50)


def _wpr_cte(n_iter: int) -> str:
    """Unrolled weighted PageRank (the _pagerank_cte shapes with
    weight-proportional transition mass; weights exact BIGINTs)."""
    blocks = [
        f"p AS ({_presence_sql(_DAY_SQL)})",
        f"pw AS (SELECT actor1, actor2, CAST(sum(weight) AS BIGINT) AS w "
        f"FROM ({_EDGES_FROM_P}) GROUP BY 1, 2)",
        "sym AS (SELECT actor1 AS src, actor2 AS dst, w FROM pw "
        "UNION ALL SELECT actor2, actor1, w FROM pw)",
        "wd AS (SELECT src, sum(w) AS wdeg FROM sym GROUP BY 1)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM wd)",
        'r0 AS (SELECT src AS actor, 1.0 / (SELECT n FROM nn) AS "rank" FROM wd)',
    ]
    for i in range(n_iter):
        blocks.append(
            f"r{i + 1} AS (SELECT s.dst AS actor, "
            "(1.0 - 0.85) / (SELECT n FROM nn) "
            f'+ 0.85 * sum(r."rank" * s.w / d.wdeg) AS "rank" '
            f"FROM sym s JOIN r{i} r ON r.actor = s.src "
            "JOIN wd d ON d.src = s.src GROUP BY s.dst)"
        )
    return ",\n".join(blocks)


@query(
    "q_pagerank_weighted",
    oracle=f"""
WITH {_wpr_cte(10)}
SELECT actor, round("rank", 6) AS rank
FROM r10 ORDER BY 2 DESC, actor
""",
)
def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (10 iterations, d=0.85) over the pinned-day
    graph with summed frame weights as transition mass — the GDS
    relationshipWeightProperty knob beside q_pagerank's uniform
    transitions and q_personalized_pagerank's seeded teleport. Same
    unrolled-power-method oracle family; weights stay exact BIGINTs
    through the same double division."""
    from neo4j_dynagraph_spark import queries as qmod

    e = qmod._edges(spark, sf_dir, qmod._day_filter())
    pw = e.groupBy("actor1", "actor2").agg(F.sum("weight").alias("w"))
    return graph.pagerank_weighted(pw, iterations=10)


# Pinned-day frame slots for temporal PageRank: the same 24 hourly
# frames as the span-core (_DAY_BASE_FID above) — FIXED slots so the
# unrolled oracle is a static string; absent frames degrade to the
# identity round in both engines.
_TPR_BASE_FID = _DAY_BASE_FID
_TPR_BETA = 0.85


def _tpr_cte(beta: float, base_fid: int, n_slots: int) -> str:
    """Unrolled frame-synchronous temporal-PageRank recursion as
    DuckDB CTE blocks — the SQL twin of
    operators/graph.py:temporal_pagerank, one (deg, share, recv,
    update) quadruple per frame slot, every block MATERIALIZED (each
    r{i} is referenced three times; the 3^rounds inlining blowup
    precedent). All state is BIGINT on the 1e-9 grid: the share is a
    single-valued integer function round(beta*r/deg), senders keep
    exactly r - deg*share, receivers sum exact integers — so the
    recursion is bit-identical to Spark's whatever DuckDB's morsel
    order."""
    day = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"
    blocks = [
        f"p AS ({_presence_sql(day)})",
        f"e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P}))",
        "sym AS MATERIALIZED (SELECT frame_id, actor1 AS src, actor2 AS dst "
        "FROM e UNION ALL SELECT frame_id, actor2, actor1 FROM e)",
        "act AS (SELECT DISTINCT src AS actor FROM sym)",
        "nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM act)",
        "r0 AS MATERIALIZED (SELECT actor, CAST(round(1000000000.0 "
        "/ (SELECT nv FROM nv)) AS BIGINT) AS r FROM act)",
    ]
    for i in range(n_slots):
        fid = base_fid + i
        blocks += [
            f"d{i} AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) "
            f"AS deg FROM sym WHERE frame_id = {fid} GROUP BY 1)",
            f"s{i} AS MATERIALIZED (SELECT r.actor, d.deg, "
            f"CAST(round(CAST({beta!r} AS DOUBLE) * r.r / d.deg) AS BIGINT) "
            f"AS s FROM r{i} r JOIN d{i} d ON d.src = r.actor)",
            f"g{i} AS MATERIALIZED (SELECT y.dst AS actor, sum(s.s) AS recv "
            f"FROM sym y JOIN s{i} s ON s.actor = y.src "
            f"WHERE y.frame_id = {fid} GROUP BY 1)",
            f"r{i + 1} AS MATERIALIZED (SELECT r.actor, "
            f"r.r - coalesce(s.deg * s.s, 0) + coalesce(g.recv, 0) AS r "
            f"FROM r{i} r LEFT JOIN s{i} s ON s.actor = r.actor "
            f"LEFT JOIN g{i} g ON g.actor = r.actor)",
        ]
    return ",\n".join(blocks)


@query(
    "q_temporal_pagerank",
    oracle=f"""
WITH {_tpr_cte(_TPR_BETA, _TPR_BASE_FID, 24)}
SELECT actor, round(r / 1000000000.0, 6) AS tpr
FROM r24 ORDER BY actor
""",
)
def q_temporal_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL PageRank of the pinned day (Rozenshtein & Gionis 2016
    shape, frame-synchronous form): mass flows only FORWARD in time —
    the 24 hourly frames are processed in order, each frame's active
    nodes passing beta=0.85 of their mass along that frame's edges —
    so rank accumulates along TIME-RESPECTING paths, the centrality
    static q_pagerank structurally cannot see (and the ranking
    counterpart to q_temporal_reach/q_temporal_paths' enumeration).
    House integer convention end to end: 1e-9-grid BIGINT mass,
    integer-exact conservation (sum invariant, test-pinned),
    bit-stable across partitionings — the DoReMi-class fragility
    designed out from birth. One E_f join + V-row aggregate per
    frame, O(V) state, frames sequential by semantics; the oracle
    unrolls all 24 slots (absent frames = identity rounds)."""
    from neo4j_dynagraph_spark import queries as qmod

    edges = qmod._edges(spark, sf_dir, qmod._day_filter()).select(
        "frame_id", "actor1", "actor2"
    )
    return graph.temporal_pagerank(
        edges,
        [_TPR_BASE_FID + i for i in range(24)],
        beta=_TPR_BETA,
    )


def _hits_cte(n_iter: int) -> str:
    """Unrolled alternating HITS over the actor x frame incidence —
    every raw/normalized CTE MATERIALIZED (each is referenced twice:
    normalizer sub-select + projection; the q_eigenvector_centrality
    DuckDB-inlining precedent)."""
    blocks = [
        f"p AS ({_presence_sql(_DAY_SQL)})",
        "inc AS (SELECT DISTINCT frame_id, actor FROM p)",
        "na AS (SELECT CAST(count(DISTINCT actor) AS DOUBLE) AS n FROM inc)",
        "h0 AS (SELECT DISTINCT actor, 1.0 / (SELECT n FROM na) AS h FROM inc)",
    ]
    for i in range(n_iter):
        blocks.append(
            f"araw{i} AS MATERIALIZED (SELECT i.frame_id, sum(h.h) AS raw "
            f"FROM inc i JOIN h{i} h ON h.actor = i.actor GROUP BY 1)"
        )
        blocks.append(
            f"a{i + 1} AS MATERIALIZED (SELECT frame_id, "
            f"raw / (SELECT sum(raw) FROM araw{i}) AS a FROM araw{i})"
        )
        blocks.append(
            f"hraw{i} AS MATERIALIZED (SELECT i.actor, sum(a.a) AS raw "
            f"FROM inc i JOIN a{i + 1} a ON a.frame_id = i.frame_id "
            f"GROUP BY 1)"
        )
        blocks.append(
            f"h{i + 1} AS MATERIALIZED (SELECT actor, "
            f"raw / (SELECT sum(raw) FROM hraw{i}) AS h FROM hraw{i})"
        )
    return ",\n".join(blocks)


_HITS_ROUNDS = 8


@query(
    "q_hits_bipartite",
    oracle=f"""
WITH {_hits_cte(_HITS_ROUNDS)}
SELECT kind, id, score FROM (
  SELECT 'actor' AS kind, actor AS id, round(h, 6) AS score
  FROM h{_HITS_ROUNDS}
  UNION ALL
  SELECT 'frame', frame_id, round(a, 6) FROM a{_HITS_ROUNDS})
ORDER BY kind, score DESC, id
""",
)
def q_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the pinned day's actor x frame
    incidence — genuinely bipartite, so the two vectors differ (on
    the symmetrized interaction graph HITS degenerates to
    q_eigenvector_centrality): hub actors are active in
    high-authority frames and vice versa. 8 L1-normalized alternating
    rounds; the oracle unrolls both half-steps per round with every
    CTE MATERIALIZED (each is referenced twice)."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.hits_bipartite(
        qmod._presence(spark, sf_dir, qmod._day_filter()),
        iterations=_HITS_ROUNDS,
    )


@query(
    "q_effective_diameter",
    oracle=f"""
WITH RECURSIVE
{_REACH_CTE},
hist AS (SELECT d, count(*) AS n_pairs FROM md WHERE d > 0 GROUP BY d),
cum AS (SELECT d, sum(n_pairs) OVER (ORDER BY d) AS cum,
               sum(n_pairs) OVER () AS total FROM hist),
hit AS (SELECT * FROM cum WHERE cum >= 0.9 * total ORDER BY d LIMIT 1),
prev AS (SELECT d + 1 AS d, cum AS cum_prev FROM cum)
SELECT round(hit.d - 1 + (0.9 * total - coalesce(cum_prev, 0))
             / (cum - coalesce(cum_prev, 0)), 6) AS eff_diameter,
       CAST(hit.d AS INTEGER) AS d_lo,
       CAST(total AS BIGINT) AS n_pairs
FROM hit LEFT JOIN prev ON prev.d = hit.d
""",
)
def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter (0.9-quantile interpolated hop count, the
    'Four Degrees of Separation' statistic) of the pinned-hour graph
    — the scalar read off q_distance_distribution's cumulative curve,
    HyperANF interpolation convention; q_anf_sketch/q_anf_day are the
    sketched scale path for the same number."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.effective_diameter(
        qmod._edges(spark, sf_dir, qmod._hour_filter(HOUR, HOUR + 1)),
        max_dist=4,
        q=0.9,
    )


@query(
    "q_percolation",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
deg AS (SELECT src, count(*) AS k FROM sym GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(k) / 2 AS BIGINT) AS n_edges,
       round(avg(k), 6) AS mean_deg,
       round(sum(k * k) / CAST(sum(k) AS DOUBLE), 6) AS kappa,
       sum(k * k) / CAST(sum(k) AS DOUBLE) > 2.0 AS criterion,
       CASE WHEN sum(k * k) / CAST(sum(k) AS DOUBLE) > 1.0 THEN
         round(1.0 - CAST(1.0 AS DOUBLE)
               / (sum(k * k) / CAST(sum(k) AS DOUBLE) - 1.0), 6)
       END AS f_c
FROM deg
""",
)
def q_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Molloy-Reed percolation criterion of the pinned-day contact
    graph — the epidemic-threshold statistic of the SocioPatterns
    domain: branching factor kappa = <k^2>/<k> (outbreak possible iff
    > 2) and the critical vaccination fraction f_c = 1 - 1/(kappa-1)
    (Cohen et al. 2000). Exact integer degree moments in one
    aggregate; the SI-spread dynamics themselves are the temporal
    family (q_temporal_reach == deterministic SI, q_temporal_closeness
    its latency profile)."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.percolation_criterion(
        qmod._edges(spark, sf_dir, qmod._day_filter())
    )


@query(
    "q_sage_aggregate",
    oracle=f"""
WITH p AS ({_presence_sql(_HOUR_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_ns_cte(_NS_FANOUTS)},
feats AS (SELECT actor, CAST(count(*) AS BIGINT) AS n_frames,
                 CAST(sum(n_events) AS BIGINT) AS n_events
          FROM p GROUP BY actor),
agg AS (SELECT seed,
  count(CASE WHEN hop = 1 THEN 1 END) AS h1_n,
  round(avg(CASE WHEN hop = 1 THEN f.n_frames END), 6) AS h1_mean_n_frames,
  round(avg(CASE WHEN hop = 1 THEN f.n_events END), 6) AS h1_mean_n_events,
  count(CASE WHEN hop = 2 THEN 1 END) AS h2_n,
  round(avg(CASE WHEN hop = 2 THEN f.n_frames END), 6) AS h2_mean_n_frames,
  round(avg(CASE WHEN hop = 2 THEN f.n_events END), 6) AS h2_mean_n_events
FROM ns JOIN feats f ON f.actor = ns.dst GROUP BY seed)
SELECT o.actor AS seed, o.n_frames, o.n_events,
       h1_n, h1_mean_n_frames, h1_mean_n_events,
       h2_n, h2_mean_n_frames, h2_mean_n_events
FROM feats o LEFT JOIN agg ON agg.seed = o.actor
ORDER BY seed
""",
)
def q_sage_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GraphSAGE mean-AGGREGATE step over the pinned-hour sampled
    blocks: per seed, its own activity features plus the per-hop mean
    of the sampled neighbors' features — the trainer-facing tensor
    completing the sampling -> aggregation pipeline
    (q_neighbor_sampling / q_stream_neighbor_sampling produce the
    blocks, this row consumes them). Integer features keep every mean
    an exact rational; the oracle replays the blocks and the
    conditional aggregates."""
    from neo4j_dynagraph_spark import queries as qmod

    hour = qmod._hour_filter(HOUR, HOUR + 1)
    edges = qmod._edges(spark, sf_dir, hour)
    blocks = graph.neighbor_sampling(edges, list(_NS_FANOUTS))
    feats = (
        qmod._presence(spark, sf_dir, hour)
        .groupBy("actor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )
    return graph.sage_aggregate(
        blocks, feats, ["n_frames", "n_events"], n_hops=2
    )


_SI_SEED_MOD, _SI_P10, _SI_HOPS, _SI_BUCKET = 20, 3, 6, 4


@query(
    "q_si_spread",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
tr AS MATERIALIZED (SELECT frame_id, src, dst FROM sym
  WHERE ({_H64.format(x="'sc:' || frame_id || ':' || src || ':' || dst")})
        % 10 < {_SI_P10}),
seeds AS (SELECT src AS v FROM (SELECT DISTINCT src FROM sym)
  WHERE ({_H64.format(x="'si:' || src")}) % {_SI_SEED_MOD} = 0),
r AS (
  SELECT v, CAST(-1 AS BIGINT) AS t, 0 AS h FROM seeds
  UNION
  SELECT tr.dst AS v, CAST(tr.frame_id AS BIGINT) AS t, r.h + 1 AS h
  FROM r JOIN tr ON tr.src = r.v AND tr.frame_id >= r.t
  WHERE r.h < {_SI_HOPS}
),
mi AS MATERIALIZED (SELECT v, min(t) AS t FROM r GROUP BY 1),
cur AS (SELECT CASE WHEN t < 0 THEN CAST(-1 AS BIGINT)
                    ELSE t // {_SI_BUCKET} END AS bucket,
               count(*) AS n FROM mi GROUP BY 1)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS n_infected,
       CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_infected
FROM cur ORDER BY bucket
""",
)
def q_si_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-coin SI epidemic over the pinned day's time-respecting
    contacts — the SocioPatterns domain's headline simulation (the
    contact data was published for exactly this): a 1-in-20
    hash-drawn seed set, per-contact transmissibility beta = 0.3 via
    the portable coin, earliest-infection times by the family's
    delta iteration (q_temporal_reach is the beta = 1 special case;
    q_percolation the static threshold). State is ONE row per node —
    O(V), not the all-sources family's O(V^2) — and the coin filter
    cuts the contact stream to ~beta of E before the loop. Terminal:
    the epidemic curve (new + cumulative infections per 4-frame (4 h)
    bucket, seeds at bucket -1), a bounded table whose running
    sum is a provably bounded window. Every infection decision is
    integer; the oracle replays seeds, coins, and the bounded
    recursion."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.si_spread(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        seed_mod=_SI_SEED_MOD,
        p10=_SI_P10,
        max_hops=_SI_HOPS,
        bucket_frames=_SI_BUCKET,
    )


_WL_ROUNDS = 3


def _wl_cte(rounds: int) -> str:
    """DuckDB replay of graph.wl_refinement: round-0 degree colors,
    then per round the commutative multiset fingerprint (two residue
    sums + count) — moduli interpolated from operators/graph.py so
    the oracle can never desynchronize from the Spark labels."""
    from neo4j_dynagraph_spark.operators.graph import _WL_P1, _WL_P2

    h0 = _H64.format(x="'wl0:' || deg")
    parts = [
        "deg0 AS (SELECT src AS actor, count(*) AS deg FROM sym GROUP BY 1)",
        f"c0 AS (SELECT actor, {h0} AS color FROM deg0)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS (SELECT s.src AS actor,\n"
            f"  sum(c.color % {_WL_P1}) AS s1,\n"
            f"  sum(c.color % {_WL_P2}) AS s2,\n"
            f"  count(*) AS deg\n"
            f"  FROM sym s JOIN c{r - 1} c ON c.actor = s.dst GROUP BY 1)"
        )
        hx = _H64.format(
            x=(
                f"'wl{r}:' || c.color || ':' || n.s1 || ':' || n.s2"
                f" || ':' || n.deg"
            )
        )
        parts.append(
            f"c{r} AS (SELECT n.actor, {hx} AS color\n"
            f"  FROM n{r} n JOIN c{r - 1} c ON c.actor = n.actor)"
        )
    return ",\n".join(parts)


@query(
    "q_wl_colors",
    bench=True,
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_wl_cte(_WL_ROUNDS)},
cs AS (SELECT color, CAST(count(*) AS BIGINT) AS class_size
       FROM c{_WL_ROUNDS} GROUP BY 1)
SELECT c.actor, c.color AS wl_color, cs.class_size
FROM c{_WL_ROUNDS} c JOIN cs ON cs.color = c.color
ORDER BY c.actor
""",
)
def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement of the pinned-DAY graph (the
    Weisfeiler-Leman isomorphism test; the WL subtree kernel of
    Shervashidze et al. 2011 and the expressivity ceiling of
    message-passing GNNs): 3 rounds of recolor-by-neighbor-multiset,
    yielding structural roles (class_size = 1 marks structurally
    unique actors) and the graph's WL fingerprint. The textbook
    sorted neighbor-color list is a per-hub array sort — the
    collect_list hub-killer — so the multiset is fingerprinted
    COMMUTATIVELY (two independent 31-bit residue sums + count):
    each round one E-row equi-join + one combiner-friendly V-row
    aggregate, skew-immune by construction. Colors are portable
    hash64 values, so the whole refinement replays in the unrolled
    oracle."""
    from neo4j_dynagraph_spark import queries as qmod

    # day scope, not hour: with DELTA=3600 a single frame's
    # co-presence graph is a CLIQUE (one WL class, measured — the
    # degenerate case); the day graph is a union of 24 hourly
    # cliques with real structural roles
    return graph.wl_refinement(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        rounds=_WL_ROUNDS,
    )


_SIT_GRID = (1, 2, 3, 5, 8)


@query(
    "q_si_thresholds",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
grid AS (SELECT unnest([{", ".join(str(p) for p in _SIT_GRID)}]) AS p10),
tc AS (SELECT frame_id, src, dst,
    ({_H64.format(x="'sc:' || frame_id || ':' || src || ':' || dst")})
    % 10 AS coin FROM sym),
tr AS MATERIALIZED (SELECT CAST(g.p10 AS BIGINT) AS p10, t.frame_id,
    t.src, t.dst FROM tc t JOIN grid g ON t.coin < g.p10),
seeds AS (SELECT src AS v FROM (SELECT DISTINCT src FROM sym)
  WHERE ({_H64.format(x="'si:' || src")}) % {_SI_SEED_MOD} = 0),
r AS (
  SELECT CAST(g.p10 AS BIGINT) AS p10, s.v, CAST(-1 AS BIGINT) AS t,
         0 AS h
  FROM seeds s, grid g
  UNION
  SELECT r.p10, tr.dst AS v, CAST(tr.frame_id AS BIGINT) AS t,
         r.h + 1 AS h
  FROM r JOIN tr ON tr.p10 = r.p10 AND tr.src = r.v
                AND tr.frame_id >= r.t
  WHERE r.h < {_SI_HOPS}
),
mi AS MATERIALIZED (SELECT p10, v, min(t) AS t FROM r GROUP BY 1, 2),
vc AS (SELECT CAST(count(*) AS BIGINT) AS nv
       FROM (SELECT DISTINCT src FROM sym))
SELECT p10,
       CAST(count(*) FILTER (WHERE t < 0) AS BIGINT) AS n_seeds,
       CAST(count(*) FILTER (WHERE t >= 0) AS BIGINT) AS n_infected,
       CASE WHEN (SELECT nv FROM vc)
                 - count(*) FILTER (WHERE t < 0) > 0
            THEN round(count(*) FILTER (WHERE t >= 0)
                 / CAST((SELECT nv FROM vc)
                        - count(*) FILTER (WHERE t < 0) AS DOUBLE),
                 6) END AS attack_rate
FROM mi GROUP BY p10 ORDER BY p10
""",
)
def q_si_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attack rate vs transmissibility over the pinned day — the
    epidemic-threshold sweep: one delta iteration carries ALL five
    beta lanes (state keyed (beta, v), the multi-source shape with
    the beta lane as source key; the per-contact coin is drawn once
    and is monotone in beta, so each contact replicates only into
    the lanes it passes). This measures empirically where the
    outbreak takes off on the real temporal contact structure —
    the dynamic counterpart to q_percolation's static Molloy-Reed
    prediction, and the knob-grading move of q_ivf_tuning applied
    to the SI family (q_si_spread is the beta = 0.3 single
    operating point; its lane here reproduces that infected set
    coin-for-coin). |grid|-row terminal; every infection decision
    integer."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.si_attack_rates(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        seed_mod=_SI_SEED_MOD,
        p10_grid=_SIT_GRID,
        max_hops=_SI_HOPS,
    )


_DDK, _DDP10 = 8, 3


def _dd_cte(k: int, p10: int) -> str:
    """DuckDB replay of graph.influence_seeds: k unrolled greedy
    rounds — discounted-degree table, integer-exact argmax with
    smaller-actor tie-break, chosen-set union. Chosen sets are
    multi-referenced per round, so MATERIALIZED."""
    parts = [
        "deg AS MATERIALIZED (SELECT src AS actor, count(*) AS d "
        "FROM sym GROUP BY 1)"
    ]
    prev = None
    for r in range(1, k + 1):
        if prev is None:
            parts.append(
                f"dd{r} AS (SELECT actor, d, 10 * d AS dd10 FROM deg)"
            )
        else:
            parts.append(
                f"t{r} AS (SELECT s.src AS actor, count(*) AS t\n"
                f"  FROM sym s JOIN {prev} c ON c.actor = s.dst "
                f"GROUP BY 1)"
            )
            parts.append(
                f"dd{r} AS (SELECT g.actor, g.d,\n"
                f"  10 * g.d - 20 * coalesce(t.t, 0)\n"
                f"  - (g.d - coalesce(t.t, 0)) * coalesce(t.t, 0) * {p10}"
                f" AS dd10\n"
                f"  FROM deg g LEFT JOIN t{r} t ON t.actor = g.actor\n"
                f"  WHERE g.actor NOT IN (SELECT actor FROM {prev}))"
            )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT {r} AS round, actor, d, dd10\n"
            f"  FROM dd{r} ORDER BY dd10 DESC, actor LIMIT 1)"
        )
        if prev is None:
            parts.append(
                f"ch{r} AS MATERIALIZED (SELECT actor FROM p{r})"
            )
        else:
            parts.append(
                f"ch{r} AS MATERIALIZED (SELECT actor FROM {prev} "
                f"UNION ALL SELECT actor FROM p{r})"
            )
        prev = f"ch{r}"
    return ",\n".join(parts)


@query(
    "q_influence_seeds",
    oracle=f"""
WITH p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT actor2, actor1 FROM e),
{_dd_cte(_DDK, _DDP10)}
SELECT CAST(round AS BIGINT) AS round, actor,
       CAST(d AS BIGINT) AS degree, CAST(dd10 AS BIGINT) AS dd10
FROM ({" UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, _DDK + 1))})
ORDER BY round
""",
)
def q_influence_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-discount influence maximization over the pinned-day
    graph (Chen et al. KDD 2009) — the 'whom to target' completion
    of the epidemic family (q_si_spread simulates, q_si_thresholds
    sweeps beta, q_percolation predicts the threshold, THIS picks
    the 8 seed/immunization targets at the SI family's beta = 0.3).
    Discounted degrees are ranked as the INTEGER dd10 (p folded into
    the numerator), so no float compare decides selection and the
    greedy argmax replays bit-for-bit; each round is one E-row join
    against the <= 8-row broadcast seed set + a top-1
    TakeOrderedAndProject. The oracle unrolls all 8 rounds."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.influence_seeds(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        k=_DDK,
        p10=_DDP10,
    )


@query(
    "q_si_offspring",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
sym AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
        UNION ALL SELECT frame_id, actor2, actor1 FROM e),
tr AS MATERIALIZED (SELECT frame_id, src, dst FROM sym
  WHERE ({_H64.format(x="'sc:' || frame_id || ':' || src || ':' || dst")})
        % 10 < {_SI_P10}),
seeds AS (SELECT src AS v FROM (SELECT DISTINCT src FROM sym)
  WHERE ({_H64.format(x="'si:' || src")}) % {_SI_SEED_MOD} = 0),
r AS (
  SELECT v, CAST(-1 AS BIGINT) AS t, 0 AS h FROM seeds
  UNION
  SELECT tr.dst AS v, CAST(tr.frame_id AS BIGINT) AS t, r.h + 1 AS h
  FROM r JOIN tr ON tr.src = r.v AND tr.frame_id >= r.t
  WHERE r.h < {_SI_HOPS}
),
mi AS MATERIALIZED (SELECT v, min(t) AS t FROM r GROUP BY 1),
par AS (SELECT m.v, min(t2.src) AS parent
        FROM mi m
        JOIN tr t2 ON t2.dst = m.v AND t2.frame_id = m.t
        JOIN mi mu ON mu.v = t2.src AND mu.t < m.t
        WHERE m.t >= 0 GROUP BY m.v),
off AS (SELECT parent AS v, count(*) AS n_off FROM par GROUP BY 1)
SELECT CAST(coalesce(o.n_off, 0) AS BIGINT) AS n_offspring,
       CAST(count(*) AS BIGINT) AS n_actors
FROM mi m LEFT JOIN off o ON o.v = m.v
GROUP BY 1 ORDER BY 1
""",
)
def q_si_offspring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transmission-tree offspring histogram of the q_si_spread
    outbreak — who-infected-whom attribution (parent = smallest-id
    strictly-earlier-infected coin-passing contact at the infection
    frame; same-frame chains honestly unattributed) rolled up into
    the secondary-infection distribution behind R_effective and
    superspreading dispersion, the statistic the SocioPatterns
    contact data was published to enable. One extra equi-join pass
    over the converged SI state, bounded histogram terminal, every
    attribution integer-decided; the oracle replays the recursion
    and the argmin attribution."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.si_offspring(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        seed_mod=_SI_SEED_MOD,
        p10=_SI_P10,
        max_hops=_SI_HOPS,
    )


@query(
    "q_si_immunized",
    oracle=f"""
WITH RECURSIVE
p AS ({_presence_sql(_DAY_SQL)}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
ep AS (SELECT DISTINCT actor1, actor2 FROM e),
sym AS (SELECT actor1 AS src, actor2 AS dst FROM ep
        UNION ALL SELECT actor2, actor1 FROM ep),
{_dd_cte(_DDK, _DDP10)},
symf AS (SELECT frame_id, actor1 AS src, actor2 AS dst FROM e
         UNION ALL SELECT frame_id, actor2, actor1 FROM e),
lanes AS (SELECT unnest(['baseline', 'random', 'targeted']) AS policy),
rmt AS (SELECT 'targeted' AS policy, actor AS rm FROM ch{_DDK}),
rmr AS (SELECT 'random' AS policy, src AS rm
        FROM (SELECT DISTINCT src FROM symf)
        ORDER BY ({_H64.format(x="'rv:' || src")}), src LIMIT {_DDK}),
removed AS MATERIALIZED (SELECT * FROM rmt UNION ALL SELECT * FROM rmr),
tc AS (SELECT frame_id, src, dst FROM symf
  WHERE ({_H64.format(x="'sc:' || frame_id || ':' || src || ':' || dst")})
        % 10 < {_SI_P10}),
trl AS MATERIALIZED (SELECT l.policy, t.frame_id, t.src, t.dst
  FROM tc t CROSS JOIN lanes l
  LEFT JOIN removed r1 ON r1.policy = l.policy AND r1.rm = t.src
  LEFT JOIN removed r2 ON r2.policy = l.policy AND r2.rm = t.dst
  WHERE r1.rm IS NULL AND r2.rm IS NULL),
sd AS (SELECT l.policy, s.src AS v
  FROM (SELECT DISTINCT src FROM symf) s CROSS JOIN lanes l
  LEFT JOIN removed r ON r.policy = l.policy AND r.rm = s.src
  WHERE ({_H64.format(x="'si:' || s.src")}) % {_SI_SEED_MOD} = 0
    AND r.rm IS NULL),
r AS (
  SELECT policy, v, CAST(-1 AS BIGINT) AS t, 0 AS h FROM sd
  UNION
  SELECT r.policy, t.dst AS v, CAST(t.frame_id AS BIGINT) AS t, r.h + 1
  FROM r JOIN trl t ON t.policy = r.policy AND t.src = r.v
                   AND t.frame_id >= r.t
  WHERE r.h < {_SI_HOPS}
),
mi AS MATERIALIZED (SELECT policy, v, min(t) AS t FROM r GROUP BY 1, 2),
vc AS (SELECT CAST(count(*) AS BIGINT) AS nv
       FROM (SELECT DISTINCT src FROM symf)),
nr AS (SELECT policy, CAST(count(*) AS BIGINT) AS n_removed
       FROM removed GROUP BY 1)
SELECT l.policy,
       CAST(coalesce(any_value(nr.n_removed), 0) AS BIGINT) AS n_removed,
       CAST(count(*) FILTER (WHERE mi.t < 0) AS BIGINT) AS n_seeds,
       CAST(count(*) FILTER (WHERE mi.t >= 0) AS BIGINT) AS n_infected,
       CASE WHEN (SELECT nv FROM vc)
                 - coalesce(any_value(nr.n_removed), 0)
                 - count(*) FILTER (WHERE mi.t < 0) > 0
            THEN round(count(*) FILTER (WHERE mi.t >= 0)
                 / CAST((SELECT nv FROM vc)
                        - coalesce(any_value(nr.n_removed), 0)
                        - count(*) FILTER (WHERE mi.t < 0) AS DOUBLE),
                 6) END AS attack_rate
FROM lanes l
LEFT JOIN mi ON mi.policy = l.policy
LEFT JOIN nr ON nr.policy = l.policy
GROUP BY l.policy ORDER BY l.policy
""",
)
def q_si_immunized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-immunization evaluation — the epidemic family's
    closing loop (select -> immunize -> measure): the q_si_spread
    outbreak re-run under three removal policies in ONE lane-keyed
    delta iteration — baseline, random (k hash-smallest actors, the
    replayable null policy), targeted (the q_influence_seeds
    degree-discount picks). Removed actors neither seed nor transmit
    nor count; attack rates compare what the selection is FOR.
    The oracle replays the 8-round greedy, both removal draws, the
    per-lane anti-joins, and the bounded recursion."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.si_immunized(
        qmod._edges(spark, sf_dir, qmod._day_filter()),
        k=_DDK,
        seed_mod=_SI_SEED_MOD,
        p10=_SI_P10,
        max_hops=_SI_HOPS,
    )


_WLD_ROUNDS = 2


def _wld_cte(rounds: int) -> str:
    """Day-keyed DuckDB replay of graph.wl_day_similarity's
    refinement rounds (moduli interpolated from operators/graph.py,
    same as _wl_cte)."""
    from neo4j_dynagraph_spark.operators.graph import _WL_P1, _WL_P2

    h0 = _H64.format(x="'wl0:' || deg")
    parts = [
        "deg0 AS (SELECT day, src AS actor, count(*) AS deg "
        "FROM symd GROUP BY 1, 2)",
        f"c0 AS (SELECT day, actor, {h0} AS color FROM deg0)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS (SELECT s.day, s.src AS actor,\n"
            f"  sum(c.color % {_WL_P1}) AS s1,\n"
            f"  sum(c.color % {_WL_P2}) AS s2,\n"
            f"  count(*) AS deg\n"
            f"  FROM symd s JOIN c{r - 1} c\n"
            f"    ON c.day = s.day AND c.actor = s.dst GROUP BY 1, 2)"
        )
        hx = _H64.format(
            x=(
                f"'wl{r}:' || c.color || ':' || n.s1 || ':' || n.s2"
                f" || ':' || n.deg"
            )
        )
        parts.append(
            f"c{r} AS (SELECT n.day, n.actor, {hx} AS color\n"
            f"  FROM n{r} n JOIN c{r - 1} c\n"
            f"    ON c.day = n.day AND c.actor = n.actor)"
        )
    return ",\n".join(parts)


@query(
    "q_wl_day_similarity",
    oracle=f"""
WITH p AS ({_presence_sql()}),
e AS (SELECT DISTINCT frame_id // 24 AS day, actor1, actor2
      FROM ({_EDGES_FROM_P})),
symd AS (SELECT day, actor1 AS src, actor2 AS dst FROM e
         UNION ALL SELECT day, actor2, actor1 FROM e),
{_wld_cte(_WLD_ROUNDS)},
hist AS (SELECT day, color, CAST(count(*) AS BIGINT) AS n
         FROM c{_WLD_ROUNDS} GROUP BY 1, 2),
tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS nv FROM hist GROUP BY 1),
cm AS (SELECT a.day AS day_a, b.day AS day_b,
              CAST(sum(least(a.n, b.n)) AS BIGINT) AS common
       FROM hist a JOIN hist b ON a.color = b.color AND a.day < b.day
       GROUP BY 1, 2)
SELECT ta.day AS day_a, tb.day AS day_b, ta.nv AS n_a, tb.nv AS n_b,
       CAST(coalesce(cm.common, 0) AS BIGINT) AS common,
       round(coalesce(cm.common, 0)
             / CAST(ta.nv + tb.nv - coalesce(cm.common, 0) AS DOUBLE),
             6) AS wl_jaccard
FROM tot ta JOIN tot tb ON ta.day < tb.day
LEFT JOIN cm ON cm.day_a = ta.day AND cm.day_b = tb.day
ORDER BY day_a, day_b
""",
)
def q_wl_day_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-LEVEL near-dup across the month's daily contact graphs —
    the WL subtree kernel applied as dedup, bridging the graph and
    dedup families: every day's graph is WL-colored in the SAME two
    rounds (day-keyed equi-joins, all days at once), its color
    histogram is the day's structural fingerprint, and day pairs
    score weighted Jaccard (sum-min over sum-max, denominator by the
    V_a + V_b - common identity so ONE color equi-join computes
    everything; zero-overlap pairs survive via the |days|^2-bounded
    pair base). Structural, not identity-based: two days with the
    same contact SHAPE on different actors score 1.0 (q_graph_diff
    is the identity check). The oracle replays both rounds and the
    pairwise arithmetic."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.wl_day_similarity(
        qmod._edges(spark, sf_dir), rounds=_WLD_ROUNDS
    )
