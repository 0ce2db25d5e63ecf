"""Shared SQL fragments and loaders for the extension query families.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import text
from neo4j_dynagraph_spark.queries import DAY, MONTH, YEAR
from neo4j_dynagraph_spark.sources.tables import load_table


_TOK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_TOK_CTE = f"tok AS (SELECT doc_id, source, {_TOK} AS t FROM documents)"
_SH_CTE = (
    "sh AS (SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle "
    "FROM tok, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3)"
)
_H64 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


_DAY_WHERE = f"WHERE year(ts)={YEAR} AND month(ts)={MONTH} AND day(ts)={DAY}"


_BM25_TERMS = ("merge", "spark", "vector")


def sql_str(term: str) -> str:
    """SQL single-quoted string literal (embedded quotes doubled) —
    the ONE sanctioned way to embed a term constant into oracle SQL.
    Engine-side predicates are Column API; oracle strings must route
    term constants through here instead of a raw f-string ``'{t}'``,
    so the no-interpolated-terms rule stays grep-enforceable: a grep
    for an equals sign followed by a quoted f-string brace over
    queries_ext/ must come back empty."""
    return "'" + term.replace("'", "''") + "'"


# Gopher rule replay fragments, interpolated from the operators/text.py
# constants (never re-typed) so a threshold change there cannot silently
# desynchronize the q_gopher_rules / q_stream_gopher / q_quality_probe
# oracles from the Spark-side labels — the _RC_KS/_NS_FANOUTS pattern.
_G_STOPS_LIST = "[" + ", ".join(sql_str(s) for s in text.GOPHER_STOPS) + "]"
_GOPHER_FEAT_SQL = f"""len(t) AS n,
  CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
    / greatest(len(t), 1) AS mwl,
  len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
    / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_frac,
  len(list_filter({_G_STOPS_LIST},
      s -> list_contains(t, s))) AS stop_hits,
  CASE WHEN len(t) = 0 THEN 1.0
       ELSE CAST(list_max(list_transform(list_distinct(t),
                 d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
            / greatest(len(t), 1) END AS top_frac"""
_GOPHER_RULES_SQL = f"""\
(n BETWEEN {text.GOPHER_MIN_WORDS} AND {text.GOPHER_MAX_WORDS}) AS r_wc,
  (mwl BETWEEN {text.GOPHER_MWL_MIN} AND {text.GOPHER_MWL_MAX}) AS r_mwl,
  alpha_frac >= {text.GOPHER_MIN_ALPHA_FRAC} AS r_alpha,
  stop_hits >= {text.GOPHER_MIN_STOP_HITS} AS r_stop,
  top_frac <= {text.GOPHER_MAX_TOP_FRAC} AS r_rep"""
_GOPHER_PASS_SQL = (
    f"(n BETWEEN {text.GOPHER_MIN_WORDS} AND {text.GOPHER_MAX_WORDS})"
    f" AND (mwl BETWEEN {text.GOPHER_MWL_MIN} AND {text.GOPHER_MWL_MAX})"
    f" AND alpha_frac >= {text.GOPHER_MIN_ALPHA_FRAC}"
    f" AND stop_hits >= {text.GOPHER_MIN_STOP_HITS}"
    f" AND top_frac <= {text.GOPHER_MAX_TOP_FRAC}"
)


def _bm25_tf_sql(i: int, t: str) -> str:
    return (
        f"CAST(len(list_filter(t, x -> x = {sql_str(t)})) AS DOUBLE) AS tf{i}"
    )


def _bm25_term_sql(i: int) -> str:
    # k1=1.2, b=0.75; literals via repr() so both engines parse the
    # exact doubles the Spark side uses (queries_ext._BM25_TERMS note)
    return (
        f"CASE WHEN tf{i} > 0 THEN "
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* tf{i} * 2.2 / (tf{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)) "
        f"ELSE 0.0 END"
    )
