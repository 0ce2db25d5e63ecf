"""Planted-graph query+oracle parity (default suite, fast).

The sf0.001 parity fixture happens to give q_adamic_adar /
q_node_similarity ZERO rows (both engines agree, so the opt-in parity
gate passes without exercising their scoring / tie-break / anti-join
logic). This fixture plants a 2-frame co-presence graph with a known
non-empty answer and runs the SAME driver protocol (compare_query), so
the query+oracle pair — not just the operator — is proven on real rows
in every default test run.

Planted graph (frame = pinned-day hour, DELTA=3600):
  hour 9  : users {1, 2, 4}  -> clique edges (1,2) (1,4) (2,4)
  hour 10 : users {3, 2, 4}  -> clique edges (2,3) (3,4) (2,4)
Non-edge pair (1,3) has common neighbors {2,4}: the single Adamic-Adar
row; node-similarity (min_common=2) returns (1,3) and the edge (2,4).
"""

from __future__ import annotations

import types

import duckdb
import pandas as pd
import pytest

from neo4j_dynagraph_spark.queries import REGISTRY
from tools.check_parity import compare_query


@pytest.fixture(scope="module")
def planted_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("planted_events")
    rows = []
    eid = 0
    for hour, users in ((9, (1, 2, 4)), (10, (3, 2, 4))):
        for u in users:
            rows.append(
                (eid, pd.Timestamp(2024, 1, 15, hour, 5), u, "view", 1.0, "{}")
            )
            eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    # match the driver testdata's physical type (TIMESTAMP_MICROS, naive)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def planted_duck(planted_sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{planted_sf_dir}/events.parquet'"
    )
    return con


@pytest.mark.parametrize(
    ("name", "expect_rows"),
    [("q_adamic_adar", 1), ("q_node_similarity", 2)],
)
def test_planted_graph_query_oracle_nonempty(
    name, expect_rows, spark, planted_sf_dir, planted_duck
):
    problems, n_rows = compare_query(
        spark, planted_duck, REGISTRY[name], planted_sf_dir
    )
    assert not problems, f"{name}: " + "; ".join(problems)
    assert n_rows == expect_rows


@pytest.fixture(scope="module")
def planted_tri_dir(tmp_path_factory):
    """Events planting one ORDERED triangle (pairs first seen in frames
    9 < 10 < 12 -> span 3) and one degenerate clique-born triangle
    (all pairs in frame 11 -> span -1 sentinel)."""
    d = tmp_path_factory.mktemp("planted_tri_events")
    rows = []
    eid = 0
    for hour, users in (
        (9, (1, 2)),
        (10, (2, 3)),
        (12, (1, 3)),
        (11, (4, 5, 6)),
    ):
        for u in users:
            rows.append(
                (eid, pd.Timestamp(2024, 1, 15, hour, 5), u, "view", 1.0, "{}")
            )
            eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    return str(d)


def test_planted_triangle_spans_query_oracle(spark, planted_tri_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{planted_tri_dir}/events.parquet'"
    )
    problems, n_rows = compare_query(
        spark, con, REGISTRY["q_triangle_spans"], planted_tri_dir
    )
    assert not problems, "; ".join(problems)
    rows = {
        (r.span, r.n_triangles)
        for r in REGISTRY["q_triangle_spans"].fn(spark, planted_tri_dir).collect()
    }
    assert rows == {(3, 1), (-1, 1)}


@pytest.fixture(scope="module")
def planted_scd_dir(tmp_path_factory):
    """User 1: view,view,buy,view -> 3 versions (view, buy, view);
    user 2: buy,buy -> 1 version. Same-instant rows tie-break on
    event_id (user 3 has two types at one instant -> event_id order)."""
    d = tmp_path_factory.mktemp("planted_scd_events")
    rows = [
        (0, pd.Timestamp(2024, 1, 15, 9, 0), 1, "view", 1.0, "{}"),
        (1, pd.Timestamp(2024, 1, 15, 9, 5), 1, "view", 1.0, "{}"),
        (2, pd.Timestamp(2024, 1, 15, 9, 10), 1, "buy", 1.0, "{}"),
        (3, pd.Timestamp(2024, 1, 15, 9, 15), 1, "view", 1.0, "{}"),
        (4, pd.Timestamp(2024, 1, 15, 10, 0), 2, "buy", 1.0, "{}"),
        (5, pd.Timestamp(2024, 1, 15, 11, 0), 2, "buy", 1.0, "{}"),
        (6, pd.Timestamp(2024, 1, 15, 12, 0), 3, "view", 1.0, "{}"),
        (7, pd.Timestamp(2024, 1, 15, 12, 0), 3, "buy", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    return str(d)


def test_planted_scd2_history_query_oracle(spark, planted_scd_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{planted_scd_dir}/events.parquet'"
    )
    problems, n_rows = compare_query(
        spark, con, REGISTRY["q_scd2_history"], planted_scd_dir
    )
    assert not problems, "; ".join(problems)
    out = {
        r.user_id: r
        for r in REGISTRY["q_scd2_history"].fn(spark, planted_scd_dir).collect()
    }
    assert out[1].n_versions == 3
    assert out[2].n_versions == 1
    # user 3: same instant, event_id 6 (view) before 7 (buy) -> 2 versions
    assert out[3].n_versions == 2


@pytest.fixture(scope="module")
def planted_docs_dir(tmp_path_factory):
    """Documents fixture with known distributional structure: srcA and
    srcB share the exact same texts (JSD must be 0 after smoothing),
    srcC uses a disjoint vocabulary (JSD near the ln 2 ceiling)."""
    d = tmp_path_factory.mktemp("planted_docs")
    texts_ab = [
        "alpha beta gamma delta alpha beta",
        "beta gamma delta epsilon alpha",
        "gamma alpha beta delta delta",
    ]
    texts_c = [
        "zeta eta theta iota kappa zeta",
        "eta theta iota kappa zeta eta",
        "theta zeta eta iota kappa",
    ]
    rows = []
    did = 0
    for src, texts in (("srcA", texts_ab), ("srcB", texts_ab), ("srcC", texts_c)):
        for t in texts:
            rows.append((did, t, "en", src, len(t)))
            did += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(d / "documents.parquet")
    return str(d)


def test_planted_source_divergence_query_oracle(spark, planted_docs_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{planted_docs_dir}/documents.parquet'"
    )
    problems, n_rows = compare_query(
        spark, con, REGISTRY["q_source_divergence"], planted_docs_dir
    )
    assert not problems, "; ".join(problems)
    assert n_rows == 3  # (A,B) (A,C) (B,C)
    out = {
        (r.source_a, r.source_b): r.jsd
        for r in REGISTRY["q_source_divergence"].fn(spark, planted_docs_dir).collect()
    }
    assert out[("srcA", "srcB")] == 0.0  # identical distributions
    import math

    assert 0.05 < out[("srcA", "srcC")] <= math.log(2) + 1e-9  # smoothing over K=64 slots flattens the tiny fixture
    assert out[("srcA", "srcC")] == out[("srcB", "srcC")]


@pytest.fixture(scope="module")
def planted_contam_dir(tmp_path_factory):
    """Documents where doc 0 is the benchmark (doc_id % 97 == 0):
    doc 3 is its exact copy (all 8 signature lanes equal), doc 1 a
    near-paraphrase (high shingle Jaccard), doc 2 unrelated. The
    sf0.01 gate legitimately yields 0 rows for q_minhash_decontam, so
    this fixture proves the flag/agreement logic on real rows in every
    default run."""
    d = tmp_path_factory.mktemp("planted_contam_docs")
    bench = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the tall green tree near the old stone wall"
    )
    near = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the tall green tree near the old brick wall"
    )
    rows = [
        (0, bench, "en", "srcB", len(bench)),
        (1, near, "en", "srcT", len(near)),
        (2, "completely unrelated words about spark shuffles and joins "
            "running on large clusters with many executors today", "en",
         "srcT", 100),
        (3, bench, "en", "srcT", len(bench)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(d / "documents.parquet")
    return str(d)


def test_planted_minhash_decontam_query_oracle(spark, planted_contam_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{planted_contam_dir}/documents.parquet'"
    )
    problems, n_rows = compare_query(
        spark, con, REGISTRY["q_minhash_decontam"], planted_contam_dir
    )
    assert not problems, "; ".join(problems)
    out = {
        r.doc_id: r
        for r in REGISTRY["q_minhash_decontam"].fn(spark, planted_contam_dir).collect()
    }
    assert out[3].n_eq == 8 and out[3].est_jaccard == 1.0  # exact copy
    assert out[3].bench_id == 0
    assert 1 in out and out[1].n_eq >= 4  # paraphrase still flagged
    assert 2 not in out  # unrelated doc untouched


@pytest.fixture(scope="module")
def planted_pit_dir(tmp_path_factory):
    """Events pinning q_pit_features' leakage cutoff: user 1 has a view
    at the exact same microsecond as a purchase (must NOT count — the
    frame ends 1 us before the anchor), and user 2's only view is 8
    days old (outside the 7-day range)."""
    d = tmp_path_factory.mktemp("planted_pit_events")
    rows = [
        (0, pd.Timestamp(2024, 1, 15, 9, 0, 0), 1, "view", 2.0, "{}"),
        (1, pd.Timestamp(2024, 1, 15, 9, 0, 5), 1, "view", 3.0, "{}"),
        (2, pd.Timestamp(2024, 1, 15, 9, 0, 5), 1, "purchase", 9.0, "{}"),
        (3, pd.Timestamp(2024, 1, 15, 10, 0, 0), 1, "purchase", 9.0, "{}"),
        (4, pd.Timestamp(2024, 1, 1, 9, 0, 0), 2, "view", 7.0, "{}"),
        (5, pd.Timestamp(2024, 1, 12, 9, 0, 0), 2, "purchase", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(d / "events.parquet")
    return str(d)


def test_planted_pit_features_leakage_cutoff(spark, planted_pit_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{planted_pit_dir}/events.parquet'"
    )
    problems, n_rows = compare_query(
        spark, con, REGISTRY["q_pit_features"], planted_pit_dir
    )
    assert not problems, "; ".join(problems)
    out = {
        r.event_id: r
        for r in REGISTRY["q_pit_features"].fn(spark, planted_pit_dir).collect()
    }
    # same-instant view excluded: only the 09:00:00 view counts
    assert out[2].n_views_7d == 1 and out[2].val_views_7d == 2.0
    # one hour later both views are in range
    assert out[3].n_views_7d == 2 and out[3].val_views_7d == 5.0
    # 8-day-old view is outside the window -> zero-feature row survives
    assert out[5].n_views_7d == 0 and out[5].val_views_7d == 0.0


def test_planted_hugeint_oracle_is_a_type_problem(spark):
    """A bare DuckDB sum() of integers types as HUGEINT; fetchall()
    returns a plain Python int equal to Spark's bigint, so only the
    type check can see it (the q_intercontact shape). The CAST form of
    the same oracle passes."""
    con = duckdb.connect()
    spec = types.SimpleNamespace(
        name="planted_hugeint",
        fn=lambda s, _dir: s.createDataFrame([(1, 12)], "k bigint, sum_gap bigint"),
        oracle="SELECT 1::BIGINT AS k, sum(x) AS sum_gap FROM (VALUES (5), (7)) t(x)",
        empty_ok=False,
    )
    problems, _ = compare_query(spark, con, spec, None)
    assert problems == ["type sum_gap: spark=long oracle=HUGEINT"]
    spec.oracle = (
        "SELECT 1::BIGINT AS k, CAST(sum(x) AS BIGINT) AS sum_gap "
        "FROM (VALUES (5), (7)) t(x)"
    )
    assert compare_query(spark, con, spec, None) == ([], 1)
