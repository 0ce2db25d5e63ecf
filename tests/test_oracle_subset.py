"""Fast oracle-parity smoke inside pytest: a representative subset of
the registry vs DuckDB at sf0.001 (the full 44-query gate lives in
tools/check_parity.py and runs per-round at sf0.01)."""

from __future__ import annotations

import pytest

from neo4j_dynagraph_spark.queries import REGISTRY
from tests.conftest import SF_SMALL

SUBSET = [
    "q1_time_range",
    "q4_actor_frame_counts",
    "q7_neighbors",
    "q10_degree",
    "q_tumbling_window",
    "q_pricing_summary",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_embed_topk",
    "q_text_stats",
]


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMALL)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    cur = duck.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _rowset(scols, srows) == _rowset(ocols, orows)


def test_entry_contract(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_cli_oracle_prints_registry_sql(capsys):
    from neo4j_dynagraph_spark.__main__ import main

    assert main(["oracle", "q10_degree"]) == 0
    assert capsys.readouterr().out == REGISTRY["q10_degree"].oracle + "\n"
    assert main(["oracle", "no_such_query"]) == 2


def test_approx_quantiles_error_bound(spark):
    from neo4j_dynagraph_spark.queries import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["q_approx_quantiles"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # GK with accuracy 1000 on ~hundreds of values per group: the
        # approx median must be a value near the exact median
        assert abs(r.p50_approx - r.p50_exact) <= max(0.05 * abs(r.p50_exact), 0.5)


# ---------------------------------------------------------------------------
# Native sketch vs portable twin cross-checks (reference precedent: the
# equivalent-formulation pairs of cypher_query_timing.py:83-203, where
# the same semantics are computed two independent ways and compared).
# The 4 registry rows without a DuckDB oracle are engine-native sketches
# (HLL, GK) whose portable twins (KMV, hash-sample) ARE hash-matched —
# these tests close the loop by pinning that native and portable agree
# within their combined statistical error bands on IDENTICAL input.
# ---------------------------------------------------------------------------


def test_hll_vs_kmv_twin_agreement(spark):
    """q_approx_distinct (engine-native HLL, rsd=0.02) and
    q_kmv_distinct (portable KMV, k=64) estimate the same per-type
    distinct-user counts. Bands: HLL 3*rsd; KMV 3/sqrt(k-2) when
    saturated (n_seen == k), exact otherwise. Both per-estimator
    bands AND the triangle-combined band between the twins."""
    from neo4j_dynagraph_spark.queries import REGISTRY
    from tests.conftest import SF_MED

    K, RSD = 64, 0.02
    hll = {
        r.event_type: r
        for r in REGISTRY["q_approx_distinct"].fn(spark, SF_MED).collect()
    }
    kmv = {
        r.event_type: r
        for r in REGISTRY["q_kmv_distinct"].fn(spark, SF_MED).collect()
    }
    assert set(hll) == set(kmv) and hll
    for et in hll:
        exact = hll[et].exact_users
        assert exact == kmv[et].exact_distinct  # identical input
        hll_band = 3 * RSD * exact
        kmv_band = (
            3 * exact / (K - 2) ** 0.5 if kmv[et].n_seen == K else 0.5
        )
        assert abs(hll[et].approx_users - exact) <= hll_band
        assert abs(kmv[et].est_distinct - exact) <= kmv_band
        # the twin agreement itself: within the combined bands
        assert (
            abs(hll[et].approx_users - kmv[et].est_distinct)
            <= hll_band + kmv_band
        )


def test_gk_vs_sample_quantile_twin_agreement(spark):
    """q_approx_quantiles (engine-native GK sketch, accuracy 1000) and
    q_sample_quantiles (portable 5% hash-sample) estimate the same
    per-type exact median. GK's band is rank error <= 1/accuracy; the
    sample median's population rank is Binomial(n_sample, 1/2)-
    concentrated, so its 3-sigma rank band is 0.5 +/- 3*sqrt(1/(4n)).
    Check both in RANK space (distribution-free — no density
    assumption), plus that the two queries' exact columns agree."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.queries import REGISTRY
    from neo4j_dynagraph_spark.sources.tables import load_table
    from tests.conftest import SF_MED

    gk = {
        r.event_type: r
        for r in REGISTRY["q_approx_quantiles"].fn(spark, SF_MED).collect()
    }
    samp = {
        r.event_type: r
        for r in REGISTRY["q_sample_quantiles"].fn(spark, SF_MED).collect()
    }
    assert set(gk) == set(samp) and gk
    ev = load_table(spark, SF_MED, "events")
    # one pass: per (type, estimate) the fraction of group values <= est
    sizes = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for et in gk:
        # same input => same exact median (sample's is rounded to 6)
        assert abs(gk[et].p50_exact - samp[et].p50_exact) <= 1e-6
        n_grp = sizes[et]
        g = ev.where(F.col("event_type") == et)
        for est, band in (
            # GK: 1/accuracy rank error + 1/n interpolation granularity
            (gk[et].p50_approx, 1.0 / 1000 + 1.0 / n_grp),
            # sample median: binomial 3-sigma + granularity
            (
                samp[et].p50_sample,
                3 * (0.25 / samp[et].n_sample) ** 0.5 + 1.0 / n_grp,
            ),
        ):
            below = g.where(F.col("value") <= est).count()
            lo = g.where(F.col("value") < est).count()
            # est's rank interval in the full group must intersect the
            # allowed band around the median rank 0.5
            assert lo / n_grp <= 0.5 + band and below / n_grp >= 0.5 - band
