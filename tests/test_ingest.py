"""Ingestion invariants (SURVEY.md §5.3): property-based spell
discretization + star-schema structural checks on real testdata."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from neo4j_dynagraph_spark.operators import ingest
from neo4j_dynagraph_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

DELTA = 60


@settings(max_examples=10, deadline=None)
@given(
    spells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=1, max_value=500),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_discretize_spells_invariants(spark, spells):
    rows = [(i, t1, t1 + dur) for i, (t1, dur) in enumerate(spells)]
    df = spark.createDataFrame(rows, "id long, t_start long, t_end long")
    out = ingest.discretize_spells(df, DELTA).collect()
    by_id = {r[0]: (r[1], r[2]) for r in rows}
    seen: dict[int, list[int]] = {}
    for r in out:
        t1, t2 = by_id[r.id]
        f_start = r.frame_id * DELTA
        # every emitted frame overlaps the spell [t1, t2)
        assert f_start < t2 and f_start + DELTA > t1
        seen.setdefault(r.id, []).append(r.frame_id)
    for rid, (t1, t2) in by_id.items():
        fids = sorted(seen[rid])
        # frames are exactly the grid cells overlapped, consecutive
        assert fids[0] == t1 // DELTA
        assert fids[-1] == (t2 - 1) // DELTA
        assert fids == list(range(fids[0], fids[-1] + 1))


def test_star_schema_invariants(spark):
    events = load_table(spark, SF_SMALL, "events")
    star = ingest.build_star(events, delta=3600)

    frames = star.frames.collect()
    fids = [r.frame_id for r in frames]
    # frame grid: consecutive, aligned, correct length
    assert fids == list(range(min(fids), max(fids) + 1))
    for r in frames[:50]:
        assert r.timestamp_end - r.timestamp == r.length == 3600
        assert r.timestamp % 3600 == 0

    # canonical pairs: actor1 < actor2 everywhere
    bad = star.frame_interactions.where(
        F.col("actor1") >= F.col("actor2")
    ).count()
    assert bad == 0

    # facts subset of dimensions
    fa_actors = star.frame_actors.select("actor").distinct()
    assert fa_actors.join(star.actors, "actor", "left_anti").count() == 0
    fi_pairs = star.frame_interactions.select("actor1", "actor2").distinct()
    assert (
        fi_pairs.join(star.interactions, ["actor1", "actor2"], "left_anti").count()
        == 0
    )

    # presence frames within the enumerated grid
    mn, mx = min(fids), max(fids)
    out_of_grid = star.frame_actors.where(
        (F.col("frame_id") < mn) | (F.col("frame_id") > mx)
    ).count()
    assert out_of_grid == 0


def test_write_star_partitioned(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events")
    star = ingest.build_star(events, delta=3600)
    out = str(tmp_path / "star")
    ingest.write_star(star, out)
    frames = spark.read.parquet(f"{out}/frames")
    # partition columns survive and prune
    assert set(["year", "month", "day"]) <= set(frames.columns)
    one_day = frames.where(
        (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 15)
    )
    assert one_day.count() == 24
    # the date predicate must become directory-level PartitionFilters —
    # this is what replaces the reference's y/m/d/h tree descent
    # (StructuredTimeline.java:61-84; SURVEY.md §4 X1)
    from neo4j_dynagraph_spark import plans

    s = plans.plan_str(one_day, "formatted")
    assert "PartitionFilters" in s and "(day" in s.split("PartitionFilters", 1)[1][:200]
    fi = spark.read.parquet(f"{out}/frame_interactions")
    assert fi.count() == star.frame_interactions.count()


def test_max_actors_per_frame_guard(spark):
    from neo4j_dynagraph_spark.operators import ingest

    # frame 1: 4 actors (6 pairs); frame 2: 2 actors (1 pair)
    rows = [(1, a, 1) for a in (10, 11, 12, 13)] + [(2, 20, 1), (2, 21, 1)]
    presence = spark.createDataFrame(rows, "frame_id long, actor long, n_events long")
    all_pairs = ingest.presence_to_frame_interactions(presence).count()
    capped = ingest.presence_to_frame_interactions(
        presence, max_actors_per_frame=3
    ).collect()
    assert all_pairs == 7
    assert len(capped) == 1 and capped[0].frame_id == 2


def test_sessionize_invariants(spark):
    """Session semantics on real data: counts conserve, bounds ordered,
    consecutive sessions of a user separated by >= gap."""
    from neo4j_dynagraph_spark.queries import REGISTRY, SPELL_LEN

    rows = REGISTRY["q_sessionize"].fn(spark, SF_SMALL).collect()
    ev_count = load_table(spark, SF_SMALL, "events").count()
    assert sum(r.n_events for r in rows) == ev_count
    by_user = {}
    for r in rows:
        assert r.session_start <= r.session_end
        by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    gaps_checked = 0
    for sess in by_user.values():
        sess.sort()
        for (s1, e1), (s2, _) in zip(sess, sess[1:]):
            assert s2 - e1 >= SPELL_LEN
            gaps_checked += 1
    assert gaps_checked > 0


def test_ts_normalization_all_arrival_types(spark, tmp_path):
    # The driver testdata's events.ts physical type has changed between
    # generations (long epoch-nanos -> TIMESTAMP_MICROS/ntz). The
    # (ts, ts_ns) contract must come out identical for EVERY arrival
    # type — this pins the normalization so the next format change
    # surfaces here, not as 15 red driver rows.
    import datetime as dt

    from neo4j_dynagraph_spark.sources.tables import normalize_event_ts

    base = dt.datetime(2024, 1, 15, 9, 30, 0, 123456)
    micros = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + 123456
    rows = [(1, micros), (2, micros + 86_400_000_000)]

    # arrival 1: legacy long epoch-nanos
    df_long = spark.createDataFrame(
        [(i, us * 1000) for i, us in rows], "event_id long, ts long"
    )
    # arrival 2: timestamp_ntz (current testdata generation)
    df_ntz = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(us / 1e6)) for i, us in rows],
        "event_id long, ts timestamp_ntz",
    )
    # arrival 3: plain timestamp
    df_ts = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(us / 1e6)) for i, us in rows],
        "event_id long, ts timestamp",
    )

    for name, df in [("long", df_long), ("ntz", df_ntz), ("ts", df_ts)]:
        out = normalize_event_ts(spark, df, "ts")
        assert "ts_ns" in out.columns
        got = {r.event_id: r.ts_ns for r in out.collect()}
        want = {i: us * 1000 for i, us in rows}
        assert got == want, f"{name} arrival: ts_ns mismatch {got} != {want}"


def test_load_table_rereads_schema_of_rewritten_file(spark, tmp_path):
    # the schema cache must not serve a stale schema for a parquet
    # file regenerated at the same path within one process
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "probe.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "probe").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "probe")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_bucketed_star_join_no_shuffle(spark, tmp_path):
    # the co-located-join layout: both facts bucketed+sorted on
    # frame_id, so a frame-keyed fact-to-fact join runs with ZERO
    # Exchange — the write-once shuffle replaces a per-query shuffle
    from neo4j_dynagraph_spark import plans

    ev = load_table(spark, SF_SMALL, "events")
    star = ingest.build_star(ev, delta=3600)
    db = "bucketed_star_test"
    ingest.write_star_bucketed(star, db, str(tmp_path / "star"), n_buckets=8)
    try:
        fa = spark.table(f"{db}.frame_actors")
        fi = spark.table(f"{db}.frame_interactions")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = fa.join(fi, "frame_id").groupBy("actor").count()
            s = plans.plan_str(j, "simple")
            # exactly ONE exchange (for the groupBy) — none for the join
            assert "SortMergeJoin" in s
            n_exchanges = s.count("Exchange")
            assert n_exchanges <= 1, (
                f"bucketed join must not shuffle its inputs, saw "
                f"{n_exchanges} exchanges:\n{s}"
            )
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {db}.frame_actors")
        spark.sql(f"DROP TABLE IF EXISTS {db}.frame_interactions")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_zorder_layout_tightens_both_dims(spark, tmp_path):
    """The z-ordered layout must keep per-file min/max ranges narrow on
    BOTH dimensions, where a single-column sort leaves the other
    dimension spanning its full domain in every file — the property
    parquet data skipping prunes on."""
    import itertools

    from neo4j_dynagraph_spark.operators import ingest

    rows = [(u, d) for u, d in itertools.product(range(128), range(128))]
    df = spark.createDataFrame(rows, "user_id long, day long")

    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    ingest.write_zorder(df, zdir, F.col("user_id"), F.col("day"), n_files=64)
    # baseline: sorted by day only (the "time-sorted log" layout)
    df.repartitionByRange(64, "day").sortWithinPartitions("day").write.parquet(sdir)

    def mean_ranges(path):
        got = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("ur"),
                (F.max("day") - F.min("day")).alias("dr"),
            )
            .agg(F.avg("ur").alias("ur"), F.avg("dr").alias("dr"))
            .first()
        )
        return got.ur, got.dr

    z_ur, z_dr = mean_ranges(zdir)
    s_ur, s_dr = mean_ranges(sdir)
    # day-sorted baseline: every file spans ~the full 0..127 user domain
    assert s_ur > 120
    # z-order: 64 files over the 128x128 grid = 16x16 tiles, so BOTH
    # per-file ranges sit at ~15 — an 8x tighter skip bound per dim
    assert z_ur < 32 and z_dr < 32
    # and the z layout did not lose rows
    assert spark.read.parquet(zdir).count() == len(rows)
