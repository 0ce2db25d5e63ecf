"""Streaming/batch equivalence (SURVEY.md §2.9) + GEXF source parity."""

from __future__ import annotations

import textwrap

import pyspark.sql.functions as F

from neo4j_dynagraph_spark.operators import ingest
from neo4j_dynagraph_spark.sources import gexf
from neo4j_dynagraph_spark.streaming import (
    stream_tumbling_counts,
    streaming_frame_counts_from_parquet,
)
from tests.conftest import SF_SMALL


def test_stream_equals_batch(spark):
    raw_schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    streamed = streaming_frame_counts_from_parquet(
        spark, f"{SF_SMALL}/events.parquet", raw_schema, 3600
    ).collect()
    from neo4j_dynagraph_spark.sources.tables import load_table

    batch = stream_tumbling_counts(load_table(spark, SF_SMALL, "events"), 3600).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


GEXF_DOC = textwrap.dedent("""\
    <?xml version="1.0" encoding="UTF-8"?>
    <gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">
      <graph mode="dynamic" timeformat="integer" defaultedgetype="undirected">
        <nodes>
          <node id="1" label="a"><spells><spell start="100" end="220"/></spells></node>
          <node id="2" label="b"><spells><spell start="140" end="200"/>
            <spell start="300" end="360"/></spells></node>
        </nodes>
        <edges>
          <edge source="2" target="1"><spells><spell start="150" end="190"/></spells></edge>
        </edges>
      </graph>
    </gexf>
""")


def test_gexf_roundtrip(spark, tmp_path):
    p = tmp_path / "net.gexf"
    p.write_text(GEXF_DOC)
    spells = gexf.read_gexf(spark, str(p))
    rows = spells.collect()
    assert len(rows) == 4  # 1 + 2 node spells + 1 edge spell
    edge = next(r for r in rows if r.kind == "edge")
    assert (edge.src, edge.dst) == (1, 2)  # canonicalized from source=2,target=1

    # discretize with the reference's 20s default frame width
    frames = ingest.discretize_spells(spells, 20, t_start_col="t_start", t_end_col="t_end")
    node1 = frames.where((F.col("kind") == "node") & (F.col("id") == "1"))
    # [100, 220) at delta=20 -> frames 5..10 inclusive
    assert sorted(r.frame_id for r in node1.collect()) == [5, 6, 7, 8, 9, 10]


def test_gexf_rejects_static(spark, tmp_path):
    bad = GEXF_DOC.replace('mode="dynamic"', 'mode="static"')
    p = tmp_path / "bad.gexf"
    p.write_text(bad)
    import pytest

    with pytest.raises(ValueError, match="dynamic"):
        gexf.read_gexf(spark, str(p))


def test_gexf_many(spark, tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"net{i}.gexf"
        p.write_text(GEXF_DOC)
        paths.append(str(p))
    out = gexf.read_gexf_many(spark, paths)
    assert out.count() == 12


def test_stream_dimension_upsert_idempotent(spark, tmp_path):
    """T4: foreachBatch merge-on-key == the loader's in-memory actor set
    (load_gexf_to_neo4j.py:163-164,193) — and replay-safe."""
    import os

    from neo4j_dynagraph_spark.sources.tables import load_table
    from neo4j_dynagraph_spark.streaming.upsert import (
        DimensionStore,
        stream_actor_dimension,
    )

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{SF_SMALL}/events.parquet", src / "events.parquet")
    raw_schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema

    store = DimensionStore(spark, str(tmp_path / "actors_dim"), ["actor"])
    for _ in range(2):  # second run replays the same data -> no-op
        stream = spark.readStream.schema(raw_schema).parquet(str(src))
        q = stream_actor_dimension(store, stream)
        q.awaitTermination()

    dim = {r.actor for r in store.read().collect()}
    expected = {
        r.user_id
        for r in load_table(spark, SF_SMALL, "events").select("user_id").distinct().collect()
    }
    assert dim == expected


def test_stream_out_of_order_input_equals_batch(spark, tmp_path):
    """T3: the reference splices out-of-order inserts into its sorted
    list (BaseTimeline.java:226-271); the streaming agg must be
    order-independent — a shuffled copy of the events yields identical
    windows."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.sources.tables import load_table
    from neo4j_dynagraph_spark.streaming import (
        stream_tumbling_counts,
        streaming_frame_counts_from_parquet,
    )

    ev = load_table(spark, SF_SMALL, "events")
    shuffled_dir = str(tmp_path / "shuffled")
    ev.orderBy(F.rand(seed=7)).coalesce(2).write.parquet(shuffled_dir)

    streamed = streaming_frame_counts_from_parquet(
        spark, shuffled_dir, spark.read.parquet(shuffled_dir).schema, 3600
    ).collect()
    batch = stream_tumbling_counts(ev, 3600).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_stateful_sessions_multibatch_equals_batch(spark, tmp_path):
    """State carry across micro-batches: events split into 3 time-ordered
    files, 1 file per trigger, so most users' sessions continue across
    batch boundaries. The drained stream (closed + timeout-closed) must
    equal the batch sessionization exactly."""
    from neo4j_dynagraph_spark.streaming import stateful_sessions_from_parquet
    from neo4j_dynagraph_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMALL, "events")
    # deterministic cuts: thirds of the January span
    import datetime as dt

    c1 = dt.datetime(2024, 1, 11, tzinfo=dt.timezone.utc)
    c2 = dt.datetime(2024, 1, 21, tzinfo=dt.timezone.utc)
    src = tmp_path / "src"
    src.mkdir()

    parts = [
        ev.where(F.col("ts") < F.lit(c1)),
        ev.where((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2))),
        ev.where(F.col("ts") >= F.lit(c2)),
    ]
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    for i, p in enumerate(parts):
        # persist with the RAW nanos-long schema the runner expects
        keys = [r.event_id for r in p.select("event_id").collect()]
        raw.filter(F.col("event_id").isin(keys)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"part{i}"))

    # flatten: move each part's parquet file up as fileN.parquet
    import glob, shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(3):
        f = glob.glob(str(src / f"part{i}" / "*.parquet"))[0]
        shutil.copy(f, flat / f"file{i}.parquet")
        import os

        os.utime(flat / f"file{i}.parquet", (1e9 + i, 1e9 + i))

    raw_schema = raw.schema
    streamed = stateful_sessions_from_parquet(
        spark, str(flat), raw_schema, gap_seconds=1800,
        max_files_per_trigger=1,
    )
    got = sorted(map(tuple, streamed.collect()))

    # batch truth at second granularity
    es = F.unix_timestamp("ts")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = (
        ev.select("user_id", "event_id", es.alias("es"))
        .withColumn(
            "brk",
            F.when(
                F.lag("es").over(w).isNull()
                | ((F.col("es") - F.lag("es").over(w)) >= 1800),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("brk").over(wr))
        .groupBy("user_id", "sid")
        .agg(
            F.min("es").alias("session_start"),
            F.max("es").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    want = sorted(map(tuple, s.collect()))
    assert got == want


def test_stream_edges_equal_batch(spark):
    """Watermarked stream-stream self-join edges == batch co-presence
    operator, including the n1*n2 weights (one joined row per event
    pair makes count(*) the product)."""
    from neo4j_dynagraph_spark.streaming.edges import (
        streaming_frame_edges_from_parquet,
    )
    from neo4j_dynagraph_spark.sources.tables import load_table

    raw_schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    got = streaming_frame_edges_from_parquet(
        spark, f"{SF_SMALL}/events.parquet", raw_schema, 3600
    )
    batch = ingest.presence_to_frame_interactions(
        ingest.events_to_presence(load_table(spark, SF_SMALL, "events"))
    ).select("frame_id", "actor1", "actor2", "weight")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_edges_hot_frame_guard_equals_batch(spark, tmp_path):
    """The O(actors)-state stateful edge operator == batch operator
    under the SAME hot-frame guard: a synthetic near-clique frame (30
    actors) must be dropped by both paths, normal frames must match
    exactly, and without a cap the hot frame's full pair expansion must
    appear in both."""
    import pandas as pd

    from neo4j_dynagraph_spark.streaming.edges import (
        stateful_frame_edges_from_parquet,
    )

    rows = []
    # frame 100: 3 actors, actor 1 twice -> weights 2,2,1
    for u, k in ((1, 2), (2, 1), (3, 1)):
        for i in range(k):
            rows.append((u, 100 * 3600 + 10 + i))
    # frame 200: HOT — 30 distinct actors
    for u in range(1, 31):
        rows.append((u, 200 * 3600 + 5))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts_s"])
    src = str(tmp_path / "hot_events")
    (
        spark.createDataFrame(pdf)
        .select("user_id", F.expr("timestamp_seconds(ts_s)").alias("ts"))
        .write.mode("overwrite").parquet(src)
    )
    schema = spark.read.parquet(src).schema

    def batch_edges(cap):
        return sorted(
            map(
                tuple,
                ingest.presence_to_frame_interactions(
                    ingest.events_to_presence(spark.read.parquet(src)),
                    max_actors_per_frame=cap,
                )
                .select("frame_id", "actor1", "actor2", "weight")
                .collect(),
            )
        )

    got_capped = sorted(
        map(
            tuple,
            stateful_frame_edges_from_parquet(
                spark, src, schema, 3600, max_actors_per_frame=10
            ).collect(),
        )
    )
    assert got_capped == batch_edges(10)
    assert {r[0] for r in got_capped} == {100}  # hot frame dropped

    got_uncapped = sorted(
        map(
            tuple,
            stateful_frame_edges_from_parquet(spark, src, schema, 3600).collect(),
        )
    )
    assert got_uncapped == batch_edges(None)
    assert sum(1 for r in got_uncapped if r[0] == 200) == 30 * 29 // 2


def test_stateful_edges_multibatch_equals_batch(spark, tmp_path):
    """State carry across micro-batches for the EDGE tracker: events
    split into 3 time-ordered files, 1 file per trigger, so frames near
    the cuts accumulate their actor maps across batch boundaries before
    the event-time timeout flushes them. Drained == batch edge set."""
    import datetime as dt
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.sources.tables import load_table
    from neo4j_dynagraph_spark.streaming.edges import (
        stateful_frame_edges_from_parquet,
    )

    ev = load_table(spark, SF_SMALL, "events")
    c1 = dt.datetime(2024, 1, 11, tzinfo=dt.timezone.utc)
    c2 = dt.datetime(2024, 1, 21, tzinfo=dt.timezone.utc)
    parts = [
        ev.where(F.col("ts") < F.lit(c1)),
        ev.where((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2))),
        ev.where(F.col("ts") >= F.lit(c2)),
    ]
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    for i, p in enumerate(parts):
        keys = [r.event_id for r in p.select("event_id").collect()]
        raw.filter(F.col("event_id").isin(keys)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"part{i}"))
    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(3):
        f = glob.glob(str(src / f"part{i}" / "*.parquet"))[0]
        shutil.copy(f, flat / f"file{i}.parquet")
        os.utime(flat / f"file{i}.parquet", (1e9 + i, 1e9 + i))

    streamed = stateful_frame_edges_from_parquet(
        spark, str(flat), raw.schema, 3600, max_files_per_trigger=1
    )
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(
        map(
            tuple,
            ingest.presence_to_frame_interactions(
                ingest.events_to_presence(ev, 3600)
            ).collect(),
        )
    )
    assert got == want


def test_gexf_sink_roundtrip(spark, tmp_path):
    """write_gexf is the exact inverse of read_gexf: parse -> export ->
    re-parse yields the identical spell set, and the exported document
    passes the source's own dynamic-mode/timeformat validation."""
    src = tmp_path / "in.gexf"
    src.write_text(GEXF_DOC)
    spells = gexf.read_gexf(spark, str(src))
    out = tmp_path / "out.gexf"
    gexf.write_gexf(spells, str(out))
    again = gexf.read_gexf(spark, str(out))
    a = sorted(map(tuple, spells.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b and len(a) > 0


def test_gexf_sharded_sink_roundtrip(spark, tmp_path):
    """write_gexf_sharded emits one independently valid GEXF per shard
    key, assembled executor-side: a 2-run spell set round-trips shard
    by shard through read_gexf, and the union of the shards equals the
    input spell set exactly."""
    src = tmp_path / "in.gexf"
    src.write_text(GEXF_DOC)
    base = gexf.read_gexf(spark, str(src))
    spells = base.withColumn("run", F.lit("a")).unionByName(
        # second run: same entities, shifted spells — distinct content
        base.withColumn("run", F.lit("b"))
        .withColumn("t_start", F.col("t_start") + 1000)
        .withColumn("t_end", F.col("t_end") + 1000)
    )
    out_dir = tmp_path / "shards"
    paths = gexf.write_gexf_sharded(spells, str(out_dir), partition_by="run")
    assert [p.rsplit("/", 1)[-1] for p in paths] == ["run=a.gexf", "run=b.gexf"]

    got = []
    for p in paths:
        shard_run = p.rsplit("=", 1)[-1].removesuffix(".gexf")
        for r in gexf.read_gexf(spark, p).collect():
            got.append((shard_run, *tuple(r)))
    want = sorted(map(tuple, spells.select("run", *base.columns).collect()))
    assert sorted(got) == want and len(want) == 8


def test_stream_interval_overlap_equals_batch_with_trailing_events(spark, tmp_path):
    """Streaming two-relation interval join == batch theta-join,
    including sub-second timestamps and TRAILING events: the final
    purchases' windows only finalize because the per-type sentinels
    reach BOTH filtered branches' watermark nodes (the event_type
    filters are pushed below the watermark, so a single arbitrary-type
    sentinel stalls one side — the regression this test pins)."""
    import datetime as dt

    from neo4j_dynagraph_spark.streaming.intervals import (
        stream_interval_overlap_from_parquet,
    )

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    spell = 600

    def ev(i, off_s, typ):
        # deliberately non-integral seconds
        return (i, base + dt.timedelta(seconds=off_s, microseconds=317 * i), i, typ)

    rows = [
        ev(1, 0, "signup"),
        ev(2, 100, "purchase"),      # overlaps signup 1
        ev(3, 1500, "signup"),
        ev(4, 1900, "purchase"),     # overlaps signup 3
        ev(5, 5000, "click"),        # noise type
        ev(6, 7000, "signup"),
        ev(7, 7100, "purchase"),     # TRAILING pair: the last events
    ]
    src = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    got = {
        r.e2: (r.n_overlaps, r.sum_overlap_s)
        for r in stream_interval_overlap_from_parquet(
            spark, src, schema, spell_seconds=spell
        ).collect()
    }

    # batch reference on floored seconds
    es = {i: int((t - dt.datetime(1970, 1, 1)).total_seconds()) for i, t, _, ty in rows}
    typ = {i: ty for i, t, _, ty in rows}
    expect = {}
    for p in [i for i in es if typ[i] == "purchase"]:
        ov = [
            min(es[sx] + spell, es[p] + spell) - max(es[sx], es[p])
            for sx in es
            if typ[sx] == "signup"
            and es[sx] < es[p] + spell
            and es[p] < es[sx] + spell
        ]
        if ov:
            expect[p] = (len(ov), sum(ov))
    assert got == expect
    assert 7 in got  # the trailing purchase must have flushed


def test_incremental_dedup_multibatch_first_seen(spark, tmp_path):
    """Shards arrive one micro-batch at a time: a hash seen in an
    earlier batch must suppress later duplicates (cross-batch state via
    the DimensionStore), within-batch dups resolve to min doc_id, and
    the union of batch outputs equals batch exact dedup."""
    from neo4j_dynagraph_spark.streaming.incremental_dedup import (
        stream_dedup_documents,
    )

    src = tmp_path / "docs"
    src.mkdir()
    # shard 0: ids 1-3 (one internal dup pair); shard 1: id 4 dups a
    # shard-0 text, id 5 is novel; shard 2: id 6 dups shard-1's novel
    shards = [
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        [(4, "beta"), (5, "gamma")],
        [(6, "gamma"), (7, "delta")],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"shard_{i}"))
        # flatten: move part file up so the dir is one flat shard set
    import glob
    import os
    import shutil

    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        # stagger mtimes so the file source's order matches shard order
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    out = stream_dedup_documents(
        spark, str(src), schema, max_files_per_trigger=1
    )
    got = {r.doc_id for r in out.collect()}
    assert got == {1, 2, 5, 7}


def test_stream_kmv_multibatch_equals_batch(spark, tmp_path):
    """The incremental KMV sketch drained one micro-batch at a time
    must equal the batch kmv_distinct bit-for-bit (KMV merge = keep
    the k smallest of the union, whatever the batch chopping), and the
    store must hold at most k rows per group at the end. k=4 with 10+
    distinct values per group forces real pruning across batches."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.sketch import kmv_distinct
    from neo4j_dynagraph_spark.streaming.kmv import stream_kmv_distinct

    src = tmp_path / "events"
    src.mkdir()
    # 3 shards, 2 groups, overlapping values so cross-batch dedup and
    # pruning both matter
    shards = [
        [("a", v) for v in range(8)] + [("b", v) for v in range(5)],
        [("a", v) for v in range(4, 14)] + [("b", v) for v in (1, 99)],
        [("a", 100), ("b", 100), ("b", 0)],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "event_type string, user_id long"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    store_root = str(tmp_path / "kmv_store")
    streamed = stream_kmv_distinct(
        spark,
        str(src),
        schema,
        k=4,
        store_root=store_root,
        max_files_per_trigger=1,
    )
    batch = kmv_distinct(
        spark.read.parquet(str(src)), "event_type", F.col("user_id"), k=4
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) == 2
    # bounded state: the committed sketch holds <= k rows per group
    from neo4j_dynagraph_spark.streaming.kmv import KMVStore

    state = KMVStore(spark, store_root, "event_type", 4).read()
    per_group = {
        r.event_type: r.n
        for r in state.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_group == {"a": 4, "b": 4}


def test_stream_interval_overlap_property_equals_batch(spark, tmp_path):
    """Randomized stream==batch for the time-range join: arbitrary
    event types, sub-second offsets, duplicates-in-time, and whichever
    row happens to carry max ts (the sentinel template) — the drained
    stream must equal the floored-second batch reference exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from neo4j_dynagraph_spark.streaming.intervals import (
        stream_interval_overlap_from_parquet,
    )

    import datetime as dt

    spell = 300
    types = ["signup", "purchase", "click"]

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        spec=st.lists(
            st.tuples(
                st.integers(0, 2),        # type index
                st.integers(0, 1500),     # offset seconds
                st.integers(0, 999),      # sub-second millis
            ),
            min_size=2,
            max_size=10,
        )
    )
    def check(spec):
        base = dt.datetime(2024, 3, 1)
        rows = [
            (i, base + dt.timedelta(seconds=off, milliseconds=ms), i, types[t])
            for i, (t, off, ms) in enumerate(spec)
        ]
        src = str(
            tmp_path / f"ev_{abs(hash(tuple(spec))) % 10**9}.parquet"
        )
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        got = {
            r.e2: (r.n_overlaps, r.sum_overlap_s)
            for r in stream_interval_overlap_from_parquet(
                spark, src, schema, spell_seconds=spell
            ).collect()
        }
        es = {
            i: int((t - dt.datetime(1970, 1, 1)).total_seconds())
            for i, t, _, _ in rows
        }
        typ = {i: ty for i, _, _, ty in rows}
        expect = {}
        for p in [i for i in es if typ[i] == "purchase"]:
            ov = [
                min(es[sx], es[p]) + spell - max(es[sx], es[p])
                for sx in es
                if typ[sx] == "signup"
                and es[sx] < es[p] + spell
                and es[p] < es[sx] + spell
            ]
            if ov:
                expect[p] = (len(ov), sum(ov))
        assert got == expect

    check()


def test_kmv_store_merge_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivery safety: re-merging the same batch — or
    a hash the prune already discarded — must leave the sketch state
    and the estimate unchanged (union + prune is idempotent)."""
    from neo4j_dynagraph_spark.operators.sketch import kmv_estimate
    from neo4j_dynagraph_spark.streaming.kmv import KMVStore

    store = KMVStore(spark, str(tmp_path / "store"), "g", k=3)
    b1 = spark.createDataFrame(
        [("a", 0.1), ("a", 0.5), ("a", 0.9), ("a", 0.3)], "g string, u double"
    )
    store.merge(b1)
    first = sorted(map(tuple, store.read().collect()))
    assert first == [("a", 0.1), ("a", 0.3), ("a", 0.5)]  # 0.9 pruned
    # replay the identical batch
    store.merge(b1)
    assert sorted(map(tuple, store.read().collect())) == first
    # merge a batch containing ONLY an already-pruned hash
    store.merge(
        spark.createDataFrame([("a", 0.9)], "g string, u double")
    )
    assert sorted(map(tuple, store.read().collect())) == first
    est = kmv_estimate(store.read(), "g", 3).first()
    assert est.n_seen == 3


def test_stream_corpus_stats_multibatch_equals_batch(spark, tmp_path):
    """Chop the corpus into 3 files, drain one file per trigger: the
    summed partials must equal the single-batch drain AND the batch
    aggregate, and re-merging a batch's partials (re-delivery) must
    not change the totals."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.streaming.corpus_stats import (
        CounterStore,
        stream_corpus_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark merge vector pipeline"),
            (2, "spark spark only"),
            (3, "nothing here"),
            (4, "vector merge"),
            (5, "plain words again"),
            (6, "spark again"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    terms = ["merge", "spark", "vector"]

    multi = {
        r.term: r
        for r in stream_corpus_stats(
            spark, src, schema, terms, max_files_per_trigger=1
        ).collect()
    }
    single = {
        r.term: r
        for r in stream_corpus_stats(spark, src, schema, terms).collect()
    }
    assert multi.keys() == single.keys() == set(terms)
    for t in terms:
        assert (multi[t].df, multi[t].n_docs, multi[t].avgdl) == (
            single[t].df,
            single[t].n_docs,
            single[t].avgdl,
        )
    # batch truth
    assert multi["spark"].df == 3
    assert multi["merge"].df == 2
    assert multi["vector"].df == 2
    assert multi["spark"].n_docs == 6

    # replay idempotence: re-merging identical partials for an
    # existing batch_id leaves the store unchanged
    store = CounterStore(spark, str(tmp_path / "store"))
    rows = spark.createDataFrame(
        [(0, "#corpus", 5, 50, 0), (0, "spark", 0, 0, 2)],
        "batch_id long, key string, cnt_docs long, cnt_toks long, cnt_df long",
    )
    store.merge(rows)
    store.merge(rows)  # re-delivery
    state = store.read()
    assert state.count() == 2
    assert (
        state.agg(F.sum("cnt_docs")).collect()[0][0] == 5
    )  # not doubled


def test_stream_cms_multibatch_equals_batch_and_replay_idempotent(spark, tmp_path):
    """The incremental CMS drained one micro-batch at a time must equal
    the batch cms_table bit-for-bit (additive counters under any
    chopping), and re-merging a batch's partials (foreachBatch
    re-delivery) must leave the summed sketch unchanged (overwrite-own-
    batch exactly-once)."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.sketch import cms_table
    from neo4j_dynagraph_spark.streaming.cms import CMSStore, stream_cms_table

    src = tmp_path / "docs"
    src.mkdir()
    shards = [
        [(0, "spark merge spark row"), (1, "table scan merge")],
        [(2, "spark spark spark"), (3, "row row table")],
        [(4, "merge"), (5, "scan table spark row merge")],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    store_root = str(tmp_path / "cms_store")
    streamed = stream_cms_table(
        spark,
        str(src),
        schema,
        store_root=store_root,
        max_files_per_trigger=1,
    )
    docs = spark.read.parquet(str(src))
    occ = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    batch = cms_table(occ)
    s_rows = sorted(map(tuple, streamed.collect()))
    assert s_rows == sorted(map(tuple, batch.collect()))
    # replay a batch's own partials: summed sketch must not change
    store = CMSStore(spark, store_root)
    state = store.read()
    one_batch = state.where(F.col("batch_id") == state.agg(F.min("batch_id")).first()[0])
    store.merge(one_batch)
    replayed = (
        store.read()
        .groupBy("r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert sorted(map(tuple, replayed.collect())) == s_rows


def test_stream_gopher_multibatch_equals_batch(spark, tmp_path):
    """The incremental quality monitor drained one micro-batch at a
    time must equal the batch gopher_rules per-source roll-up exactly
    (additive counters under any chopping)."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.text import gopher_rules
    from neo4j_dynagraph_spark.streaming.quality import stream_gopher_stats

    base = "the a of and to " + " ".join(f"word{i}" for i in range(20))
    src = tmp_path / "docs"
    src.mkdir()
    shards = [
        [(0, base, "s0"), (1, "the a of and to word", "s0")],
        [(2, base, "s1"), (3, base + " " + "x" * 300, "s0")],
        [(4, " ".join(f"word{i}" for i in range(25)), "s1")],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_gopher_stats(
        spark, str(src), schema, max_files_per_trigger=1
    )
    batch = (
        gopher_rules(spark.read.parquet(str(src)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(F.when(~F.col(c), 1).otherwise(0))
                .cast("long")
                .alias(f"fail_{c[2:]}")
                for c in ("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep")
            ],
            F.sum(F.when(F.col("passed"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
        )
        .withColumn(
            "pass_rate",
            F.round(F.col("n_pass") / F.col("n_docs").cast("double"), 6),
        )
        .orderBy("source")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_sq_stats_multibatch_and_replay_absorbed(spark, tmp_path):
    """Per-dimension min/max drained one micro-batch at a time must
    equal the batch aggregate exactly, and re-merging any batch's
    partials must be absorbed by the lattice (idempotent — no batch
    keying needed, unlike the additive counter stores)."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.streaming.sq_stats import (
        MinMaxStore,
        stream_sq_stats,
    )

    src = tmp_path / "emb"
    src.mkdir()
    shards = [
        [(0, [1.0, -5.0]), (1, [3.0, 0.0])],
        [(2, [-2.0, 7.0])],
        [(3, [1.5, 7.0]), (4, [-2.0, -5.0])],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    store_root = str(tmp_path / "sq_store")
    got = {
        r.i: (r.mn, r.mx)
        for r in stream_sq_stats(
            spark, str(src), schema, store_root=store_root,
            max_files_per_trigger=1,
        ).collect()
    }
    assert got == {0: (-2.0, 3.0), 1: (-5.0, 7.0)}
    # replay absorption: merging the final state into itself changes nothing
    store = MinMaxStore(spark, store_root)
    store.merge(store.read())
    again = {r.i: (r.mn, r.mx) for r in store.read().collect()}
    assert again == got


def test_stream_training_mix_multibatch_equals_batch(spark, tmp_path):
    """The streaming curation capstone drained one micro-batch at a
    time must equal the batch dedup->quality->decontam->pack pipeline
    exactly, with the cross-batch hazards PLANTED: the min-id dedup
    survivor arrives AFTER its duplicate, and a benchmark doc arrives
    in the LAST batch to contaminate a training doc from the FIRST."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators import text
    from neo4j_dynagraph_spark.streaming.training_mix import (
        stream_training_mix,
    )

    long_unique = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    contam_text = "alpha beta gamma delta " + long_unique("c", 30)
    shards = [
        # batch 0: doc 5 duplicates doc 3's text (3 arrives LATER);
        # doc 10 shares the 4-gram 'alpha beta gamma delta' with the
        # bench doc that arrives in batch 2
        [(5, long_unique("a", 40)), (10, contam_text)],
        # batch 1: a low-quality doc (short) and a good doc
        [(7, "too short"), (8, long_unique("b", 45))],
        # batch 2: doc 3 = the true min-id survivor of the dup pair;
        # doc 97*2=194 is the BENCHMARK doc carrying the shared 4-gram
        [(3, long_unique("a", 40)),
         (194, "alpha beta gamma delta " + long_unique("z", 30))],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_training_mix(
        spark, str(src), schema, max_files_per_trigger=1
    )

    docs = spark.read.parquet(str(src))
    keep1 = (
        docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = docs.join(keep1, "doc_id")
    good = (
        text.text_stats(d1)
        .where((F.col("n_tokens") >= 30) & (F.col("ttr") >= 0.35))
        .select("doc_id")
    )
    d2 = d1.join(good, "doc_id")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = d2.where(F.col("doc_id") % 97 != 0)
    contam = text.decontaminate(train, bench, n=4).select("doc_id")
    clean = train.join(contam, "doc_id", "left_anti")
    batch = text.pack_sequences(clean, seq_len=128)

    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0
    # the planted hazards actually fired: doc 5 (late-arriving min-id
    # 3 wins) and doc 10 (late-arriving bench contamination) are OUT,
    # docs 3 and 8 are IN
    packed_docs = {r[1] for r in s_rows}
    assert 3 in packed_docs and 8 in packed_docs
    assert 5 not in packed_docs and 10 not in packed_docs
    assert 7 not in packed_docs and 194 not in packed_docs


def test_stream_dedup_lsh_multibatch_late_original(spark, tmp_path):
    """Bucket-min LSH flagging is order-free: a near-dup whose
    smaller-id original arrives in a LATER micro-batch must still be
    flagged, and the drained flags must equal the batch replay of the
    same rule exactly."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.dedup import (
        minhash_signatures,
        shingles_df,
    )
    from neo4j_dynagraph_spark.streaming.incremental_dedup import (
        stream_dedup_minhash,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    shards = [
        # batch 0: doc 7 is a near-dup of doc 2 — which arrives LATER
        [(7, base), (9, other)],
        # batch 1: unrelated doc
        [(11, " ".join(f"qqq{i}" for i in range(35)))],
        # batch 2: the ORIGINAL (smaller id, identical text)
        [(2, base)],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = {
        r.doc_id: r.is_near_dup
        for r in stream_dedup_minhash(
            spark, str(src), schema, max_files_per_trigger=1
        ).collect()
    }
    # batch replay of the same rule
    sigs = minhash_signatures(shingles_df(spark.read.parquet(str(src))))
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"h{2 * b}").alias("h0"),
                        F.col(f"h{2 * b + 1}").alias("h1"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.h0", "bs.h1")
    buckets = bands.groupBy("band", "h0", "h1").agg(
        F.min("doc_id").alias("mn"), F.count(F.lit(1)).alias("n")
    )
    batch = {
        r.doc_id: r.is_near_dup
        for r in bands.join(buckets, ["band", "h0", "h1"])
        .groupBy("doc_id")
        .agg(
            F.bool_or((F.col("n") <= 64) & (F.col("mn") < F.col("doc_id")))
            .alias("is_near_dup")
        )
        .collect()
    }
    assert streamed == batch
    # the planted hazard fired: 7's original (2) arrived two batches
    # later and still flags 7; 2 itself is the bucket min, not a dup
    assert streamed[7] is True and streamed[2] is False
    assert streamed[9] is False and streamed[11] is False


def test_stream_embed_topk_multibatch_late_query(spark, tmp_path):
    """The incremental top-k index drained one micro-batch at a time
    must equal batch brute-force exactly, including for a QUERY vector
    that arrives in the LAST batch (it must see candidates from every
    earlier batch via the stored corpus), and candidates arriving
    after a query must displace its earlier top-k entries."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.similarity import (
        as_double_vec,
        brute_force_topk,
    )
    from neo4j_dynagraph_spark.streaming.embed_topk import (
        stream_embed_topk,
    )

    def vec(seed: int, bump: int) -> list:
        return [float((seed * 7 + i) % 5) + (1.0 if i == bump else 0.0)
                for i in range(4)]

    shards = [
        # batch 0: query 0 + two candidates
        [(0, vec(1, 0)), (10, vec(1, 1)), (11, vec(2, 2))],
        # batch 1: candidates only — one very close to query 0 (must
        # displace), one close to the NOT-YET-ARRIVED query 1
        [(12, vec(1, 0)), (13, vec(3, 3))],
        # batch 2: the LATE query 1 + one more candidate
        [(1, vec(3, 3)), (14, vec(2, 0))],
    ]
    src = tmp_path / "emb"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_embed_topk(
        spark, str(src), schema, is_query=F.col("vec_id") < 5, k=3,
        max_files_per_trigger=1,
    )
    emb = as_double_vec(spark.read.parquet(str(src)))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    batch = brute_force_topk(emb, queries, k=3)
    s_rows = [tuple(r) for r in streamed.collect()]
    b_rows = [tuple(r) for r in batch.collect()]
    assert s_rows == b_rows and len(s_rows) > 0
    # the late query (1) has a full top-3, and its nearest neighbor is
    # candidate 13 — which arrived a batch BEFORE the query existed
    q1 = [r for r in s_rows if r[0] == 1]
    assert len(q1) == 3 and q1[0][2] == 13


def test_stream_temperature_mix_multibatch_rates_rebind(spark, tmp_path):
    """The mixture summary drained one micro-batch at a time must
    equal the batch operator exactly — and the planted hazard is the
    LATE-arriving source skew: batch 2 floods source 'big', shifting
    every source's share and therefore every keep rate computed from
    batches 0-1."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.text import temperature_mix
    from neo4j_dynagraph_spark.streaming.mixture import (
        stream_temperature_mix,
    )

    shards = [
        [(1, "a", "small"), (2, "b", "small"), (3, "c", "mid")],
        [(4, "d", "mid"), (5, "e", "mid"), (6, "f", "mid")],
        # the flood: 20 docs of 'big' arrive last
        [(100 + i, f"t{i}", "big") for i in range(20)],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = sorted(
        map(
            tuple,
            stream_temperature_mix(
                spark, str(src), schema, max_files_per_trigger=1
            ).collect(),
        )
    )
    batch = sorted(
        map(tuple, temperature_mix(spark.read.parquet(str(src))).collect())
    )
    assert streamed == batch and len(streamed) == 3
    by_source = {r[0]: r for r in streamed}
    # α=0.5 flattening: the flooded majority source is downsampled
    # hardest (lowest keep rate), the smallest source keeps everything
    assert by_source["big"][4] < by_source["mid"][4] <= 1.0
    assert by_source["small"][4] == 1.0


def test_failing_drain_frees_ephemeral_root_keeps_store_root(
    spark, tmp_path, monkeypatch
):
    """A batch function that raises must not leak the drain's temp root
    (store + checkpoint + stage), and must leave a caller's persistent
    store_root, with its checkpoint and stage, in place."""
    import tempfile

    import pytest

    from neo4j_dynagraph_spark.streaming.cms import stream_cms_table
    from neo4j_dynagraph_spark.streaming.corpus_stats import CounterStore
    from neo4j_dynagraph_spark.streaming.kmv import stream_kmv_distinct

    def boom(self, df):
        raise RuntimeError("injected batch failure")

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(CounterStore, "merge", boom)
    docs = f"{SF_SMALL}/documents.parquet"
    schema = spark.read.parquet(docs).schema
    with pytest.raises(Exception, match="injected batch failure"):
        stream_cms_table(spark, docs, schema)
    assert list(tmp.iterdir()) == []

    store = tmp_path / "cms_store"
    with pytest.raises(Exception, match="injected batch failure"):
        stream_cms_table(spark, docs, schema, store_root=str(store))
    assert (store / "_checkpoint").is_dir() and (store / "_src").is_dir()
    assert list(tmp.iterdir()) == []

    # a drain that succeeds leaves nothing either, and its result stays
    # readable after the root is gone
    events = f"{SF_SMALL}/events.parquet"
    est = stream_kmv_distinct(spark, events, spark.read.parquet(events).schema)
    assert est.count() > 0
    assert list(tmp.iterdir()) == []


def test_drains_leave_no_temp_files(spark, tmp_path, monkeypatch):
    """One registry row per sink kind (memory, parquet, pair store,
    foreachBatch store, per-batch output files) with tempfile pointed
    at an empty dir: every result is readable and nothing remains."""
    import tempfile

    from neo4j_dynagraph_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "q_stream_tumbling",
        "q_stream_edges_stateful",
        "q_stream_degree",
        "q_stream_cms",
        "q_stream_dedup_docs",
    ):
        assert REGISTRY[name].fn(spark, SF_SMALL).collect(), name
        assert list(tmp_path.iterdir()) == [], name


def test_stream_ivf_assign_multibatch_equals_batch(spark, tmp_path):
    """Assign-only IVF maintenance (round 11): drained one file per
    micro-batch, the (vec_id, cell) assignment set equals the batch
    ivf_assign against the same frozen codebook (deterministic argmax
    => idempotent set state), and the probe + exact re-rank over the
    drained index equals batch ivf_topk bit-for-bit."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_from_cells,
    )
    from neo4j_dynagraph_spark.streaming.ivf import stream_ivf_assign

    # 3 shards x 10 vectors, dim 4, deterministic integer-derived floats
    def vec(i):
        return [float((i * p + 7) % 11 - 5) for p in (3, 5, 2, 9)]

    shards = [
        [(i, vec(i)) for i in range(s * 10, (s + 1) * 10)] for s in range(3)
    ]
    src = tmp_path / "emb"
    src.mkdir()
    for s, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(str(src / f"shard_{s}"))
    for s in range(3):
        part = glob.glob(str(src / f"shard_{s}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{s}.parquet"))
        shutil.rmtree(str(src / f"shard_{s}"))
        os.utime(str(src / f"s{s}.parquet"), (1000 + s, 1000 + s))

    corpus = spark.read.parquet(str(src)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    schema = spark.read.parquet(str(src)).schema

    streamed_cells = stream_ivf_assign(
        spark, str(src), schema, centroids, max_files_per_trigger=1
    )
    got = {tuple(r) for r in streamed_cells.collect()}
    want = {
        tuple(r)
        for r in ivf_assign(corpus, centroids, nprobe=1)
        .select("vec_id", "cell")
        .collect()
    }
    assert got == want and len(got) == 30

    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    from_cells = ivf_topk_from_cells(
        streamed_cells, corpus, queries, centroids, k=3, nprobe=2
    ).collect()
    batch = ivf_topk(
        corpus, queries, k=3, n_centroids=4, nprobe=2
    ).collect()
    assert sorted(map(tuple, from_cells)) == sorted(map(tuple, batch))


def test_stream_burst_multibatch_equals_batch(spark, tmp_path):
    """The incremental burst monitor drained one file per micro-batch
    must equal the batch burst_windows(events_to_presence(...)) result
    bit-for-bit — including when ONE (frame, actor)'s events are SPLIT
    across micro-batches (the additive-partials case the per-batch sum
    alone would get wrong)."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.graph import burst_windows
    from neo4j_dynagraph_spark.operators.ingest import events_to_presence
    from neo4j_dynagraph_spark.streaming.bursts import stream_burst_windows

    # actor 1: baseline 1 event/frame for frames 0..10 (frame 9 has 2),
    # then a 9-event spike in frame 11 split across shards; the trailing
    # RANGE(-10,-1) window at frame 11 covers frames 1..10 = 10 obs,
    # mu 1.1, sigma 0.3
    def ts(frame, i):
        return (frame * 3600 + i) * 1_000_000_000  # ns within the frame

    base = (
        [(ts(f, 0), 1) for f in range(9)]
        + [(ts(9, 0), 1), (ts(9, 1), 1)]
        + [(ts(10, 0), 1)]
    )
    spike = [(ts(11, i), 1) for i in range(9)]
    shards = [base + spike[:4], spike[4:]]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "ts long, user_id long").coalesce(
            1
        ).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_burst_windows(
        spark, str(src), schema,
        window=10, min_obs=10, z_thresh=3.0,
        max_files_per_trigger=1,
    )
    got = sorted(tuple(r) for r in streamed.collect())

    from neo4j_dynagraph_spark.sources.tables import normalize_event_ts

    ev = normalize_event_ts(
        spark, spark.read.parquet(str(src)), "ts"
    )
    batch = burst_windows(
        events_to_presence(ev), window=10, min_obs=10, z_thresh=3.0
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want
    # the split spike frame must carry the SUMMED count (4+5=9), and
    # the z over baseline mu=1.1 sigma=0.3 is (9-1.1)/0.3
    assert len(got) == 1
    assert got[0][2] == 9 and abs(got[0][4] - 26.333333) < 1e-6


def test_stream_neighbor_sampling_multibatch_equals_batch(spark, tmp_path):
    """The incremental neighbor-sample lattices drained one file per
    micro-batch must equal batch neighbor_sampling bit-for-bit: a
    frame's actors split across batches (late actor 3 must pair with
    batch-0 frame-mates), a replayed presence row must be a no-op,
    and fanout 2 over degree-3 nodes forces real lattice pruning."""
    import datetime as dt
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators import graph, ingest
    from neo4j_dynagraph_spark.streaming.neighbor_sampling import (
        stream_neighbor_sampling,
    )

    def t(m):
        return dt.datetime(2024, 1, 15, 10, m, tzinfo=dt.timezone.utc)

    src = tmp_path / "events"
    src.mkdir()
    shards = [
        [(t(1), 1), (t(2), 2)],            # frame A: 1, 2
        [(t(3), 3), (t(40), 1), (t(41), 4)],  # A gains 3 LATE; B: 1, 4
        [(t(42), 2), (t(1), 1)],           # B gains 2; replay of (A, 1)
    ]
    # frame A and B both inside hour 10 with delta=1800
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "ts timestamp, user_id long"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_neighbor_sampling(
        spark,
        str(src),
        schema,
        fanouts=[2, 1],
        delta=1800,
        store_root=str(tmp_path / "ns_store"),
        max_files_per_trigger=1,
    )
    edges = ingest.presence_to_frame_interactions(
        ingest.events_to_presence(spark.read.parquet(str(src)), 1800)
    )
    batch = graph.neighbor_sampling(edges, [2, 1])
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0
    # pruning really happened: no seed has more than 2 hop-1 rows
    from collections import Counter

    h1 = Counter(r[0] for r in s_rows if r[1] == 1)
    assert max(h1.values()) == 2


def test_watermark_boundary_drop_vs_merge(spark, tmp_path):
    """Adversarial watermark-boundary fixture (T3): pins Spark's exact
    drop-vs-merge contract that the reference's mid-list insert
    (BaseTimeline.java:226-271) maps onto — the timeline region is
    mutable until flushed, immutable after. 60 s tumbling windows,
    60 s watermark delay, one file per micro-batch, APPEND mode:

    - batch 1 delivers two late rows BEHIND the announced watermark
      (10:04:00): window ends 10:03:00 (< wm) and 10:04:00 (== wm).
      Both MERGE — Spark finalizes a window only when the watermark
      passes its end, and input merges before that batch's eviction
      emits, so 'behind the watermark' alone does not drop a row while
      its window state is still live;
    - batch 3 delivers a row into a window emitted two batches ago:
      DROPPED (numRowsDroppedByWatermark), and the already-emitted
      row is never updated or re-emitted (append exactly-once);
    - the eviction boundary is window.end <= watermark: the window
      whose end equals the final watermark exactly IS emitted, the
      still-open one past it is not."""
    import datetime as dt
    import glob
    import os
    import shutil
    import uuid

    from neo4j_dynagraph_spark.streaming.frames import stream_tumbling_counts

    def t(m, s=0):
        return dt.datetime(2024, 1, 15, 10, m, s, tzinfo=dt.timezone.utc)

    src = tmp_path / "events"
    src.mkdir()
    shards = [
        # batch 0: max ts 10:05:00 -> wm announced for batch 1 is 10:04:00
        [(t(2, 10), 1, 1.0), (t(4, 10), 2, 1.0), (t(5, 0), 3, 1.0)],
        # batch 1: two late rows behind that wm (window ends 10:03:00
        # and exactly 10:04:00), one in-horizon late row, one fresh row
        [(t(3, 59), 4, 1.0), (t(2, 30), 5, 1.0), (t(4, 1), 6, 1.0),
         (t(7, 30), 7, 1.0)],
        # batch 2: advance wm to 10:09:00 for batch 3
        [(t(10, 0), 8, 1.0)],
        # batch 3: 10:02:40's window was emitted back in batch 1 ->
        # dropped; 10:12:00 pushes the final wm to exactly 10:11:00
        [(t(2, 40), 9, 1.0), (t(12, 0), 10, 1.0)],
    ]
    for i, rows in enumerate(shards):
        d = str(tmp_path / f"sh{i}")
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, value double"
        ).coalesce(1).write.parquet(d)
        part = glob.glob(d + "/*.parquet")[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(d)
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream_tumbling_counts(stream, 60, watermark="60 seconds")
    name = "wm_boundary_" + uuid.uuid4().hex[:6]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = spark.table(name).collect()
    by_win = {}
    for r in rows:
        by_win.setdefault(r.window_start % 3600 // 60, []).append(r.n_events)
    # exactly one row was too late (batch 3's 10:02:40)
    assert dropped == 1
    # every emitted window appears exactly once: finalized = immutable
    assert all(len(v) == 1 for v in by_win.values())
    assert by_win == {
        2: [2],   # 10:02:10 + late 10:02:30 MERGED; 10:02:40 dropped
        3: [1],   # late 10:03:59 merged though its window end == wm
        4: [2],   # 10:04:10 + in-horizon late 10:04:01
        5: [1],
        7: [1],
        10: [1],  # end 10:11:00 == final wm: equality boundary EMITS
        # window [10:12, 10:13) still open at drain end: NOT emitted
    }


def test_stream_neighbor_sampling_crash_between_commits_replays(
    spark, tmp_path, monkeypatch
):
    """Exactly-once under a crash BETWEEN the two store commits: the
    presence store is the dedup gate for the left-anti, so it must
    commit LAST. This test kills the drain at the final batch's
    presence commit — leaving the hop lattices already merged but the
    presence store without that batch (the exact mid-crash state) —
    then resumes the same persistent store_root. Structured Streaming
    replays the batch; because presence lacks its rows, newp comes
    back NON-empty, the idempotent min-k lattices absorb the re-merge,
    and the final result equals batch bit-for-bit. Under the old
    presence-first order the replayed batch's newp was empty and its
    edges were lost from the lattices forever."""
    import datetime as dt
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators import graph, ingest
    from neo4j_dynagraph_spark.streaming.neighbor_sampling import (
        stream_neighbor_sampling,
    )
    from neo4j_dynagraph_spark.streaming.upsert import DimensionStore

    def t(m):
        return dt.datetime(2024, 1, 15, 10, m, tzinfo=dt.timezone.utc)

    src = tmp_path / "events"
    src.mkdir()
    shards = [
        [(t(1), 1), (t(2), 2)],               # frame A: 1, 2
        [(t(3), 3), (t(40), 1), (t(41), 4)],  # A gains 3; B: 1, 4
        [(t(42), 2)],                          # B gains 2 (crash batch)
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "ts timestamp, user_id long"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    store = str(tmp_path / "ns_store")
    real_merge = DimensionStore.merge
    calls = {"n": 0}

    def dying_merge(self, df):
        # presence merges once per non-empty batch; batch 2 = call 3.
        # Raise BEFORE the real merge: lattices committed, presence not.
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected crash before presence commit")
        return real_merge(self, df)

    monkeypatch.setattr(DimensionStore, "merge", dying_merge)
    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        stream_neighbor_sampling(
            spark,
            str(src),
            schema,
            fanouts=[2, 1],
            delta=1800,
            store_root=store,
            max_files_per_trigger=1,
        )
    monkeypatch.setattr(DimensionStore, "merge", real_merge)
    # mid-crash state really holds: hop lattices have batch-2 edges,
    # presence does not have actor 2's frame-B row (frame-A row only)
    pres = DimensionStore(
        spark, os.path.join(store, "presence"), ["frame_id", "actor"]
    ).read()
    assert pres.where("actor = 2").count() == 1
    streamed = stream_neighbor_sampling(
        spark,
        str(src),
        schema,
        fanouts=[2, 1],
        delta=1800,
        store_root=store,
        max_files_per_trigger=1,
    )
    edges = ingest.presence_to_frame_interactions(
        ingest.events_to_presence(spark.read.parquet(str(src)), 1800)
    )
    batch = graph.neighbor_sampling(edges, [2, 1])
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_bigram_ppl_multibatch_equals_batch(spark, tmp_path):
    """The incremental bigram-count drain, one file per micro-batch,
    must equal batch bigram_ppl bit-for-bit: reference docs split
    across batches (counts are additive partials), a scored doc
    arriving BEFORE some reference docs (read-time scoring must see
    corpus-final counts), and OOV words hitting the unk path."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.text import bigram_ppl
    from neo4j_dynagraph_spark.streaming.bigram_lm import stream_bigram_ppl

    src = tmp_path / "docs"
    src.mkdir()
    shards = [
        [(0, "the cat sat on the mat", "ref"), (10, "the cat sat", "a")],
        [(11, "zebra quux the cat", "b")],   # scored BEFORE shard 2's ref
        [(1, "the cat ran off the mat", "ref"), (12, "mat the on", "a")],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_bigram_ppl(
        spark,
        str(src),
        schema,
        train_source="ref",
        store_root=str(tmp_path / "lm_store"),
        max_files_per_trigger=1,
    )
    batch = bigram_ppl(spark.read.parquet(str(src)), train_source="ref")
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) == 3


def test_stream_domain_weights_multibatch_equals_batch(spark, tmp_path):
    """The DoReMi streaming twin over the same count drain, one file
    per micro-batch, must equal batch domain_weights bit-for-bit:
    reference docs split across batches (the excess-NLL baseline only
    exists corpus-final), a domain whose docs all arrive before the
    last reference shard, and OOV-heavy docs moving the unk path."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.text import domain_weights
    from neo4j_dynagraph_spark.streaming.bigram_lm import (
        stream_domain_weights,
    )

    src = tmp_path / "docs"
    src.mkdir()
    shards = [
        [(0, "the cat sat on the mat", "ref"), (10, "the cat sat", "a")],
        [(11, "zebra quux the cat", "b"), (13, "qqk wjj zzp", "b")],
        [(1, "the cat ran off the mat", "ref"), (12, "mat the on", "a")],
    ]
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(str(src / f"shard_{i}"))
    for i in range(len(shards)):
        part = glob.glob(str(src / f"shard_{i}" / "*.parquet"))[0]
        shutil.move(part, str(src / f"s{i}.parquet"))
        shutil.rmtree(str(src / f"shard_{i}"))
        os.utime(str(src / f"s{i}.parquet"), (1000 + i, 1000 + i))

    schema = spark.read.parquet(str(src)).schema
    streamed = stream_domain_weights(
        spark,
        str(src),
        schema,
        train_source="ref",
        store_root=str(tmp_path / "dw_store"),
        max_files_per_trigger=1,
    )
    batch = domain_weights(spark.read.parquet(str(src)), train_source="ref")
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) == 3
    by_src = {r[0]: r for r in s_rows}
    assert abs(by_src["ref"][3]) < 1e-9  # reference excess is 0
    assert by_src["b"][3] > 0  # OOV-heavy domain is harder
