"""Round-12 additions: UniMax mixture allocation, MP4/MP3 demux and
rank-1 matrix factorization, each pinned by a planted fixture or a
closed form. (The round's graph operators — SI family, WL,
influence_seeds — are tested in test_graph.py.)"""

from __future__ import annotations

import pyspark.sql.functions as F

from neo4j_dynagraph_spark.operators import text


# ------------------------------------------------------------ UniMax


def _docs_df(spark, sizes):
    """One doc per source with an exact whitespace-token count."""
    rows = [
        (i, f"s{i}", " ".join(f"w{j}" for j in range(n)))
        for i, n in enumerate(sizes)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_unimax_waterfill_mixed(spark):
    """Sizes 10/10/100, cap 1, budget 95% of 120 = 114: both small
    sources capped in full, the big one takes the 94-token remainder
    (hand-computed waterfill)."""
    out = {
        r.source: r
        for r in text.unimax_mix(
            _docs_df(spark, [10, 10, 100]),
            epoch_cap=1, budget_num=95, budget_den=100,
        ).collect()
    }
    assert out["s0"].capped and out["s1"].capped and not out["s2"].capped
    assert out["s0"].alloc_tokens == 10.0
    assert out["s1"].alloc_tokens == 10.0
    assert out["s2"].alloc_tokens == 94.0
    assert out["s2"].epochs == 0.94
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-5


def test_unimax_all_capped_leaves_budget_unspent(spark):
    """Budget 3x the corpus with cap 1: every source capped at one
    epoch, total allocation < budget (UniMax semantics, not an
    error)."""
    out = text.unimax_mix(
        _docs_df(spark, [5, 7]), epoch_cap=1, budget_num=300,
        budget_den=100,
    ).collect()
    assert all(r.capped for r in out)
    assert sum(r.alloc_tokens for r in out) == 12.0
    assert all(r.epochs == 1.0 for r in out)


def test_unimax_uniform_when_budget_tight(spark):
    """Budget below k*min(cap*n): nobody capped, everyone gets B/k.
    Sizes 50/60, cap 1, budget 50% of 110 = 55 -> 27.5 each."""
    out = text.unimax_mix(
        _docs_df(spark, [50, 60]), epoch_cap=1, budget_num=50,
        budget_den=100,
    ).collect()
    assert all(not r.capped for r in out)
    assert all(r.alloc_tokens == 27.5 for r in out)


def test_stream_unimax_multibatch_boundary_shifts(spark, tmp_path):
    """The UniMax allocation drained one micro-batch at a time must
    equal the batch operator exactly — planted hazard: the last batch
    floods one source with tokens, moving the capped-prefix boundary
    computed from batches 0-1 (sources capped early must become
    uncapped-relative or stay, and every allocation rebinds)."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.streaming.unimax import stream_unimax_mix

    def doc(i, src, n):
        return (i, src, " ".join(f"w{j}" for j in range(n)))

    shards = [
        [doc(1, "a", 10), doc(2, "b", 12)],
        [doc(3, "c", 30), doc(4, "a", 5)],
        # the flood: source c gains 200 tokens last
        [doc(5, "c", 200)],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
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
            stream_unimax_mix(
                spark, str(src), schema, epoch_cap=1, budget_num=95,
                budget_den=100, max_files_per_trigger=1,
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            text.unimax_mix(
                spark.read.parquet(str(src)), epoch_cap=1,
                budget_num=95, budget_den=100,
            ).collect(),
        )
    )
    assert streamed == batch and len(streamed) == 3
    by_source = {r[0]: r for r in streamed}
    # totals: a=15, b=12, c=230 -> B = 244 (95% of 257); ascending
    # b(12): 12*3=36 <= 244 capped; a(15): 15*2=30 <= 232 capped;
    # c(230): 230 > 244-27=217 -> uncapped, takes 217
    assert by_source["b"][3] and by_source["a"][3]
    assert not by_source["c"][3]
    assert by_source["c"][4] == 217.0


# ------------------------------------------------------- MP4 demux


def test_mp4_roundtrip_closed_form():
    from neo4j_dynagraph_spark.operators import multimodal as mm

    for mid in (0, 1, 7, 123, 976, 10_000):
        d = mm.decode_mp4(mm.mp4_fixture(mid))
        n = 1 + mid % 7
        assert d["timescale"] == 1000
        assert d["duration"] == 500 + mid % 977
        assert d["n_tracks"] == 1 and d["codec"] == "mp4v"
        assert (d["width"], d["height"]) == (64 + mid % 16, 48 + mid % 9)
        assert d["n_samples"] == n
        assert d["sample_bytes"] == sum(
            16 + (mid + i) % 32 for i in range(n)
        )


def test_mp4_truncation_fuzz():
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_dynagraph_spark.operators import multimodal as mm

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), frac=st.floats(0.0, 1.0))
    def check(mid, frac):
        full = mm.mp4_fixture(mid)
        cut = full[: int(len(full) * frac)]
        if cut == full:
            mm.decode_mp4(cut)
            return
        with pytest.raises(ValueError):
            mm.decode_mp4(cut)

    check()


def test_mp4_stsz_mdat_mismatch_rejected():
    """Corrupting one stsz sample size must be caught by the
    sum(stsz) == mdat cross-check — the proof the table parse is
    real, not a header skim."""
    import struct

    import pytest

    from neo4j_dynagraph_spark.operators import multimodal as mm

    full = bytearray(mm.mp4_fixture(42))
    i = bytes(full).index(b"stsz")
    # first entry of the size table: stsz fourcc + vf(4) + fixed(4)
    # + count(4) -> entry 0 at i+16
    (v,) = struct.unpack(">I", full[i + 16 : i + 20])
    struct.pack_into(">I", full, i + 16, v + 1)
    with pytest.raises(ValueError, match="stsz total"):
        mm.decode_mp4(bytes(full))


def test_mp4_undersized_inner_box_raises_valueerror():
    """A box-tree-CONSISTENT payload whose mvhd/stsz/stsd body is
    shorter than its fixed layout must raise ValueError (the
    documented contract), not escape as struct.error or return a
    silently-truncated codec string (r12 advice)."""
    import struct

    import pytest

    from neo4j_dynagraph_spark.operators import multimodal as mm

    def boxed(four: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + four + body

    ftyp = boxed(b"ftyp", b"isom\x00\x00\x02\x00isom")
    # mvhd declared size covers only 12 body bytes (needs >= 20)
    short_mvhd = boxed(b"mvhd", b"\x00" * 12)
    with pytest.raises(ValueError, match="mvhd"):
        mm.decode_mp4(ftyp + boxed(b"moov", short_mvhd))
    # stsz with cnt=4 but only one table entry present
    stsz_body = b"\x00" * 4 + struct.pack(">II", 0, 4) + b"\x00\x00\x00\x08"
    mvhd = boxed(b"mvhd", b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", 1000, 5000) + b"\x00" * 80)
    with pytest.raises(ValueError, match="stsz"):
        mm.decode_mp4(
            ftyp + boxed(b"moov", mvhd + boxed(b"stsz", stsz_body))
        )
    # stsd with a 4-byte body: too short to hold even its entry count
    with pytest.raises(ValueError, match="stsd"):
        mm.decode_mp4(
            ftyp
            + boxed(b"moov", mvhd + boxed(b"stsd", b"\x00" * 8))
        )
    # undersized tkhd (cannot hold the trailing width/height dwords)
    with pytest.raises(ValueError, match="tkhd"):
        mm.decode_mp4(
            ftyp + boxed(b"moov", mvhd + boxed(b"tkhd", b"\x00" * 6))
        )


def test_mp4_samples_reconstruct_mdat():
    """mp4_samples must slice the mdat into exactly the stsz-declared
    ranges: concatenating them reproduces the payload body, each
    sample matches its closed-form fixture bytes, and a corrupted
    table still raises (decode_mp4 runs first)."""
    import pytest

    from neo4j_dynagraph_spark.operators import multimodal as mm

    for mid in (0, 5, 42, 997):
        full = mm.mp4_fixture(mid)
        samples = mm.mp4_samples(full)
        nsamp = 1 + mid % 7
        assert len(samples) == nsamp
        for i, s in enumerate(samples):
            sz = 16 + (mid + i) % 32
            assert len(s) == sz
            assert s == bytes((mid + i + j) % 256 for j in range(sz))
        i = full.index(b"mdat") + 4
        assert b"".join(samples) == full[i:]
    with pytest.raises(ValueError):
        mm.mp4_samples(mm.mp4_fixture(7)[:40])


def test_mp4_largesize_box_supported():
    """A 64-bit largesize mdat (size field == 1 + uint64) must parse
    identically — the walker's big-file path."""
    import struct

    from neo4j_dynagraph_spark.operators import multimodal as mm

    full = mm.mp4_fixture(9)
    i = full.index(b"mdat") - 4
    (size,) = struct.unpack(">I", full[i : i + 4])
    body = full[i + 8 :]
    assert len(body) == size - 8
    large = (
        full[:i]
        + struct.pack(">I", 1)
        + b"mdat"
        + struct.pack(">Q", 16 + len(body))
        + body
    )
    assert mm.decode_mp4(large) == mm.decode_mp4(full)


def test_mp3_truncation_and_mutation():
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neo4j_dynagraph_spark.operators import multimodal as mm

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), frac=st.floats(0.0, 1.0))
    def check_trunc(mid, frac):
        full = mm.mp3_fixture(mid)
        cut = full[: int(len(full) * frac)]
        # MP3 is a self-framing stream: a cut exactly ON a frame
        # boundary is VALID (that many whole frames) — unlike PNG's
        # length-bearing container; only a mid-frame cut must raise
        kbps = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320, 0][1 + mid % 14] * 1000
        rate = [44100, 48000, 32000][mid % 3]
        bounds, pos = {0}, 0
        for f in range(3 + mid % 9):
            pos += (144 * kbps) // rate + (mid + f) % 2
            bounds.add(pos)
        if len(cut) in bounds and len(cut) > 0:
            got = mm.decode_mp3_frames(cut)
            assert got["n_bytes"] == len(cut)
        else:
            with pytest.raises(ValueError):
                mm.decode_mp3_frames(cut)

    check_trunc()

    # flipping a HEADER bit is either rejected (sync loss, reserved
    # index, layer mismatch, mid-frame landing) or yields a walk that
    # still lands EXACTLY on EOF — CRC-less MP3 has no stronger
    # integrity than its framing, so a flipped bitrate/padding bit
    # CAN produce a different internally-consistent walk; what the
    # walker guarantees is that it never returns from a stream whose
    # frame arithmetic does not tile the payload
    full = mm.mp3_fixture(77)
    rejected = 0
    for i in range(4):
        for bit in (0x01, 0x80, 0x40):
            mut = bytearray(full)
            mut[i] ^= bit
            try:
                got = mm.decode_mp3_frames(bytes(mut))
            except ValueError:
                rejected += 1
                continue
            assert got["n_bytes"] == len(mut)
    assert rejected >= 6  # most single-bit header flips must reject


# --------------------------------------------------------- rank-1 MF


def test_mf_rank1_converges_and_recommends_unrated(spark):
    """The GD fit must monotonically reduce MSE on a small planted
    rating matrix, and factor signs/scale must stay sane; the rec
    terminal can only surface unrated items."""
    from neo4j_dynagraph_spark.operators.similarity import mf_rank1

    rows = [
        (1, 10, 5.0), (1, 11, 3.0), (2, 10, 4.0), (2, 12, 1.0),
        (3, 11, 2.0), (3, 12, 5.0), (4, 10, 5.0), (4, 11, 4.0),
    ]
    rt = spark.createDataFrame(rows, "cust long, part long, r double")

    def mse(u, v):
        j = (
            rt.crossJoin(rt.agg(F.max("r").alias("m")))
            .select("cust", "part", (F.col("r") / F.col("m")).alias("rn"))
            .join(u, "cust").join(v, "part")
        )
        return j.select(
            F.avg((F.col("rn") - F.col("u") * F.col("v")) ** 2).alias("m")
        ).collect()[0].m

    losses = []
    for steps in (0, 4, 8):
        u, v = mf_rank1(rt, steps=steps, lr=0.5, reg=0.01)
        losses.append(mse(u, v))
    assert losses[0] > losses[1] > losses[2]
    # determinism: same steps twice -> identical factors
    u1, v1 = mf_rank1(rt, steps=4, lr=0.5, reg=0.01)
    u2, v2 = mf_rank1(rt, steps=4, lr=0.5, reg=0.01)
    assert sorted(map(tuple, u1.collect())) == sorted(map(tuple, u2.collect()))
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v2.collect()))


def test_mf_rank1_factors_positive_at_testdata(spark):
    """q_mf_recs' de-cartesianed candidate window ranks by (v desc,
    part) and claims that equals u*v score order — true iff every
    fitted u is positive. Pin it on the real sf0.001 ratings (0.1
    init, nonnegative ratings, mean gradients keep factors in the
    positive cone at our lr/reg)."""
    from neo4j_dynagraph_spark.operators.similarity import mf_rank1
    from neo4j_dynagraph_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    od = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey"
    )
    rt = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )
    u, v = mf_rank1(rt, steps=8, lr=0.5, reg=0.01)
    assert u.where(F.col("u") <= 0).count() == 0
    assert v.where(F.col("v") <= 0).count() == 0
