"""Text analysis + multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from neo4j_dynagraph_spark.operators import multimodal, text

DOCS = [
    (0, "the cat and the dog and the bird", "s0"),
    (1, "el perro y el gato y la casa de que", "s0"),
    (2, "zzz qqq www", "s0"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_text_stats(docs):
    out = {r.doc_id: r for r in text.text_stats(docs).collect()}
    assert out[0].n_tokens == 8
    assert out[0].n_distinct == 5  # the, cat, and, dog, bird
    assert abs(out[0].stop_ratio - 3 / 8) < 1e-9  # three 'the'
    assert out[2].ttr == 1.0


def test_lang_id(docs):
    out = {r.doc_id: r.pred_lang for r in text.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "unk"


def test_token_frequencies(docs):
    out = {r.token: r.cnt for r in text.token_frequencies(docs).collect()}
    assert out["the"] == 3 and out["el"] == 2 and out["zzz"] == 1


def test_fingerprint_deterministic(docs):
    a = {r.doc_id: r.fingerprint for r in text.doc_fingerprints(docs).collect()}
    b = {r.doc_id: r.fingerprint for r in text.doc_fingerprints(docs).collect()}
    assert a == b and len(a) == 3


def test_multimodal_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"\x00\x01", "image", fake=False)


def test_multimodal_pipeline(docs):
    media = multimodal.docs_as_media(docs)
    rows = media.collect()
    assert all(r.payload_len == len(r.payload) for r in rows)
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 3
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic: same payload -> same feature
    again = multimodal.extract_features(media, fake=True).collect()
    assert {r.media_id: r.feature for r in feats} == {
        r.media_id: r.feature for r in again
    }


def test_resize_fixed_output_size(docs):
    # fake double: text payloads aren't decodable images — the stub
    # checks only the mapInPandas batch shape + size contract
    media = multimodal.docs_as_media(docs, kind="image")
    out = multimodal.resize_images(
        media, width=8, height=4, fake=True
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r.payload_len == 32 == len(r.payload)
    # metadata recomputed from the NEW bytes, not carried over
    import hashlib

    for r in out:
        assert r.payload_md5 == hashlib.md5(bytes(r.payload)).hexdigest()


def test_resize_image_nn_real_resample():
    """The REAL nearest-neighbor path: downsample a known 4x2 RGB PPM
    to 2x1 and check the exact source pixels picked by the integer
    grid; grayscale P5 replicates to RGB; upsampling repeats pixels;
    16-bit and garbage payloads raise."""
    import pytest

    px = bytes(
        [
            10, 11, 12,  20, 21, 22,  30, 31, 32,  40, 41, 42,
            50, 51, 52,  60, 61, 62,  70, 71, 72,  80, 81, 82,
        ]
    )
    ppm = b"P6\n4 2\n255\n" + px
    out = multimodal.resize_image_nn(ppm, 2, 1)
    # src x = (0*4)//2=0, (1*4)//2=2; src y = (0*2)//1 = 0
    assert out == b"P6\n2 1\n255\n" + bytes([10, 11, 12, 30, 31, 32])
    # upsample 1x1 -> 3x2: the single pixel repeats
    one = b"P6\n1 1\n255\n" + bytes([7, 8, 9])
    up = multimodal.resize_image_nn(one, 3, 2)
    assert up == b"P6\n3 2\n255\n" + bytes([7, 8, 9] * 6)
    # grayscale P5 replicates channels
    pgm = b"P5\n2 1\n255\n" + bytes([100, 200])
    g = multimodal.resize_image_nn(pgm, 2, 1)
    assert g == b"P6\n2 1\n255\n" + bytes([100] * 3 + [200] * 3)
    with pytest.raises(ValueError):
        multimodal.resize_image_nn(b"P6\n1 1\n65535\n" + bytes(6), 2, 2)
    with pytest.raises(ValueError):
        multimodal.resize_image_nn(b"not an image", 2, 2)
    with pytest.raises(ValueError):
        multimodal.resize_image_nn(ppm, 0, 2)


def test_sample_frames_one_to_many(docs):
    media = multimodal.docs_as_media(docs, kind="video")
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    out = multimodal.sample_frames(media, frame_bytes=4, every_nth=2).collect()
    assert len(out) > len(src), "frame sampling must expand rows"
    for r in out:
        assert r.frame_idx % 2 == 0
        assert len(r.payload) == 4 == r.payload_len
        start = r.frame_idx * 4
        assert bytes(r.payload) == src[r.media_id][start : start + 4]


def test_search_all_terms_and_semantics(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (0, "spark merge vector spark", "s"),   # all three, spark twice
            (1, "spark merge", "s"),                # missing vector
            (2, "vector vector merge spark", "s"),  # all three
            (3, "unrelated words only", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r.hits
           for r in text_ops.search_all_terms(docs, ["spark", "merge", "vector"]).collect()}
    assert out == {0: 4, 2: 4}  # AND semantics; hits = total occurrences


def test_ppm_decode_real():
    # 2x1 P6 image, known pixels, comment in header
    img = b"P6\n# a comment\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    d = multimodal.decode_ppm(img)
    assert (d["width"], d["height"], d["maxval"], d["n_bytes"]) == (2, 1, 255, 6)
    assert (d["min_byte"], d["max_byte"]) == (10, 60)
    assert d["mean_byte"] == sum([10, 20, 30, 40, 50, 60]) / 6
    # P5 grayscale: one byte per pixel
    g = multimodal.decode_ppm(b"P5\n3 2\n255\n" + bytes(6))
    assert g["n_bytes"] == 6 and g["max_byte"] == 0
    # truncated plane must raise, not silently mis-decode
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n2 2\n255\n\x00\x00")
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"JFIF not a ppm")


def test_wav_decode_real():
    import struct

    sr, ch, samples = 16000, 2, [100, -200, 300, -400]
    data = struct.pack(f"<{len(samples)}h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    d = multimodal.decode_wav(wav)
    assert (d["sample_rate"], d["channels"], d["bits"]) == (sr, ch, 16)
    assert d["n_samples"] == len(samples) // ch
    assert d["peak"] == 400
    assert d["mean_sample"] == sum(samples) / len(samples)
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"OggS not a wav")


def test_decode_stub_dispatches_real_codecs():
    # PPM, PNG, JPEG, and WAV decode for REAL even with fake=False —
    # the NotImplementedError boundary now only covers MP3/MP4
    feats = multimodal.decode_stub(b"P6\n1 1\n255\n\x07\x07\x07", "image", fake=False)
    assert feats[:4] == [1.0, 1.0, 255.0, 3.0]
    png = _mk_png([bytes([7])], 1, 1, 0, [0])
    pfeats = multimodal.decode_stub(png, "image", fake=False)
    assert pfeats[:4] == [1.0, 1.0, 0.0, 1.0] and pfeats[7] == 3.0
    # JPEG magic routes to the REAL decoder now: garbage after the
    # SOI raises the decoder's ValueError, not the env-gate
    with pytest.raises(ValueError):
        multimodal.decode_stub(b"\xff\xd8\xff\xe0 jpeg", "image", fake=False)
    # the env-gate survives only for containers with no decoder
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(
            b"\x00\x00\x00\x18ftypmp42 not decodable", "video", fake=False
        )


def test_encode_decode_roundtrip_spark(spark):
    ids = spark.range(0, 40).select(F.col("id").alias("media_id"))
    img = multimodal.decode_image_meta(
        multimodal.encode_test_media(ids, kind="image")
    ).collect()
    assert len(img) == 40
    for r in img:
        assert r.width == 4 + r.media_id % 13
        assert r.mean_byte == float(r.media_id % 251)
    aud = multimodal.decode_audio_meta(
        multimodal.encode_test_media(ids, kind="audio")
    ).collect()
    for r in aud:
        assert r.sample_rate == 8000 * (1 + r.media_id % 3)
        assert r.peak == abs(r.media_id % 1000 - 500)


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (0, "spark spark spark spark spark"),  # 3 grams, 1 distinct
            (1, "one two three four five"),        # all distinct
            (2, "hi"),                             # < 3 tokens: zero grams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert (out[0].n_grams, out[0].n_distinct) == (3, 1)
    assert out[0].rep_ratio == 0.666667 and out[0].flag_repetitive
    assert out[1].rep_ratio == 0.0 and not out[1].flag_repetitive
    assert (out[2].n_grams, out[2].rep_ratio) == (0, 0.0)


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "reach me at First.Last+tag@Example.ORG today"),
            (1, "server 10.0.0.1 and 192.168.1.255, call 555-123-4567"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.pii_counts(df).collect()}
    assert out[0].n_email == 1 and out[0].has_pii  # case-insensitive
    assert out[1].n_ipv4 == 2 and out[1].n_phone == 1 and out[1].has_pii
    assert not out[2].has_pii


def test_ppm_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        v=st.integers(0, 255),
        gray=st.booleans(),
    )
    def check(w, h, v, gray):
        magic, bpp = (b"P5", 1) if gray else (b"P6", 3)
        img = magic + f"\n{w} {h}\n255\n".encode() + bytes([v]) * (w * h * bpp)
        d = multimodal.decode_ppm(img)
        assert (d["width"], d["height"], d["maxval"]) == (w, h, 255)
        assert d["n_bytes"] == w * h * bpp
        assert d["mean_byte"] == float(v) == d["min_byte"] == d["max_byte"]

    check()


def test_wav_roundtrip_property():
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        sr=st.sampled_from([8000, 16000, 44100]),
        ch=st.integers(1, 2),
        samples=st.lists(st.integers(-32768, 32767), min_size=2, max_size=64),
    )
    def check(sr, ch, samples):
        if len(samples) % ch:
            samples = samples[: len(samples) - 1]
        if not samples:
            return
        data = struct.pack(f"<{len(samples)}h", *samples)
        wav = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        d = multimodal.decode_wav(wav)
        assert (d["sample_rate"], d["channels"]) == (sr, ch)
        assert d["n_samples"] == len(samples) // ch
        assert d["peak"] == max(abs(s) for s in samples)

    check()


# --------------------------------------------------------------- codec fuzz
# The decoders sit in a mapInPandas hot path: one malformed payload that
# escapes as anything other than ValueError kills a 100 TB stage. The
# contract under fuzz: ValueError (or a correct decode for mutations
# that keep the payload well-formed) — never any other exception, and
# never statistics computed over silently-truncated planes/samples.


def _mk_ppm(mid: int) -> bytes:
    w, h, v = 4 + mid % 13, 3 + mid % 7, mid % 251
    return f"P6\n{w} {h}\n255\n".encode() + bytes([v]) * (w * h * 3)


def _mk_wav(mid: int) -> bytes:
    import struct

    sr, ch = 8000 * (1 + mid % 3), 1 + mid % 2
    n, amp = 100 + mid % 50, (mid % 1000) - 500
    data = struct.pack(f"<{n * ch}h", *([amp] * (n * ch)))
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_ppm_truncation_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), frac=st.floats(0.0, 1.0))
    def check(mid, frac):
        full = _mk_ppm(mid)
        cut = full[: int(len(full) * frac)]
        if cut == full:
            multimodal.decode_ppm(cut)  # intact payload must decode
            return
        with pytest.raises(ValueError):
            multimodal.decode_ppm(cut)  # any strict prefix is malformed

    check()


def test_ppm_mutation_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), pos=st.integers(0, 1 << 30),
           byte=st.integers(0, 255))
    def check(mid, pos, byte):
        full = bytearray(_mk_ppm(mid))
        pos %= len(full)
        full[pos] = byte
        try:
            d = multimodal.decode_ppm(bytes(full))
        except ValueError:
            return  # rejected: fine
        # accepted: stats must reflect the mutated plane, not stale math
        assert d["n_bytes"] == d["width"] * d["height"] * 3
        assert d["min_byte"] <= d["mean_byte"] <= d["max_byte"]

    check()


def _mk_png(
    rows: list[bytes], w: int, bpp: int, color: int, fts: list[int]
) -> bytes:
    """Minimal valid PNG from raw scanlines + a per-row filter schedule,
    using only stdlib zlib — the test-side independent encoder."""
    import struct
    import zlib

    raw = bytearray()
    prev = bytes(w * bpp)
    for line, ft in zip(rows, fts):
        raw.append(ft)
        raw += multimodal._png_filter_line(line, prev, ft, bpp)
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, len(rows), 8, color, 0, 0, 0)
    return (
        multimodal._PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_property():
    # every color type x every filter type, arbitrary pixel content:
    # decode must recover the exact plane statistics
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        color=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 1 << 30),
    )
    def check(w, h, color, seed):
        import random

        rnd = random.Random(seed)
        bpp = {0: 1, 2: 3, 4: 2, 6: 4}[color]
        rows = [
            bytes(rnd.randrange(256) for _ in range(w * bpp)) for _ in range(h)
        ]
        fts = [rnd.randrange(5) for _ in range(h)]
        d = multimodal.decode_png(_mk_png(rows, w, bpp, color, fts))
        plane = b"".join(rows)
        assert (d["width"], d["height"], d["color_type"]) == (w, h, color)
        assert d["n_bytes"] == len(plane)
        assert d["mean_byte"] == sum(plane) / len(plane)
        assert (d["min_byte"], d["max_byte"]) == (min(plane), max(plane))

    check()


def test_png_truncation_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), frac=st.floats(0.0, 1.0))
    def check(mid, frac):
        w, bpp = 4 + mid % 13, 3
        v = mid % 251
        row = bytes((v + x) % 256 for x in range(w) for _ in range(bpp))
        h = 3 + mid % 7
        full = _mk_png([row] * h, w, bpp, 2, ([1, 2] + [4] * h)[:h])
        cut = full[: int(len(full) * frac)]
        if cut == full:
            multimodal.decode_png(cut)  # intact payload must decode
            return
        with pytest.raises(ValueError):
            multimodal.decode_png(cut)  # any strict prefix is malformed

    check()


def test_png_mutation_fuzz():
    # a single flipped byte must either be REJECTED (ValueError — the
    # CRC walk catches chunk corruption) or be a byte-identical no-op
    # mutation; it can never alter the decoded statistics silently
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), pos=st.integers(0, 1 << 30),
           byte=st.integers(0, 255))
    def check(mid, pos, byte):
        w, bpp = 4 + mid % 13, 3
        v = mid % 251
        row = bytes((v + x) % 256 for x in range(w) for _ in range(bpp))
        h = 3 + mid % 7
        orig = _mk_png([row] * h, w, bpp, 2, ([1, 2] + [4] * h)[:h])
        ref = multimodal.decode_png(orig)
        full = bytearray(orig)
        pos %= len(full)
        full[pos] = byte
        try:
            d = multimodal.decode_png(bytes(full))
        except ValueError:
            return  # rejected: fine
        assert bytes(full) == orig, "CRC accepted a real mutation"
        assert d == ref

    check()


def test_wav_truncation_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), frac=st.floats(0.0, 1.0))
    def check(mid, frac):
        full = _mk_wav(mid)
        cut = full[: int(len(full) * frac)]
        if cut == full:
            multimodal.decode_wav(cut)
            return
        with pytest.raises(ValueError):
            multimodal.decode_wav(cut)

    check()


def test_wav_mutation_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(mid=st.integers(0, 10_000), pos=st.integers(0, 1 << 30),
           byte=st.integers(0, 255))
    def check(mid, pos, byte):
        full = bytearray(_mk_wav(mid))
        pos %= len(full)
        full[pos] = byte
        try:
            d = multimodal.decode_wav(bytes(full))
        except ValueError:
            return
        # accepted: the fmt/sample invariants must still hold
        assert d["bits"] in (8, 16)
        assert d["channels"] >= 1 and d["n_samples"] >= 0
        assert d["peak"] >= 0

    check()


# ------------------------------------------------------------ bpe_train


def _bpe(spark, texts, n):
    from neo4j_dynagraph_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return [tuple(r) for r in bpe_train(docs, n_merges=n).collect()]


def test_bpe_train_basic_merge(spark):
    # "abab" x3: pair (a,b) dominates; round 1 merges it, round 2 then
    # sees ("ab","ab") as the new top pair.
    rows = _bpe(spark, ["abab abab abab"], 2)
    assert rows[0] == (1, "a", "b", "ab", 6)
    assert rows[1] == (2, "ab", "ab", "abab", 3)


def test_bpe_train_leftmost_nonoverlapping(spark):
    # "aaaa": pairs (a,a) at 3 positions but leftmost-first merging
    # collapses to [aa, aa] (2 merges), never [a, aa, a] or 3.
    # weight counts OCCURRENCES (3 per word pre-merge), but the apply
    # step is non-overlapping: round 2's top pair must be (aa, aa).
    rows = _bpe(spark, ["aaaa aaaa"], 2)
    assert rows[0][1:4] == ("a", "a", "aa")
    assert rows[1][1:4] == ("aa", "aa", "aaaa")


def test_bpe_train_tie_break_deterministic(spark):
    # equal weights: (left, right) lexicographic wins — "xy" over "zw"
    rows = _bpe(spark, ["xy zw"], 1)
    assert rows[0] == (1, "x", "y", "xy", 1)


def test_bpe_train_word_frequency_weighting(spark):
    # pair weight is occurrence count across word MULTIPLICITY:
    # "to" appears 5x -> (t,o) weight 5 beats (q,r|rs) from one "qrs".
    rows = _bpe(spark, ["to to to to to qrs"], 1)
    assert rows[0] == (1, "t", "o", "to", 5)


def test_ngram_novelty_first_doc_wins(spark, tmp_path):
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.queries_ext import q_ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "s"),
            (2, "alpha beta gamma delta", "s"),  # verbatim dup: 0 novel
            (3, "alpha beta gamma zeta eta theta", "s"),  # 1 shared prefix shingle
        ],
        "doc_id long, text string, source string",
    )
    p = str(tmp_path / "nv")
    docs.write.parquet(p + "/documents.parquet")
    out = {r["doc_id"]: r for r in q_ngram_novelty(spark, p).collect()}
    assert out[1]["n_novel"] == out[1]["n_shingles"] == 2
    assert out[2]["n_novel"] == 0 and out[2]["novel_frac"] == 0.0
    # doc 3: shingles = [abg, bgz, gze, zet, eth...]; only "alpha beta gamma"
    # was seen before
    assert out[3]["n_shingles"] == 4 and out[3]["n_novel"] == 3


def test_bm25_ranks_higher_tf_higher(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine only once here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_ops.bm25_scores(docs, ["spark"]).collect()}
    assert set(out) == {1, 2}  # doc 3 has no query term
    assert out[1].bm25 > out[2].bm25
    assert out[1].n_hit == 1 and out[2].n_hit == 1


def test_bm25_idf_downweights_common_terms(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    # 'common' in every doc, 'rare' in one: equal tf, rare must
    # dominate the score of the doc holding both
    docs = spark.createDataFrame(
        [
            (1, "common rare pad pad"),
            (2, "common pad pad pad"),
            (3, "common pad pad pad"),
            (4, "common pad pad pad"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text_ops.bm25_scores(docs, ["common", "rare"]).collect()
    }
    assert out[1].n_hit == 2
    # subtracting doc 2's all-common score isolates the rare term's
    # contribution, which must exceed the common term's
    assert out[1].bm25 > 2 * out[2].bm25


def test_bm25_length_normalization(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    # same tf, longer doc scores lower (b=0.75 length penalty)
    docs = spark.createDataFrame(
        [
            (1, "term short"),
            (2, "term " + " ".join(["pad"] * 30)),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_ops.bm25_scores(docs, ["term"]).collect()}
    assert out[1].bm25 > out[2].bm25


def test_temperature_mix_flattens_toward_small_sources(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    rows = [(i, "x", "big") for i in range(90)]
    rows += [(1000 + i, "x", "small") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in text_ops.temperature_mix(docs, alpha=0.5).collect()}
    assert out["big"].n_docs == 90 and out["small"].n_docs == 10
    # alpha=0.5 boosts the small source most -> its rate is exactly 1
    assert out["small"].keep_rate == 1.0
    assert out["big"].keep_rate < 1.0
    # target shares flatten: small's target > its raw share
    assert out["small"].target_share > out["small"].share
    assert out["big"].target_share < out["big"].share
    assert 0 <= out["big"].n_kept <= 90
    # rate arithmetic: big keeps ~ rate fraction (hash coin is uniform)
    assert out["small"].n_kept >= 9  # rate 1.0 keeps all but u==1 edge


def test_temperature_mix_alpha_one_keeps_everything(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    rows = [(i, "x", "a") for i in range(20)]
    rows += [(100 + i, "x", "b") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in text_ops.temperature_mix(docs, alpha=1.0).collect()}
    # alpha=1 -> target == share -> every rate is 1 -> no downsampling
    for r in out.values():
        assert r.keep_rate == 1.0
        assert r.n_kept == r.n_docs


def test_es_weighted_sample_prefers_heavy_rows(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    # one row with overwhelming weight among featherweights: ES keys
    # are ln(u)/w, so w=10^9 pushes its key ~0 and it must be sampled
    rows = [(0, 10**9)] + [(i, 1) for i in range(1, 200)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = text_ops.es_weighted_sample(docs, "n_chars", k=5).collect()
    assert len(out) == 5
    assert out[0].doc_id == 0  # heaviest row wins the top key
    # zero/negative weights are excluded, never sampled
    docs2 = spark.createDataFrame(
        [(1, 0), (2, -3), (3, 10)], "doc_id long, n_chars long"
    )
    out2 = text_ops.es_weighted_sample(docs2, "n_chars", k=5).collect()
    assert [r.doc_id for r in out2] == [3]


def test_es_weighted_sample_deterministic(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(i, 10 + i) for i in range(100)], "doc_id long, n_chars long"
    )
    a = [r.doc_id for r in text_ops.es_weighted_sample(docs, "n_chars", k=10).collect()]
    b = [r.doc_id for r in text_ops.es_weighted_sample(docs, "n_chars", k=10).collect()]
    assert a == b and len(a) == 10


def test_bloom_decontam_superset_of_exact(spark):
    """One-sided error: the Bloom filter NEVER misses a true overlap —
    every doc q_decontam flags must be bloom-flagged with at least as
    many hits; extra bloom flags are the (measurable) FP price."""
    from neo4j_dynagraph_spark.operators import text as text_ops
    from neo4j_dynagraph_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    exact = {
        r.doc_id: r.n_hit_ngrams
        for r in text_ops.decontaminate(train, bench, n=4).collect()
    }
    bloom = {
        r.doc_id: r.n_bloom_hits
        for r in text_ops.bloom_decontaminate(train, bench, n=4).collect()
    }
    assert set(exact) <= set(bloom)
    for d, n_exact in exact.items():
        assert bloom[d] >= n_exact


def test_bloom_decontam_empty_benchmark_flags_nothing(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert text_ops.bloom_decontaminate(train, bench, n=4).count() == 0


def test_cms_never_underestimates(spark):
    from neo4j_dynagraph_spark.operators.sketch import cms_estimates

    rows = [("the",)] * 50 + [("a",)] * 20 + [("rare",)] * 3
    occ = spark.createDataFrame(rows, "token string")
    probe = spark.createDataFrame(
        [("the",), ("a",), ("rare",)], "token string"
    )
    est = {r.token: r.cms_est for r in cms_estimates(occ, probe).collect()}
    assert est["the"] >= 50 and est["a"] >= 20 and est["rare"] >= 3
    # with 3 tokens in a 4x1024 sketch there are no collisions:
    # estimates are exact
    assert est == {"the": 50, "a": 20, "rare": 3}


def test_hrw_moves_less_than_mod(spark):
    from neo4j_dynagraph_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = {r.scheme: r for r in text_ops.hrw_shard_migration(docs, 8).collect()}
    # HRW: ~1/9 of docs move on 8 -> 9; mod: ~8/9 move
    assert 0.05 < out["hrw"].moved_frac < 0.20
    assert out["mod"].moved_frac > 0.75
    assert out["hrw"].n_moved < out["mod"].n_moved
    assert out["hrw"].n_docs == out["mod"].n_docs == 2000


def test_token_zipf_recovers_power_law(spark):
    """A corpus built with freq(rank k) = 1024/k must fit slope ~ -1."""
    from neo4j_dynagraph_spark.queries import REGISTRY
    import os, tempfile

    words = []
    for k in range(1, 33):
        words += [f"tok{k:02d}"] * (1024 // k)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    d = tempfile.mkdtemp(prefix="dynagraph_zipf_fixture_")
    sf = os.path.join(d, "sf")
    os.makedirs(sf)
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    out = REGISTRY["q_token_zipf"].fn(spark, sf).collect()[0]
    assert out.n_tokens == 32
    # integer truncation of 1024/k bends the tail slightly; the fit
    # must still sit on the power law
    assert -1.05 < out.zipf_slope < -0.95


def test_lang_confusion_rows_normalize(spark):
    from neo4j_dynagraph_spark.queries import REGISTRY

    out = REGISTRY["q_lang_confusion"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_true = {}
    for r in out:
        by_true.setdefault(r.true_lang, []).append(r)
    for true_lang, rows in by_true.items():
        assert abs(sum(r.row_frac for r in rows) - 1.0) < 1e-4
        assert all(r.n_docs > 0 for r in rows)


def test_bm25_quoted_term_is_safe(spark):
    # caller-supplied terms are embedded as ESCAPED SQL string
    # literals (r14, _sql_str): a term containing a quote or a
    # backslash must neither error nor inject; it simply never
    # matches (the tokenizer strips punctuation, so no token can
    # contain ' or \)
    from neo4j_dynagraph_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "o brien wrote the key paper"), (2, "another doc entirely")],
        "doc_id long, text string",
    )
    assert t.bm25_scores(docs, ["o'brien"]).count() == 0
    out = t.bm25_scores(docs, ["o'brien", "key"]).collect()
    assert [r.doc_id for r in out] == [1] and out[0].n_hit == 1
    # backslash: Spark SQL literals use backslash escaping, so an
    # unescaped \ would change the literal; the escaped form must
    # behave exactly like the old Column-API equality (no match)
    assert t.bm25_scores(docs, ["a\\b"]).count() == 0
    out = t.bm25_scores(docs, ["a\\b", "'); DROP", "paper"]).collect()
    assert [r.doc_id for r in out] == [1] and out[0].n_hit == 1


def test_bm25_quoted_term_under_legacy_literal_mode(spark):
    # the legacy parser mode keeps backslashes verbatim, so the
    # escaped literal o\'brien would reach the plan with its
    # backslash; bm25_scores pins the default, so the term compared
    # is the caller's own and the result is the default session's
    from neo4j_dynagraph_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "o brien wrote the key paper"), (2, "another doc entirely")],
        "doc_id long, text string",
    )
    conf = "spark.sql.parser.escapedStringLiterals"
    want = t.bm25_scores(docs, ["o'brien", "key"]).collect()
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        out = t.bm25_scores(docs, ["o'brien", "key"])
        got = out.collect()
    finally:
        spark.conf.set(conf, prev)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "o'brien" in plan and "o\\'brien" not in plan
    assert got == want
    assert [r.doc_id for r in got] == [1] and got[0].n_hit == 1


def test_bm25_empty_terms_is_empty_result(spark):
    from neo4j_dynagraph_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "o brien wrote the key paper")], "doc_id long, text string"
    )
    out = t.bm25_scores(docs, [])
    assert out.collect() == []
    # same columns and types as a non-empty term list
    assert out.dtypes == t.bm25_scores(docs, ["key"]).dtypes


def test_bm25_non_finite_parameters_raise(spark):
    from neo4j_dynagraph_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "o brien wrote the key paper")], "doc_id long, text string"
    )
    for kwargs in ({"k1": float("inf")}, {"b": float("nan")}):
        with pytest.raises(ValueError, match="finite"):
            t.bm25_scores(docs, ["key"], **kwargs)


def test_gopher_rules_attribute_failures_per_rule(spark):
    base = "the a of and to " + " ".join(f"word{i}" for i in range(20))  # passes all
    docs = spark.createDataFrame(
        [
            (1, base, "s"),
            (2, "the a of and to word", "s"),  # too short -> r_wc
            (3, base + " " + "x" * 300, "s"),  # mean word len > 10 -> r_mwl
            (4, base + " " + " ".join(["9"] * 10), "s"),  # digits -> r_alpha
            (5, " ".join(f"word{i}" for i in range(25)), "s"),  # no stops -> r_stop
            (6, "the a of and to " + " ".join(["dupe"] * 20), "s"),  # r_rep
        ],
        "doc_id long, text string, source string",
    )
    r = {row.doc_id: row for row in text.gopher_rules(docs).collect()}
    assert r[1].passed
    assert not r[2].r_wc and not r[2].passed
    assert not r[3].r_mwl
    assert not r[4].r_alpha and r[4].r_wc
    assert not r[5].r_stop and r[5].r_alpha
    assert not r[6].r_rep and r[6].r_stop


def test_tile_images_grid_and_ragged_edges(spark):
    # 5x3 RGB PPM with pixel x-gradient: tile (tx=1, ty=1) is the ragged
    # 1x1 corner; every tile mean is closed-form
    w, h = 5, 3
    body = bytes(x * 10 for y in range(h) for x in range(w) for _ in range(3))
    img = f"P6\n{w} {h}\n255\n".encode() + body
    media = spark.createDataFrame(
        [(7, "image", img)], "media_id long, kind string, payload binary"
    )
    out = {
        (r.tx, r.ty): r
        for r in multimodal.tile_images(media, tile_w=4, tile_h=2).collect()
    }
    assert len(out) == 4  # 2x2 grid
    assert (out[(0, 0)].tile_w, out[(0, 0)].tile_h) == (4, 2)
    assert out[(0, 0)].mean_byte == 15.0  # mean of x in 0..3 -> 1.5 * 10
    assert (out[(1, 0)].tile_w, out[(1, 0)].tile_h) == (1, 2)
    assert out[(1, 0)].mean_byte == 40.0  # x = 4 column only
    assert (out[(1, 1)].tile_w, out[(1, 1)].tile_h) == (1, 1)
    assert out[(1, 1)].mean_byte == 40.0
    with pytest.raises(ValueError):
        multimodal.tile_images(media, tile_w=0)


def test_train_quality_probe_learns(spark):
    """GD on the real sf0.001 corpus: the log-loss trajectory must be
    strictly decreasing from the ln(2) start (the all-zero weights
    predict 0.5), and weights must move."""
    import math

    from neo4j_dynagraph_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = text.train_quality_probe(d, steps=6, lr=0.1).collect()
    assert [r.step for r in rows] == [0, 1, 2, 3, 4, 5, 6]
    assert rows[0].loss == pytest.approx(math.log(2), abs=1e-5)
    losses = [r.loss for r in rows]
    assert all(b < a for a, b in zip(losses, losses[1:])), losses
    assert any(abs(rows[-1][k]) > 1e-4 for k in
               ("b", "w_len", "w_ttr", "w_stop", "w_alpha", "w_wordlen"))


def test_bigram_ppl_closed_form(spark):
    # train 'x y' (src t): vocab {x,y}, V=3; cb[(<s>,x)]=cb[(x,y)]=1;
    # cu[<s>]=cu[x]=1. Doc 'x y': both bigrams ln(1.5/2.5) -> ppl 5/3.
    # Doc 'z': OOV, (<s>,unk) -> ln(0.5/2.5) -> ppl 5.
    d = spark.createDataFrame(
        [(0, "x y", "t"), (1, "x y", "a"), (2, "z", "b")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in text.bigram_ppl(d, train_source="t").collect()}
    assert out["a"].mean_ppl == pytest.approx(5 / 3, abs=1e-6)
    assert out["b"].mean_ppl == pytest.approx(5.0, abs=1e-6)
    assert out["t"].mean_ppl == pytest.approx(5 / 3, abs=1e-6)
    assert out["a"].mean_logprob == pytest.approx(
        __import__("math").log(0.6), abs=1e-6
    )


def test_bigram_ppl_prefers_in_domain(spark):
    # in-domain word order scores lower ppl than the same words shuffled
    train = [(i, "the cat sat on the mat", "ref") for i in range(3)]
    test = [
        (10, "the cat sat on the mat", "indomain"),
        (11, "mat the on sat cat the", "shuffled"),
    ]
    d = spark.createDataFrame(
        train + test, "doc_id long, text string, source string"
    )
    out = {r.source: r.mean_ppl for r in text.bigram_ppl(d, "ref").collect()}
    assert out["indomain"] < out["shuffled"]


# -------------------------------------------------------------- JPEG codec


def test_jpeg_dc_roundtrip_exact():
    """DC-only constant blocks with qtable all 8s survive quantization
    exactly (FDCT DC of constant v is 8*(v-128)), so decode must
    recover every pixel bit-for-bit — the q_jpeg_decode contract."""
    for mid in [0, 1, 7, 38, 250, 1000, 54321]:
        w, h = 8 * (1 + mid % 3), 8 * (1 + mid % 2)
        blocks, exp = [], {}
        for by in range(h // 8):
            for bx in range(w // 8):
                v = (mid * 31 + bx * 97 + by * 53) % 251
                blk = [0] * 64
                blk[0] = v - 128
                blocks.append(blk)
                exp[(bx, by)] = v
        d = multimodal.decode_jpeg_pixels(
            multimodal.jpeg_gray_from_qblocks(w, h, blocks, [8] * 64)
        )
        assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
        plane = d["plane"]
        assert all(
            plane[y * w + x] == exp[(x // 8, y // 8)]
            for y in range(h)
            for x in range(w)
        )


def test_jpeg_ac_numpy_differential():
    """Arbitrary quantized coefficient blocks (real AC run-length,
    ZRL, EOB, negative amplitudes) must decode to exactly what an
    independent numpy IDCT of the dequantized coefficients says —
    differential-tests the Huffman layer AND the float IDCT."""
    import numpy as np

    rng = np.random.RandomState(7)
    Z = multimodal._JPEG_ZIGZAG
    cx = np.array(
        [
            [
                (np.sqrt(0.125) if u == 0 else 0.5)
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for u in range(8)
            ]
            for x in range(8)
        ]
    )
    for _ in range(40):
        qt = [1 if i == 0 else (1 + i % 4) for i in range(64)]
        nb = rng.randint(1, 5)
        blocks = []
        for _b in range(nb):
            blk = [0] * 64
            for _k in range(rng.randint(1, 14)):
                blk[rng.randint(0, 64)] = int(rng.randint(-60, 61))
            blocks.append(blk)
        d = multimodal.decode_jpeg_pixels(
            multimodal.jpeg_gray_from_qblocks(8 * nb, 8, blocks, qt)
        )
        for b, blk in enumerate(blocks):
            nat = np.zeros((8, 8))
            for k in range(64):
                z = Z[k]
                nat[z // 8, z % 8] = blk[k] * qt[z]
            ref = np.clip(
                np.round(cx @ nat @ cx.T).astype(int) + 128, 0, 255
            )
            got = np.array(
                [
                    [d["plane"][y * 8 * nb + b * 8 + x] for x in range(8)]
                    for y in range(8)
                ]
            )
            assert (got == ref).all()


def test_jpeg_restart_interval_roundtrip():
    """DRI/RSTn path: same blocks with and without restart markers
    must decode identically (predictor reset + byte realign)."""
    blocks = []
    for i in range(6):
        blk = [0] * 64
        blk[0] = (i * 37) % 200 - 100
        blk[5] = (-1) ** i * (i + 1)
        blocks.append(blk)
    plain = multimodal.decode_jpeg_pixels(
        multimodal.jpeg_gray_from_qblocks(48, 8, blocks, [8] * 64)
    )
    rst = multimodal.decode_jpeg_pixels(
        multimodal.jpeg_gray_from_qblocks(
            48, 8, blocks, [8] * 64, restart_interval=2
        )
    )
    assert plain["plane"] == rst["plane"]


def test_jpeg_ycc_color_roundtrip():
    """3-component constant blocks: decode must interleave the MCU,
    run all three IDCTs, and apply the JFIF YCbCr->RGB equations."""
    def const(v):
        blk = [0] * 64
        blk[0] = v - 128
        return blk

    yv, cb, cr = 120, 160, 90
    d = multimodal.decode_jpeg_pixels(
        multimodal.jpeg_ycc_from_qblocks(
            8, 8, [[const(yv)], [const(cb)], [const(cr)]], [8] * 64
        )
    )
    assert (d["width"], d["height"], d["channels"]) == (8, 8, 3)

    def clamp(x):
        return max(0, min(255, int(round(x))))

    exp = (
        clamp(yv + 1.402 * (cr - 128)),
        clamp(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        clamp(yv + 1.772 * (cb - 128)),
    )
    px = d["plane"]
    assert all(
        (px[i * 3], px[i * 3 + 1], px[i * 3 + 2]) == exp for i in range(64)
    )


def test_jpeg_error_paths():
    blk = [0] * 64
    blk[0] = 10
    good = multimodal.jpeg_gray_from_qblocks(8, 8, [blk], [8] * 64)
    with pytest.raises(ValueError, match="SOI"):
        multimodal.decode_jpeg_pixels(b"\x89PNG")
    # progressive SOF2 must be a clear refusal, not a garbage decode
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="non-baseline"):
        multimodal.decode_jpeg_pixels(prog)
    # 2x2 chroma subsampling is out of contract
    sub = bytearray(good)
    i = sub.find(b"\xff\xc0")
    sub[i + 11] = 0x22  # sampling byte of component 1
    with pytest.raises(ValueError, match="subsampling"):
        multimodal.decode_jpeg_pixels(bytes(sub))
    # truncated entropy stream
    with pytest.raises(ValueError, match="truncated|no SOS"):
        multimodal.decode_jpeg_pixels(good[: len(good) - 8])


def test_jpeg_truncation_and_mutation_fuzz():
    """JPEG carries no CRC, so the contract is weaker than PNG's:
    any strict prefix either raises ValueError or (when only trailing
    padding/EOI is cut) decodes to the identical plane; a single
    mutated byte either raises ValueError or decodes to SOME plane —
    never hangs, never throws anything else."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    blocks = []
    for i in range(4):
        blk = [0] * 64
        blk[0] = (i * 53) % 160 - 80
        blk[3] = i - 2
        blocks.append(blk)
    full = multimodal.jpeg_gray_from_qblocks(32, 8, blocks, [8] * 64)
    ref = multimodal.decode_jpeg_pixels(full)

    @settings(max_examples=120, deadline=None)
    @given(frac=st.floats(0.0, 1.0))
    def trunc(frac):
        cut = full[: int(len(full) * frac)]
        try:
            d = multimodal.decode_jpeg_pixels(cut)
        except ValueError:
            return
        assert d["plane"] == ref["plane"]

    @settings(max_examples=120, deadline=None)
    @given(pos=st.integers(0, 1 << 30), byte=st.integers(0, 255))
    def mutate(pos, byte):
        buf = bytearray(full)
        buf[pos % len(buf)] = byte
        try:
            d = multimodal.decode_jpeg_pixels(bytes(buf))
        except ValueError:
            return
        assert isinstance(d["plane"], bytes) and d["width"] > 0

    trunc()
    mutate()


def test_jpeg_feature_branch_in_decode_stub():
    blk = [0] * 64
    blk[0] = 72 - 128
    payload = multimodal.jpeg_gray_from_qblocks(8, 8, [blk], [8] * 64)
    f = multimodal.decode_stub(payload, "image")
    assert f[:4] == [8.0, 8.0, 1.0, 64.0]
    assert abs(f[4] - 72 / 255) < 1e-9 and f[7] == 4.0


def test_domain_weights_upweights_hard_domains(spark):
    """DoReMi semantics on a planted corpus: the reference domain has
    excess 0 by construction; an OOV-heavy domain scores a positive
    excess NLL and must gain weight OVER what its token share alone
    would give (after the uniform smoothing both queries carry);
    weights sum to 1 up to rounding."""
    ref = [(i, "the cat sat on the mat and the dog ran", "src0")
           for i in range(6)]
    hard = [(10 + i, "zq xv qqk wjj zzp vnm plk qrs ttx yyb", "srcZ")
            for i in range(6)]
    d = spark.createDataFrame(
        ref + hard, "doc_id long, text string, source string"
    )
    out = {r.source: r for r in text.domain_weights(d, "src0").collect()}
    assert set(out) == {"src0", "srcZ"}
    assert abs(out["src0"].excess_nll) < 1e-9  # reference vs itself
    assert out["srcZ"].excess_nll > 0.5  # all-OOV is genuinely harder
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-5
    # equal token shares here, so the hard domain must strictly win
    assert abs(out["src0"].token_share - 0.5) < 1e-6
    assert out["srcZ"].weight > out["src0"].weight
    # smoothing floor: no domain below smooth/|S|
    assert all(r.weight >= 0.2 / 2 - 1e-9 for r in out.values())


def test_domain_weights_bit_stable_under_partitioning(spark):
    """The r12 driver hash-fail regression guard: domain_weights (and
    the shared bigram scoring core under it) must be BIT-identical —
    raw doubles, no tolerance — whatever the input partitioning and
    shuffle-partition count, because every aggregate is an exact
    integer sum with one terminal double expression. A float avg
    chain fails this under permuted summation order; the integer
    grid cannot."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run() -> list[tuple]:
        out = text.domain_weights(docs_v, train_source="src0")
        return sorted(tuple(r) for r in out.collect())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for nshuf, npart in [(1, 1), (7, 13), (32, 3)]:
            spark.conf.set("spark.sql.shuffle.partitions", str(nshuf))
            docs_v = docs.repartition(npart)
            results.append(run())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[1] == results[2]
    # and the per-source perplexity terminal rides the same core
    spark.conf.set("spark.sql.shuffle.partitions", prev)
    a = sorted(
        tuple(r)
        for r in text.bigram_ppl(docs.repartition(17), "src0").collect()
    )
    b = sorted(
        tuple(r)
        for r in text.bigram_ppl(docs.coalesce(1), "src0").collect()
    )
    assert a == b


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
