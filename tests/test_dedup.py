"""Dedup operators on synthetic corpora with planted duplicates."""

from __future__ import annotations

import pytest

from neo4j_dynagraph_spark.operators import dedup

DOCS = [
    # (doc_id, text, source): 0/1 exact dups; 2 near-dup of 0; 3 distinct
    (0, "the quick brown fox jumps over the lazy dog again and again", "s0"),
    (1, "the quick brown fox jumps over the lazy dog again and again", "s0"),
    (2, "the quick brown fox jumps over the lazy cat again and again", "s0"),
    (3, "completely different words appear inside this other document body", "s0"),
    (4, "tiny", "s0"),  # < 3 tokens: no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_exact_duplicates(docs):
    out = {r.keep_id: r.n_copies for r in dedup.exact_duplicates(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, survivor is min id
    assert out[2] == 1 and out[3] == 1 and out[4] == 1
    assert 1 not in out


def test_minhash_finds_exact_and_near_dups(docs):
    sh = dedup.shingles_df(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = {(r.d1, r.d2) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs  # identical -> identical signatures -> candidate
    assert not any(3 in p for p in pairs)  # distinct doc stays out


def test_minhash_bucket_cap(docs):
    sh = dedup.shingles_df(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    # cap of 1 kills every bucket with >1 doc -> no candidates at all
    assert dedup.lsh_candidate_pairs(sigs, max_bucket=1).count() == 0


def test_simhash_near_dups_close(docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
    assert out[0] == out[1]  # identical text -> identical fingerprint
    ham_near = bin(out[0] ^ out[2]).count("1")
    ham_far = bin(out[0] ^ out[3]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated doc
    assert 4 in out  # 1-token doc still fingerprints (token set {tiny})


def test_ngram_jaccard(docs):
    out = {(r.d1, r.d2): r.jac for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) in out and 0.5 <= out[(0, 2)] < 1.0
    assert not any(3 in k for k in out)


def test_ngram_containment_asymmetric(spark):
    """The case containment exists for: a short doc fully embedded in a
    much longer one has C = 1.0 while Jaccard shrinks with the size gap
    below any near-dup threshold — and an unrelated pair passes
    neither."""
    long_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (0, long_text, "s0"),
        (1, "epsilon zeta eta theta", "s0"),  # contiguous quote of 0
        (2, "totally unrelated words in some other tiny document", "s0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.d1, r.d2): (r.cont, r.jac)
        for r in dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    }
    assert set(got) == {(0, 1)}
    cont, jac = got[(0, 1)]
    assert cont == 1.0  # every shingle of the quote appears in the long doc
    assert jac < 0.5  # Jaccard would have missed it at any dedup threshold
    # Jaccard pairs at the same inputs: nothing passes 0.5
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.5).count() == 0


def test_boilerplate_skew_capped_and_observed(spark):
    # A boilerplate corpus: 40 docs with IDENTICAL text collapse to one
    # signature -> one degenerate bucket per band. The default cap must
    # drop those buckets (no quadratic expansion in one task) and the
    # observation must report the drops — never silent.
    from pyspark.sql import Observation

    boiler = [(i, "same boilerplate text repeated across the whole corpus", "s")
              for i in range(40)]
    docs = spark.createDataFrame(boiler, "doc_id long, text string, source string")
    sigs = dedup.minhash_signatures(dedup.shingles_df(docs), num_hashes=8)

    pairs = dedup.lsh_candidate_pairs(sigs, max_bucket=8)
    assert pairs.count() == 0  # every bucket holds all 40 docs: dropped
    # guaranteed accounting path (AQE can swallow Observation metrics
    # when the whole result goes empty — lsh_bucket_stats cannot lose)
    stats = dedup.lsh_bucket_stats(sigs, max_bucket=8).first()
    assert stats.n_dropped_buckets == 4  # one per band
    assert stats.n_dropped_docs == 160  # 40 docs x 4 bands
    assert stats.max_bucket_seen == 40

    # under the cap nothing is dropped, all pairs survive, and the
    # piggybacked Observation metrics arrive with the action
    obs = Observation("lsh_no_drops")
    pairs2 = dedup.lsh_candidate_pairs(sigs, max_bucket=64, observation=obs)
    assert pairs2.count() == 40 * 39 // 2
    assert obs.get["n_dropped_buckets"] == 0
    assert obs.get["max_bucket_seen"] == 40


def test_prefix_jaccard_join_complete_vs_brute_force(spark):
    """The prefix filter must find EXACTLY the brute-force J >= t set."""
    import itertools

    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.dedup import prefix_jaccard_join

    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",          # J=4/6 with 0
        "alpha beta gamma delta epsilon",       # exact dup of 0: J=1
        "omega psi chi phi upsilon",
        "omega psi chi phi upsilon tau",        # J=5/6 with 3
        "unrelated words entirely different here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    t = 0.8
    got = {
        (r["d1"], r["d2"]): r["jac"]
        for r in prefix_jaccard_join(docs, threshold=t).collect()
    }
    sets = [set(x.split()) for x in texts]
    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= t:
            want[(a, b)] = round(j, 6)
    assert got == want and (0, 2) in got and got[(0, 2)] == 1.0


def test_prefix_jaccard_join_rejects_bad_threshold(spark):
    import pytest as _pytest

    from neo4j_dynagraph_spark.operators.dedup import prefix_jaccard_join

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    for bad in (0.0, 1.5, -0.2):
        with _pytest.raises(ValueError):
            prefix_jaccard_join(docs, threshold=bad)


def test_dup_span_stats_planted(spark):
    rows = [
        # 0 and 1 identical -> every span cross-doc duplicated
        (0, "alpha beta gamma delta epsilon zeta", "s0"),
        (1, "alpha beta gamma delta epsilon zeta", "s0"),
        # 2 shares its first 3-gram with 0/1, rest unique
        (2, "alpha beta gamma unique tail words here", "s1"),
        # 3 fully unique
        (3, "nothing here matches any other document at all", "s1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in dedup.dup_span_stats(docs).collect()}
    assert out[0].dup_frac == 1.0 and out[1].dup_frac == 1.0
    assert out[3].dup_frac == 0.0
    # doc 2: 5 shingle positions, exactly 1 ("alpha beta gamma") duplicated
    assert out[2].n_pos == 5 and out[2].n_dup_pos == 1
    assert out[2].dup_frac == 0.2


def test_dup_span_stats_intra_doc_repeat_not_dup(spark):
    # a shingle repeated WITHIN one doc only is not cross-doc duplicated
    rows = [(0, "x y z x y z", "s0"), (1, "totally different words here", "s0")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in dedup.dup_span_stats(docs).collect()}
    assert out[0].n_dup_pos == 0 and out[0].dup_frac == 0.0


def test_remove_dup_spans_rewrites_only_cross_doc(spark):
    import hashlib

    from neo4j_dynagraph_spark.operators import dedup

    # docs 1 and 2 share the span "alpha beta gamma"; doc 3 is clean.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta alpha beta gamma eta"),
            (3, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.remove_dup_spans(docs).collect()}
    # doc 1: positions 0-2 covered -> tokens 0,1,2 dropped
    assert out[1].n_removed == 3
    assert (
        out[1].rebuilt_md5
        == hashlib.md5(b"delta epsilon").hexdigest()
    )
    # doc 2: span starts at 1 -> tokens 1,2,3 dropped
    assert out[2].n_removed == 3
    assert out[2].rebuilt_md5 == hashlib.md5(b"zeta eta").hexdigest()
    # doc 3 untouched, rebuild == original tokens
    assert out[3].n_removed == 0
    assert (
        out[3].rebuilt_md5
        == hashlib.md5(b"one two three four five").hexdigest()
    )


def test_remove_dup_spans_within_doc_repeat_not_removed(spark):
    from neo4j_dynagraph_spark.operators import dedup

    # the repeated 3-gram lives in ONE doc only -> cross-doc test says
    # keep (within-doc repetition is q_repetition's job, not dedup's)
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),
            (2, "totally different words here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.remove_dup_spans(docs).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 0


def test_exact_dup_spans_merges_maximal_spans(spark):
    # shared 7-token block S inside two otherwise-different docs;
    # span=5 -> dup window starts {5,6,7} / {2,3,4} merge into ONE
    # maximal span of exactly len(S)=7 in each doc
    s = "s1 s2 s3 s4 s5 s6 s7"
    rows = [
        (0, f"u1 u2 u3 u4 u5 {s} t1 t2", "s0"),
        (1, f"w1 w2 {s} v1", "s1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in dedup.exact_dup_spans(docs, span=5).collect()}
    assert len(out) == 2
    assert (out[0].span_start, out[0].span_end, out[0].span_len) == (5, 11, 7)
    assert (out[1].span_start, out[1].span_end, out[1].span_len) == (2, 8, 7)


def test_exact_dup_spans_separate_islands_stay_separate(spark):
    # two shared 5-token blocks A and B with a unique 3-token gap in
    # doc 0; doc 1 carries A, doc 2 carries B -> doc 0 reports TWO
    # spans (the bridge windows contain unique tokens, so no window
    # spans the gap)
    a = "a1 a2 a3 a4 a5"
    b = "b1 b2 b3 b4 b5"
    rows = [
        (0, f"{a} g1 g2 g3 {b}", "s0"),
        (1, f"x1 {a} x2 x3 x4", "s1"),
        (2, f"y1 y2 y3 y4 {b}", "s1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    spans = sorted(
        (r.span_start, r.span_end)
        for r in dedup.exact_dup_spans(docs, span=5).collect()
        if r.doc_id == 0
    )
    assert spans == [(0, 4), (8, 12)]


def test_exact_dup_spans_within_doc_repeat_not_flagged(spark):
    # a block repeated twice WITHIN one doc (min==max doc) is not a
    # cross-doc span
    a = "r1 r2 r3 r4 r5"
    rows = [
        (0, f"{a} q1 q2 {a}", "s0"),
        (1, "entirely different words all the way through here", "s0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert dedup.exact_dup_spans(docs, span=5).count() == 0


def test_exact_dup_spans_rejects_bad_span(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(0, "a b", "s")], "doc_id long, text string, source string")
    with _pytest.raises(ValueError):
        dedup.exact_dup_spans(docs, span=1)


def test_remove_exact_dup_spans_matches_span_audit(spark):
    # the act half must remove EXACTLY the tokens the audit half
    # reports as covered: n_removed(doc) == sum of span_len(doc)
    s = "s1 s2 s3 s4 s5 s6 s7"
    rows = [
        (0, f"u1 u2 u3 u4 u5 {s} t1 t2", "s0"),
        (1, f"w1 w2 {s} v1", "s1"),
        (2, "entirely different words all the way through here", "s0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    removed = {
        r.doc_id: r for r in dedup.remove_exact_dup_spans(docs, span=5).collect()
    }
    spans = {}
    for r in dedup.exact_dup_spans(docs, span=5).collect():
        spans[r.doc_id] = spans.get(r.doc_id, 0) + r.span_len
    assert removed[0].n_removed == spans[0] == 7
    assert removed[1].n_removed == spans[1] == 7
    assert removed[2].n_removed == 0 and 2 not in spans
    # rebuilt text of doc 1 is its unique tokens only
    import hashlib

    assert removed[1].rebuilt_md5 == hashlib.md5(b"w1 w2 v1").hexdigest()


def test_soft_dedup_reweights_planted_duplicates(spark):
    """Planted corpus: source A is one doc repeated 4x (effective
    mass 1 doc), source B is 2 unique docs, one shared with A's
    content (that doc's group size is 5 across sources). Weights are
    1/group-size on the 1e-6 grid."""
    from neo4j_dynagraph_spark.operators import dedup

    rows = (
        [(i, "same text here", "A") for i in range(4)]
        + [(10, "same text here", "B"), (11, "unique words only", "B")]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in dedup.soft_dedup(d).collect()}
    assert out["A"].n_docs == 4 and out["A"].dup_docs == 4
    assert out["B"].n_docs == 2 and out["B"].dup_docs == 1
    # group size for 'same text here' is 5 (4 in A + 1 in B)
    assert abs(out["A"].effective_docs - 4 * 0.2) < 1e-6
    assert abs(out["B"].effective_docs - (0.2 + 1.0)) < 1e-6
    # token mass: 3 tokens per doc
    assert abs(out["A"].effective_tokens - 4 * 3 * 0.2) < 1e-5
    assert abs(out["B"].effective_tokens - (3 * 0.2 + 3.0)) < 1e-5


def test_stream_soft_dedup_multibatch_equals_batch(spark, tmp_path):
    """The soft-dedup streaming twin, one file per micro-batch, must
    equal batch soft_dedup bit-for-bit: a duplicate whose copies
    arrive in DIFFERENT batches (the late-arrival reweight the store
    exists for) plus a within-batch duplicate group."""
    import glob
    import os
    import shutil

    from neo4j_dynagraph_spark.operators.dedup import soft_dedup
    from neo4j_dynagraph_spark.streaming.soft_dedup import stream_soft_dedup

    src = tmp_path / "docs"
    src.mkdir()
    shards = [
        [(0, "shared boilerplate text", "A"), (1, "unique alpha words", "A")],
        [(2, "shared boilerplate text", "B"), (3, "shared boilerplate text", "B")],
        [(4, "unique beta words", "B"), (5, "shared boilerplate text", "A")],
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
    streamed = stream_soft_dedup(
        spark,
        str(src),
        schema,
        store_root=str(tmp_path / "sd_store"),
        max_files_per_trigger=1,
    )
    batch = soft_dedup(spark.read.parquet(str(src)))
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) == 2
    by_src = {r[0]: r for r in s_rows}
    # 'shared boilerplate text' has 4 copies across batches/sources:
    # A holds 2 of them (weight 0.25 each) + 1 unique doc
    assert abs(by_src["A"][3] - (2 * 0.25 + 1.0)) < 1e-6
    assert by_src["A"][2] == 2 and by_src["B"][2] == 2  # dup_docs
