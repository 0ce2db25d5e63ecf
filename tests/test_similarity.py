"""Similarity search: brute-force exactness vs numpy; LSH recall."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from neo4j_dynagraph_spark.operators import similarity
from neo4j_dynagraph_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return similarity.as_double_vec(load_table(spark, SF_SMALL, "embeddings"))


def _queries(emb, n=3):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.select("vec_id", "v").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.v for r in rows])
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    got = similarity.brute_force_topk(emb, _queries(emb), k=5).collect()
    for qid in (0, 1, 2):
        qi = np.where(ids == qid)[0][0]
        sims = matn @ matn[qi]
        sims[qi] = -np.inf  # exclude self
        expect = set(ids[np.argsort(-sims)[:5]])
        mine = {r.cid for r in got if r.qid == qid}
        assert mine == expect, f"qid {qid}: {mine} != {expect}"
        # rank 1 sim value matches numpy to rounding
        top = next(r for r in got if r.qid == qid and r.rank == 1)
        assert abs(top.sim - float(np.max(sims))) < 1e-5


def test_lsh_ann_recall(emb):
    exact = similarity.brute_force_topk(emb, _queries(emb), k=5).collect()
    approx = similarity.lsh_bucketed_topk(emb, _queries(emb), k=5, n_planes=4).collect()
    exact_set = {(r.qid, r.cid) for r in exact}
    approx_set = {(r.qid, r.cid) for r in approx}
    # 4 planes / 16 buckets over 500 vecs: expect some but not full recall;
    # assert it's functioning (non-empty, only valid pairs, sane sims)
    assert approx_set, "LSH returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.0
    assert all(-1.0001 <= r.sim <= 1.0001 for r in approx)


def test_bucket_determinism(emb):
    b1 = similarity.hyperplane_buckets(emb.limit(50)).collect()
    b2 = similarity.hyperplane_buckets(emb.limit(50)).collect()
    assert {(r.vec_id, r.bucket) for r in b1} == {(r.vec_id, r.bucket) for r in b2}


def test_ivf_full_probe_is_exact(emb):
    """With nprobe == n_centroids every cell is probed, so IVF must
    reproduce the brute-force answer exactly — the strongest possible
    check that assign/probe/re-rank lose nothing structurally."""
    exact = similarity.brute_force_topk(emb, _queries(emb), k=5).collect()
    full = similarity.ivf_topk(
        emb, _queries(emb), k=5, n_centroids=8, nprobe=8
    ).collect()
    assert [(r.qid, r.rank, r.cid, r.sim) for r in exact] == [
        (r.qid, r.rank, r.cid, r.sim) for r in full
    ]


def test_ivf_partial_probe_subset(emb):
    """nprobe < n_centroids results are a subset of the probed-cell
    candidates and carry true (exact) sims: every returned pair must
    appear in the brute-force ranking with the identical sim."""
    exact_sims = {
        (r.qid, r.cid): r.sim
        for r in similarity.brute_force_topk(emb, _queries(emb), k=500).collect()
    }
    approx = similarity.ivf_topk(
        emb, _queries(emb), k=5, n_centroids=32, nprobe=4
    ).collect()
    assert approx, "IVF returned nothing"
    for r in approx:
        assert exact_sims[(r.qid, r.cid)] == r.sim


def test_near_dup_bucketed_subset_of_exact(emb):
    exact = similarity.cosine_near_dup_pairs(emb, threshold=0.3).collect()
    bucketed = similarity.cosine_near_dup_pairs(
        emb, threshold=0.3, use_buckets=True, n_planes=2
    ).collect()
    exact_set = {(r.id1, r.id2) for r in exact}
    bucket_set = {(r.id1, r.id2) for r in bucketed}
    assert exact_set, "no near-dup pairs at threshold 0.3"
    assert bucket_set <= exact_set
    assert all(r.id1 < r.id2 for r in exact)


def test_pandas_path_equals_jvm_path(emb):
    """The Arrow/mapInPandas scorer must agree with the JVM expression
    path on membership and ranks (sims to 1e-5: numpy matmul and
    zip_with/aggregate fold sum in different orders)."""
    jvm = similarity.brute_force_topk(emb, _queries(emb), k=5).collect()
    arrow = similarity.pandas_cosine_topk(emb, _queries(emb), k=5).collect()
    assert [(r.qid, r.rank, r.cid) for r in jvm] == [
        (r.qid, r.rank, r.cid) for r in arrow
    ]
    for a, b in zip(jvm, arrow):
        assert abs(a.sim - b.sim) < 1e-5


def test_ivf_layout_prunes_partitions(spark, emb, tmp_path):
    """The materialized cell layout must turn a probe into partition
    pruning — reading nprobe cells touches only those directories."""
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    out = str(tmp_path / "ivf")
    similarity.write_ivf_corpus(emb, cents, out)
    stored = spark.read.parquet(out)
    probe = stored.where(F.col("cell").isin([0, 3]))
    from neo4j_dynagraph_spark import plans

    s = plans.plan_str(probe, "formatted")
    assert "PartitionFilters" in s and "cell" in s.split("PartitionFilters", 1)[1][:200]
    # membership: probed rows are exactly the vectors homed to cells 0/3
    assign = similarity.ivf_assign(emb, cents, nprobe=1)
    want = {r.vec_id for r in assign.where(F.col("cell").isin([0, 3])).collect()}
    assert {r.vec_id for r in probe.collect()} == want


def test_multi_table_lsh_improves_recall(emb):
    """OR-amplification: candidates found in ANY table — recall with 3
    tables must be >= single-table recall on identical planes."""
    exact = {(r.qid, r.cid) for r in
             similarity.brute_force_topk(emb, _queries(emb), k=5).collect()}
    def recall(n_tables):
        got = {(r.qid, r.cid) for r in similarity.lsh_bucketed_topk(
            emb, _queries(emb), k=5, n_planes=6, n_tables=n_tables).collect()}
        return len(exact & got) / len(exact)
    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 > 0


def test_kmeans_fixed_matches_numpy(emb):
    """Differential: replay init + 2 Lloyd rounds + final assignment in
    numpy with the same 1e-9 rounding; assignments must agree exactly."""
    rows = sorted(emb.select("vec_id", "v").collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    mat = np.array([r.v for r in rows], dtype=np.float64)
    k, n_iter = 8, 2
    cent = mat[:k].copy()  # init: k smallest vec_ids
    cids = np.arange(1, k + 1)

    def assign(c, cc):
        d2 = np.round(((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), 9)
        # argmin with cid tie-break: lexicographic over (d2, cid)
        best = []
        for i in range(len(mat)):
            j = min(range(len(cc)), key=lambda j: (d2[i, j], cc[j]))
            best.append(cc[j])
        return np.array(best)

    for _ in range(n_iter):
        a = assign(cent, cids)
        new_cent, new_cids = [], []
        for c in sorted(set(a)):
            new_cent.append(np.round(mat[a == c].mean(axis=0), 9))
            new_cids.append(c)
        cent, cids = np.array(new_cent), np.array(new_cids)
    a = assign(cent, cids)
    want = dict(zip(ids, (int(x) for x in a)))

    got = {
        r.vec_id: r.cluster
        for r in similarity.kmeans_fixed(emb, k=k, n_iter=n_iter).collect()
    }
    assert got == want


def test_semantic_dedup_keep_rule(emb):
    """Every dropped vector has a lower-id same-cluster mate above the
    threshold; every kept vector has none (rule replayed via numpy)."""
    thr = 0.2  # lower than the registry's 0.4 so the small SF drops some
    out = similarity.semantic_dedup(emb, k=8, n_iter=2, threshold=thr).collect()
    assert len(out) > 0 and any(not r.keep for r in out)
    rows = {r.vec_id: r for r in out}
    vecs = {r.vec_id: np.array(r.v) for r in emb.select("vec_id", "v").collect()}

    def sim(a, b):
        va, vb = vecs[a], vecs[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    for r in out:
        mates = [
            o.vec_id
            for o in out
            if o.cluster == r.cluster and o.vec_id < r.vec_id
        ]
        has_near = any(sim(m, r.vec_id) > thr for m in mates)
        assert r.keep == (not has_near), r


def test_pca_top_component_planted_direction(spark):
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators.similarity import pca_top_component

    # all mass along (0.6, 0.8): the top component must recover it
    # exactly with var_ratio = 1
    rows = [(i, [0.6 * t, 0.8 * t]) for i, t in enumerate([-2.0, -1.0, 1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r["dim"]: r for r in pca_top_component(emb, n_iter=10).collect()}
    assert abs(abs(out[0]["loading"]) - 0.6) < 1e-6
    assert abs(abs(out[1]["loading"]) - 0.8) < 1e-6
    # same sign pattern as the generating direction (up to global flip)
    assert out[0]["loading"] * out[1]["loading"] > 0
    assert out[0]["var_ratio"] == 1.0
    # eigenvalue = total variance: sum t^2 = 10 (mean is 0)
    assert abs(out[0]["eigenvalue"] - 10.0) < 1e-6


def test_pca_rejects_bad_iter(spark):
    import pytest as _pytest

    from neo4j_dynagraph_spark.operators.similarity import pca_top_component

    emb = spark.createDataFrame([(0, [1.0])], "vec_id long, v array<double>")
    with _pytest.raises(ValueError):
        pca_top_component(emb, n_iter=0)


def test_knn_label_accuracy_clean_clusters(spark):
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators import similarity

    # two tight clusters: label 0 near (1,0), label 1 near (0,1)
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 0))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, v array<double>, label int"
    )
    corpus = emb.select("vec_id", "v")
    queries = emb.where(F.col("vec_id").isin(0, 7)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    labels = emb.select("vec_id", "label")
    out = {
        r.vec_id: r
        for r in similarity.knn_label_accuracy(corpus, queries, labels, k=3).collect()
    }
    assert out[0].pred_label == 0 and out[0].correct
    assert out[7].pred_label == 1 and out[7].correct
    assert out[0].n_votes == 3  # all 3 neighbors from its own cluster


def test_hard_negatives_excludes_same_label(spark):
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.operators import similarity

    rows = [(i, [1.0, 0.01 * i], 0) for i in range(4)]
    rows += [(i, [0.01 * (i - 4), 1.0], 1) for i in range(4, 8)]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>, label int")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    out = similarity.hard_negatives(
        emb.select("vec_id", "v"), queries, emb.select("vec_id", "label"), k=3
    ).collect()
    assert len(out) == 3
    assert all(r.neg_label == 1 and r.anchor_label == 0 for r in out)
    # hardest negative = the label-1 vector with the largest x component
    assert out[0].cid == 7


def test_cooccurrence_topk_basic(spark):
    import pyspark.sql.functions as F  # noqa: F401

    from neo4j_dynagraph_spark.operators import similarity

    # baskets: {A,B,C} x2 shares A-B twice; C appears once with each
    rows = [
        (1, "A"), (1, "B"), (1, "C"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
        (3, "A"),  # duplicate membership must not inflate counts
    ]
    df = spark.createDataFrame(rows, "bk int, item string")
    out = {
        (r.item1, r.item2): r
        for r in similarity.cooccurrence_topk(df, "bk", "item", min_co=2, k=10).collect()
    }
    # n(A)=3, n(B)=2, n(C)=2; co(A,B)=2, co(A,C)=2, co(B,C)=1 (< min_co)
    assert set(out) == {("A", "B"), ("A", "C")}
    ab = out[("A", "B")]
    assert ab.n_co == 2
    assert abs(ab.cosine - 2 / (3 * 2) ** 0.5) < 1e-6


def test_cooccurrence_topk_k_cut_deterministic(spark):
    from neo4j_dynagraph_spark.operators import similarity

    # two pairs with IDENTICAL cosine — the k=1 cut must break ties
    # on (item1, item2), not partition luck
    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "C"), (3, "D"),
        (4, "C"), (4, "D"),
    ]
    df = spark.createDataFrame(rows, "bk int, item string")
    out = similarity.cooccurrence_topk(df, "bk", "item", min_co=2, k=1).collect()
    assert len(out) == 1
    assert (out[0].item1, out[0].item2) == ("A", "B")


def test_pq_encode_identical_vectors_share_codes(spark):
    from neo4j_dynagraph_spark.operators import similarity as sim

    # 4-dim vectors, m=2 -> 2-dim subspaces. Vectors 0 and 5 are
    # identical; 1 shares only the FIRST subvector with 0.
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [0.0, 0.0, -10.0, -10.0]),
        (2, [10.0, 10.0, 0.0, 0.0]),
        (3, [10.0, 10.0, -10.0, -10.0]),
        (4, [5.0, 5.0, 5.0, 5.0]),
        (5, [0.0, 0.0, 10.0, 10.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    books = sim.pq_codebooks(corpus, m=2, k=2, n_iter=2)
    codes = {
        (r.vec_id, r.j): r.cid
        for r in sim.pq_encode(corpus, books, m=2).collect()
    }
    assert len(codes) == 12  # 6 vectors x 2 subspaces
    # identical vectors -> identical codes in every subspace
    assert codes[(0, 0)] == codes[(5, 0)] and codes[(0, 1)] == codes[(5, 1)]
    # 0 and 1 share subvector j=0 but differ in j=1
    assert codes[(0, 0)] == codes[(1, 0)]
    assert codes[(0, 1)] != codes[(1, 1)]


def test_pq_adc_exact_duplicate_is_nearest_with_zero_distance(spark):
    from neo4j_dynagraph_spark.operators import similarity as sim

    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [0.0, 1.0, -10.0, -9.0]),
        (2, [10.0, 10.0, 0.0, 1.0]),
        (3, [9.0, 10.0, -10.0, -10.0]),
        (4, [0.1, 0.0, 10.0, 9.9]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0, 10.0, 10.0])], "qid long, qv array<double>"
    )
    out = sim.pq_adc_topk(corpus, queries, topk=3, m=2, k=2, n_iter=2).collect()
    # the query equals vector 0 exactly: its code-reconstructed
    # distance must be the minimum, and 4 (near-dup) shares its codes
    assert out[0].cid in (0, 4) and out[0].rank == 1
    assert out[0].adc_d2 <= out[-1].adc_d2


def test_pq_topk_pretrained_codebooks_equal_self_trained(spark):
    # r13: pq_adc_topk / ivfpq_topk accept a pre-trained codebooks
    # frame (shared-training path used by q_pq_recall) — passing the
    # books trained with the SAME params must be row-identical to the
    # self-training default in both consumers
    from neo4j_dynagraph_spark.operators import similarity as sim

    rows = [
        (i, [float((i * 7) % 5) + 1.0, float((i * 3) % 4) + 1.0,
             float((i * 11) % 6) + 1.0, float(i % 3) + 1.0])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 0.0]), (101, [4.0, 0.0, 5.0, 2.0])],
        "qid long, qv array<double>",
    )
    books = sim.pq_codebooks(corpus, m=2, k=4, n_iter=2)
    codes = sim.pq_encode(corpus, books, m=2)
    a1 = sorted(map(tuple, sim.pq_adc_topk(
        corpus, queries, topk=3, m=2, k=4, n_iter=2).collect()))
    a2 = sorted(map(tuple, sim.pq_adc_topk(
        corpus, queries, topk=3, m=2, k=4, n_iter=2,
        codebooks=books, codes=codes).collect()))
    assert a1 == a2
    b1 = sorted(map(tuple, sim.ivfpq_topk(
        corpus, queries, topk=3, n_centroids=8, nprobe=2,
        m=2, k=4, n_iter=2).collect()))
    b2 = sorted(map(tuple, sim.ivfpq_topk(
        corpus, queries, topk=3, n_centroids=8, nprobe=2,
        m=2, k=4, n_iter=2, codebooks=books, codes=codes).collect()))
    assert b1 == b2


def test_pq_rejects_bad_params(spark):
    import pytest as _pytest

    from neo4j_dynagraph_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, v array<double>"
    )
    for m, k, n in ((0, 2, 1), (2, 0, 1), (2, 2, -1)):
        with _pytest.raises(ValueError):
            sim.pq_codebooks(corpus, m=m, k=k, n_iter=n)


def test_sq_codes_in_range_and_calibration_shape(spark, emb):
    stats = similarity.sq_stats_row(emb)
    srow = stats.collect()[0]
    dim = emb.select(F.size("v")).first()[0]
    assert len(srow.mns) == len(srow.mxs) == dim
    assert all(a <= b for a, b in zip(srow.mns, srow.mxs))
    codes = similarity.sq_encode(emb, stats)
    bad = codes.where(
        F.exists("codes", lambda c: (c < 0) | (c > similarity.SQ_LEVELS))
    ).count()
    assert bad == 0


def test_sq_reconstruction_error_bounded(spark, emb):
    # |x - recon(code(x))| <= half a quantization step per dimension
    stats = similarity.sq_stats_row(emb)
    joined = emb.join(F.broadcast(stats)).select(
        "vec_id",
        "v",
        F.expr(similarity._SQ_CODE_EXPR.format(v="v")).alias("codes"),
        "mns",
        "mxs",
    )
    err = joined.select(
        F.expr(
            "aggregate(transform(codes, (c, i) -> CASE WHEN mxs[i] = mns[i] "
            "THEN abs(v[i] - mns[i]) ELSE abs(v[i] - "
            f"(mns[i] + CAST(c AS DOUBLE) * (mxs[i] - mns[i]) / {similarity.SQ_LEVELS}.0)) "
            f"- 0.5 * (mxs[i] - mns[i]) / {similarity.SQ_LEVELS}.0 - 1e-9 END), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, x))"
        ).alias("worst")
    )
    assert err.agg(F.max("worst")).first()[0] <= 0


def test_sq_constant_dimension_codes_zero(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0]), (2, [1.0, 6.0])], "vec_id long, v array<double>"
    )
    stats = similarity.sq_stats_row(df)
    codes = {r.vec_id: r.codes for r in similarity.sq_encode(df, stats).collect()}
    # dim 0 is constant -> code 0 everywhere; dim 1 spans [5, 7]
    assert all(c[0] == 0 for c in codes.values())
    assert codes[0][1] == 0 and codes[1][1] == similarity.SQ_LEVELS


def test_sq_exact_duplicate_is_nearest(spark, emb):
    # plant an exact duplicate of vec 0 and ensure SQ ranks it first
    dup = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    corpus = emb.select("vec_id", "v").unionByName(dup)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    top = similarity.sq_adc_topk(corpus, q, topk=1).collect()
    # asymmetric distance: the query keeps exact floats, so even an
    # exact duplicate sits at the reconstruction error, not 0 — but it
    # still ranks first and the error is bounded by d*(step/2)^2
    assert top[0].cid == 1_000_000 and top[0].sq_d2 < 1e-3


def test_ivf_tuning_monotone_in_nprobe(spark):
    from neo4j_dynagraph_spark.queries import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["q_ivf_tuning"].fn(spark, SF_SMALL).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.qid, {})[r.nprobe] = r
    for qid, d in by_probe.items():
        assert set(d) == {1, 2, 4}
        # probing more cells can only widen the candidate set and
        # therefore never lowers recall
        assert d[1].n_cands <= d[2].n_cands <= d[4].n_cands
        assert d[1].recall <= d[2].recall <= d[4].recall


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
