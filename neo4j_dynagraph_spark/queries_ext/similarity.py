"""Embedding similarity family: cosine top-k, LSH/IVF ANN, recall grading,
k-means twins, PCA, kNN, co-occurrence.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import similarity
from neo4j_dynagraph_spark.queries import query
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub
from neo4j_dynagraph_spark.sources.tables import load_table



# ------------------------------------------------------------ similarity


@query(
    "q_embed_topk",
    oracle="""
WITH base AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qe FROM base WHERE vec_id < 5),
pairs AS (SELECT qid, vec_id AS cid, qe, embedding AS ce
          FROM base CROSS JOIN q WHERE vec_id != qid),
un AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
       FROM pairs),
dots AS (SELECT qid, cid, sum(x*y) AS d, sum(x*x) AS nx, sum(y*y) AS ny
         FROM un GROUP BY 1, 2),
sims AS (SELECT qid, cid, d / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM dots),
ranked AS (SELECT qid, cid, sim_raw,
                  row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rank
           FROM sims)
SELECT qid, rank, cid, round(sim_raw, 6) AS sim
FROM ranked WHERE rank <= 5 ORDER BY qid, rank
""",
    bench=True,
)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id<5 — the exact
    ANN baseline. JVM-side zip_with/aggregate dot products; broadcast
    query side."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.brute_force_topk(emb, queries_df, k=5)


@query(
    "q_dedup_embed",
    oracle="""
WITH base AS (SELECT vec_id, embedding FROM embeddings),
pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.embedding AS ae, b.embedding AS be
          FROM base a JOIN base b ON a.vec_id < b.vec_id),
un AS (SELECT id1, id2, CAST(unnest(ae) AS DOUBLE) AS x, CAST(unnest(be) AS DOUBLE) AS y
       FROM pairs),
d AS (SELECT id1, id2, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
      FROM un GROUP BY 1, 2),
s AS (SELECT id1, id2, dot / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM d)
SELECT id1, id2, round(sim_raw, 6) AS sim FROM s
WHERE sim_raw > 0.4 ORDER BY id1, id2
""",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim > 0.4, canonical
    id1 < id2) — the semantic-dedup complement to MinHash/SimHash.
    Exact all-pairs: the within-block VERIFY primitive, quadratic by
    construction — q_dedup_embed_bucketed is the corpus-scale path."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4)


def _hyperplane_bucket_sql(n_planes: int, table: int = 0) -> str:
    """DuckDB replay of similarity.hyperplane_buckets: plane p's weight
    for dim d is (hash64('{seed}{p}d{d}') % 2001 - 1000) / 1000 (60-bit
    hash, integer modulo in both engines), bucket = packed sign bits of
    the projections; `table` selects the independent per-LSH-table hash
    family (table 0 keeps the historical 'p{p}d' seeds)."""
    seed = f"t{table}p" if table else "p"
    terms = []
    for p in range(n_planes):
        proj = (
            "list_sum(list_transform(range(len(e)), d -> e[d+1] * "
            f"((('0x' || substr(md5('{seed}{p}d' || d), 1, 15))::BIGINT % 2001 - 1000)"
            " / 1000.0)))"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(terms)


@query(
    "q_dedup_embed_bucketed",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
b AS (SELECT vec_id, e, ({_hyperplane_bucket_sql(4)}) AS bucket FROM base),
pairs AS (SELECT a.vec_id AS id1, c.vec_id AS id2, a.e AS ae, c.e AS ce
          FROM b a JOIN b c ON a.vec_id < c.vec_id AND a.bucket = c.bucket),
un AS (SELECT id1, id2, unnest(ae) AS x, unnest(ce) AS y FROM pairs),
d AS (SELECT id1, id2, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
      FROM un GROUP BY 1, 2),
s AS (SELECT id1, id2, dot / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM d)
SELECT id1, id2, round(sim_raw, 6) AS sim FROM s
WHERE sim_raw > 0.4 ORDER BY id1, id2
""",
    bench=True,
)
def q_dedup_embed_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH buckets (4 planes) + exact
    within-bucket verify — the 100 TB path: the bucket equi-join
    replaces q_dedup_embed's all-pairs cross product, so candidate work
    scales with bucket occupancy, not |corpus|^2. The deterministic
    hash-derived hyperplanes are replayed in SQL, so the driver checks
    the WHOLE approximate pipeline (bucketing included) bit-for-bit;
    candidates ⊆ exact and the recall floor are asserted in tests."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    return similarity.cosine_near_dup_pairs(
        emb, threshold=0.4, use_buckets=True, n_planes=4
    )


# shared by q_embed_ann_ivf AND its streaming index-maintenance twin
# q_stream_ivf_assign (queries_ext/streams.py): the drained assign-only
# index is bit-equal to the batch one, so both grade on this oracle
_IVF_ORACLE = """
WITH base AS (SELECT vec_id, embedding FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM base WHERE vec_id < 32),
-- home cell of every corpus vector (argmax cosine to the codebook)
ap AS (SELECT b.vec_id, c.cent_id, b.embedding AS be, c.ce
       FROM base b CROSS JOIN cent c),
au AS (SELECT vec_id, cent_id, CAST(unnest(be) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
       FROM ap),
ad AS (SELECT vec_id, cent_id, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
       FROM au GROUP BY 1, 2),
ar AS (SELECT vec_id, cent_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
       FROM ad),
cells AS (SELECT vec_id AS cid, cent_id AS cell FROM ar WHERE rk = 1),
probes AS (SELECT vec_id AS qid, cent_id AS cell FROM ar WHERE rk <= 4 AND vec_id < 5),
cand AS (SELECT p.qid, c.cid FROM probes p JOIN cells c USING (cell) WHERE c.cid != p.qid),
cu AS (SELECT cand.qid, cand.cid,
              CAST(unnest(q.embedding) AS DOUBLE) AS x, CAST(unnest(b.embedding) AS DOUBLE) AS y
       FROM cand JOIN base q ON q.vec_id = cand.qid JOIN base b ON b.vec_id = cand.cid),
cs AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim_raw
       FROM cu GROUP BY 1, 2),
ranked AS (SELECT qid, cid, sim_raw,
                  row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rank
           FROM cs)
SELECT qid, rank, cid, round(sim_raw, 6) AS sim
FROM ranked WHERE rank <= 5 ORDER BY qid, rank
"""


@query("q_embed_ann_ivf", oracle=_IVF_ORACLE)
def q_embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (32 deterministic seed centroids, nprobe=4, k=5): coarse
    assign -> probe nearest cells -> exact re-rank within cells. The
    codebook is reproducible in SQL, so unlike the hyperplane-LSH
    variant this approximate index is fully oracle-checked."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.ivf_topk(emb, queries_df, k=5, n_centroids=32, nprobe=4)


@query(
    "q_embed_ann_lsh",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
lb0 AS (SELECT vec_id, ({_hyperplane_bucket_sql(8, 0)}) AS bucket FROM base),
lb1 AS (SELECT vec_id, ({_hyperplane_bucket_sql(8, 1)}) AS bucket FROM base),
cand AS (
  SELECT DISTINCT qq.vec_id AS qid, c.vec_id AS cid
  FROM lb0 qq JOIN lb0 c ON c.bucket = qq.bucket
  WHERE qq.vec_id < 5 AND c.vec_id != qq.vec_id
  UNION
  SELECT DISTINCT qq.vec_id, c.vec_id
  FROM lb1 qq JOIN lb1 c ON c.bucket = qq.bucket
  WHERE qq.vec_id < 5 AND c.vec_id != qq.vec_id),
un AS (SELECT cand.qid, cand.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM cand JOIN base qq ON qq.vec_id = cand.qid
       JOIN base b ON b.vec_id = cand.cid),
dots AS (SELECT qid, cid, sum(x*y) AS d, sum(x*x) AS nx, sum(y*y) AS ny
         FROM un GROUP BY 1, 2),
sims AS (SELECT qid, cid, d / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM dots),
ranked AS (SELECT qid, cid, sim_raw,
                  row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, cid) AS rank
           FROM sims)
SELECT qid, rank, cid, round(sim_raw, 6) AS sim
FROM ranked WHERE rank <= 5 ORDER BY qid, rank
""",
)
def q_embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via deterministic random-hyperplane LSH buckets
    (8 planes x 2 tables, OR-amplified) + exact re-rank over deduped
    candidates. The DuckDB oracle replays BOTH hash families'
    bucketings (`_hyperplane_bucket_sql` per table), the OR-union
    candidate set, and the exact re-rank — upgrading this entry from
    rows-only to hash-matched; recall vs q_embed_topk and the
    multi-table recall gain are additionally asserted in tests."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.lsh_bucketed_topk(emb, queries_df, k=5, n_planes=8, n_tables=2)


@query(
    "q_ann_recall",
    oracle=f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 5),
-- exact cosine top-10 (the ground truth)
xp AS (SELECT q.qid, b.vec_id AS cid, q.qe, b.e AS ce
       FROM base b CROSS JOIN q WHERE b.vec_id != q.qid),
xu AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM xp),
xd AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
       FROM xu GROUP BY 1, 2),
xr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM xd),
exact AS (SELECT qid, cid FROM xr WHERE rk <= 10),
-- IVF top-10 (32 seed centroids, nprobe=4): coarse assign -> probe -> re-rank
cent AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 32),
ap AS (SELECT b.vec_id, c.cent_id, b.e AS be, c.ce FROM base b CROSS JOIN cent c),
au AS (SELECT vec_id, cent_id, unnest(be) AS x, unnest(ce) AS y FROM ap),
ad AS (SELECT vec_id, cent_id, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
       FROM au GROUP BY 1, 2),
ar AS (SELECT vec_id, cent_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
       FROM ad),
cells AS (SELECT vec_id AS cid, cent_id AS cell FROM ar WHERE rk = 1),
probes AS (SELECT vec_id AS qid, cent_id AS cell FROM ar WHERE rk <= 4 AND vec_id < 5),
icand AS (SELECT DISTINCT p.qid, c.cid FROM probes p JOIN cells c USING (cell)
          WHERE c.cid != p.qid),
iu AS (SELECT icand.qid, icand.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM icand JOIN base qq ON qq.vec_id = icand.qid
       JOIN base b ON b.vec_id = icand.cid),
idd AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
        FROM iu GROUP BY 1, 2),
ir AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM idd),
ivf AS (SELECT qid, cid FROM ir WHERE rk <= 10),
-- hyperplane-LSH top-10 (4 planes x 2 OR-amplified tables) -> re-rank
lb0 AS (SELECT vec_id, ({_hyperplane_bucket_sql(4, 0)}) AS bucket FROM base),
lb1 AS (SELECT vec_id, ({_hyperplane_bucket_sql(4, 1)}) AS bucket FROM base),
lcand AS (
  SELECT DISTINCT qq.vec_id AS qid, c.vec_id AS cid
  FROM lb0 qq JOIN lb0 c ON c.bucket = qq.bucket
  WHERE qq.vec_id < 5 AND c.vec_id != qq.vec_id
  UNION
  SELECT DISTINCT qq.vec_id, c.vec_id
  FROM lb1 qq JOIN lb1 c ON c.bucket = qq.bucket
  WHERE qq.vec_id < 5 AND c.vec_id != qq.vec_id),
lu AS (SELECT lcand.qid, lcand.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM lcand JOIN base qq ON qq.vec_id = lcand.qid
       JOIN base b ON b.vec_id = lcand.cid),
ld AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
       FROM lu GROUP BY 1, 2),
lr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM ld),
lsh AS (SELECT qid, cid FROM lr WHERE rk <= 10),
-- recall@10 per (method, query)
m AS (SELECT 'ivf' AS method, qid, cid FROM ivf
      UNION ALL SELECT 'lsh', qid, cid FROM lsh),
methods AS (SELECT unnest(['ivf', 'lsh']) AS method),
ex2 AS (SELECT method, qid, cid FROM exact CROSS JOIN methods)
SELECT x.method, x.qid,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(m.cid) AS BIGINT) AS n_hit,
       round(count(m.cid) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ex2 x LEFT JOIN m ON m.method = x.method AND m.qid = x.qid AND m.cid = x.cid
GROUP BY 1, 2 ORDER BY x.method, x.qid
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the two approximate indexes (IVF nprobe=4 and
    4-plane x 2-table hyperplane LSH — 16 buckets, the recall-biased
    setting the unit tests also pin) against the exact cosine top-10
    — computed entirely as DataFrame joins and aggregates (no collect):
    per (method, query) the overlap of the approximate and exact result
    sets over the exact set size. At 100 TB recall-vs-cost IS the ANN
    operator's spec, so the quality metric ships as a first-class
    query; both index pipelines are deterministic (seed centroids,
    hash-derived hyperplanes), so the oracle replays ground truth, both
    indexes, AND the recall arithmetic end-to-end."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # r13: exact is referenced by n_exact and BOTH per-method
    # semi-joins — 5x10 rows, checkpoint so the brute-force pass
    # executes once instead of 3x
    exact = (
        similarity.brute_force_topk(emb, queries_df, k=10)
        .select("qid", "cid")
        .transform(checkpoint_hub)
    )
    approx = {
        "ivf": similarity.ivf_topk(
            emb, queries_df, k=10, n_centroids=32, nprobe=4
        ).select("qid", "cid"),
        "lsh": similarity.lsh_bucketed_topk(
            emb, queries_df, k=10, n_planes=4, n_tables=2
        ).select("qid", "cid"),
    }
    n_exact = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    parts = []
    for name, adf in approx.items():
        n_hit = (
            exact.join(adf, ["qid", "cid"], "semi")
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        parts.append(
            n_exact.join(n_hit, "qid", "left").select(
                F.lit(name).alias("method"),
                "qid",
                "n_exact",
                F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.withColumn(
        "recall", F.round(F.col("n_hit") / F.col("n_exact").cast("double"), 6)
    ).orderBy("method", "qid")


def _kmeans_cte(k: int = 8, n_iter: int = 2) -> str:
    """DuckDB replay of similarity.kmeans_fixed: deterministic init
    (k smallest vec_ids), n_iter unrolled Lloyd rounds, distances and
    centroid components rounded at 1e-9 exactly as the Spark side.
    Ends with `af` = the final assignment (vec_id, cid)."""
    parts = [
        "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, e AS cv "
        f"FROM (SELECT vec_id, e FROM base ORDER BY vec_id LIMIT {k}))",
    ]
    dist = (
        "round(list_sum(list_transform(range(len(b.e)), "
        "i -> (b.e[i+1] - c.cv[i+1]) * (b.e[i+1] - c.cv[i+1]))), 9)"
    )
    for it in range(n_iter):
        parts.append(
            f"d{it} AS (SELECT b.vec_id, c.cid, {dist} AS d2 "
            f"FROM base b CROSS JOIN c{it} c)"
        )
        parts.append(
            f"a{it} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk "
            f"FROM d{it}) WHERE rk = 1)"
        )
        parts.append(
            f"u{it} AS (SELECT a.cid, t.i AS pos, round(avg(b.e[t.i]), 9) AS m "
            f"FROM a{it} a JOIN base b USING (vec_id), "
            "UNNEST(range(1, len(b.e) + 1)) AS t(i) GROUP BY 1, 2)"
        )
        parts.append(
            f"c{it + 1} AS (SELECT cid, list(m ORDER BY pos) AS cv "
            f"FROM u{it} GROUP BY cid)"
        )
    parts.append(
        f"df AS (SELECT b.vec_id, c.cid, {dist} AS d2 "
        f"FROM base b CROSS JOIN c{n_iter} c)"
    )
    parts.append(
        "af AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk "
        "FROM df) WHERE rk = 1)"
    )
    return ",\n".join(parts)


@query(
    "q_semdedup",
    bench=True,
    oracle=f"""
WITH {_kmeans_cte(8, 2)},
p AS (SELECT x.vec_id AS id1, y.vec_id AS id2
      FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id),
pu AS (SELECT p.id1, p.id2, unnest(b1.e) AS xx, unnest(b2.e) AS yy
       FROM p JOIN base b1 ON b1.vec_id = p.id1
              JOIN base b2 ON b2.vec_id = p.id2),
ps AS (SELECT id1, id2,
              sum(xx*yy) / (sqrt(sum(xx*xx)) * sqrt(sum(yy*yy))) AS sim_raw
       FROM pu GROUP BY 1, 2),
dup AS (SELECT DISTINCT id2 FROM ps WHERE sim_raw > 0.4)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster, (d.id2 IS NULL) AS keep
FROM af a LEFT JOIN dup d ON a.vec_id = d.id2 ORDER BY a.vec_id
""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic fixed-round
    k-means (k=8, 2 Lloyd rounds, init = smallest vec_ids) clusters
    the corpus; within each cluster, vectors with a lower-id
    cluster-mate above cosine 0.4 are dropped (earliest-id survivor).
    The ENTIRE fit is replayed by the oracle — the driver hash-checks
    the clustering, not just the final keep bits. Pair work is bounded
    by the cluster equi-join (~(n/k)^2 per cluster), the learned-
    structure complement of the LSH bucket joins."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    return similarity.semantic_dedup(emb, k=8, n_iter=2, threshold=0.4)


@query(
    "q_cluster_purity",
    oracle=f"""
WITH {_kmeans_cte(8, 2)},
j AS (SELECT a.cid, e.label FROM af a JOIN embeddings e USING (vec_id)),
cl AS (SELECT cid, label, count(*) AS n FROM j GROUP BY 1, 2),
tot AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_vecs,
               CAST(max(n) AS BIGINT) AS n_majority
        FROM cl GROUP BY 1)
SELECT CAST(cid AS BIGINT) AS cluster, n_vecs, n_majority,
       round(n_majority / CAST(n_vecs AS DOUBLE), 6) AS purity
FROM tot ORDER BY cluster
""",
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADE the deterministic k-means fit against the embeddings
    table's ground-truth `label` column: per cluster, size, majority-
    label count, and purity — the standard unsupervised-clustering
    evaluation, produced the same evaluate-your-own-operator way as
    q_ann_recall (ANN) and q_langid_accuracy (lang-id). The oracle
    replays the ENTIRE fit (the shared _kmeans_cte) plus the grading,
    so the purity numbers themselves hash-match. Scale: the fit is the
    map-only broadcast-centroid assignment; grading adds two
    k-bounded aggregates."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    assigned = similarity.kmeans_fixed(emb, k=8, n_iter=2)
    labeled = assigned.join(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label"),
        "vec_id",
    )
    cl = labeled.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        cl.groupBy("cluster")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.max("n").cast("long").alias("n_majority"),
        )
        .select(
            "cluster",
            "n_vecs",
            "n_majority",
            F.round(
                F.col("n_majority") / F.col("n_vecs").cast("double"), 6
            ).alias("purity"),
        )
        .orderBy("cluster")
    )


@query(
    "q_embed_outliers",
    oracle="""
WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
u AS MATERIALIZED (SELECT vec_id, CAST(i AS INT) AS i, v[CAST(i AS INT)] AS x
                   FROM base, UNNEST(range(1, len(v) + 1)) AS r(i)),
m AS (SELECT i, avg(x) AS m FROM u GROUP BY 1),
d AS MATERIALIZED (SELECT vec_id, sqrt(sum((x - m.m) * (x - m.m))) AS dist
                   FROM u JOIN m USING (i) GROUP BY 1),
st AS (SELECT avg(dist) AS mu, stddev_pop(dist) AS sd FROM d)
SELECT vec_id, round(dist, 6) AS dist, round((dist - mu) / sd, 6) AS z
FROM d CROSS JOIN st
ORDER BY round((dist - mu) / sd, 6) DESC, vec_id LIMIT 20
""",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by centroid-distance z-score — the
    curation signal for mislabeled / off-distribution documents
    (prune-before-train). One pass for the per-dim mean (d-row agg,
    broadcast back as an ordered array), one JVM zip_with/aggregate
    projection for each row's distance (no second shuffle of the
    corpus), a 1-row moment broadcast, and TakeOrdered(20) on the
    ROUNDED z (deterministic tie-break on vec_id) so cross-engine
    ulp drift cannot reorder the cut."""
    from neo4j_dynagraph_spark.operators import similarity as sim

    emb = sim.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    mean_arr = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("m"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm"))
        .select(F.transform("sm", lambda s: s["m"]).alias("mv"))
    )
    # r13: dist feeds the moment aggregate AND the z terminal —
    # checkpoint the V-row (id, dist) table so the distance projection
    # + per-dim mean subtree runs once, not twice
    dist = (
        emb.crossJoin(F.broadcast(mean_arr))
        .select(
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "mv", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("dist"),
        )
        .transform(checkpoint_hub)
    )
    st = dist.agg(
        F.avg("dist").alias("mu"), F.stddev_pop("dist").alias("sd")
    )
    z = (F.col("dist") - F.col("mu")) / F.col("sd")
    return (
        dist.crossJoin(F.broadcast(st))
        .select(
            "vec_id",
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
        )
        .orderBy(F.desc("z"), "vec_id")
        .limit(20)
    )


def _pca_oracle(n: int) -> str:
    """Unrolled n-round replay of the power-iteration PCA fit
    (the PageRank/k-means replay-oracle pattern). The multiply-
    referenced CTEs (gram, per-round matvec, per-round vector) are
    AS MATERIALIZED: DuckDB would otherwise INLINE each one per
    reference, and since every round references the previous round's
    vector twice the expansion is exponential -- the inlined tree
    re-opened the source parquet thousands of times (observed as
    'Too many open files') before producing a row."""
    parts = [
        "base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "u AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS INT) AS i, "
        "v[CAST(i AS INT)] AS x FROM base, UNNEST(range(1, len(v) + 1)) AS r(i))",
        "m AS (SELECT i, avg(x) AS m FROM u GROUP BY 1)",
        "c AS MATERIALIZED (SELECT vec_id, u.i, x - m.m AS cx FROM u JOIN m USING (i))",
        "g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.cx * b.cx) AS g "
        "FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2)",
        "v0 AS (SELECT DISTINCT i AS j, 1.0 AS val FROM g)",
    ]
    for r in range(1, n + 1):
        parts.append(
            f"mv{r} AS MATERIALIZED (SELECT g.i, sum(g.g * v.val) AS val "
            f"FROM g JOIN v{r - 1} v ON g.j = v.j GROUP BY 1)"
        )
        parts.append(f"n{r} AS (SELECT sqrt(sum(val * val)) AS n FROM mv{r})")
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT i AS j, val / n AS val "
            f"FROM mv{r} CROSS JOIN n{r})"
        )
    parts.append(
        f"gv AS (SELECT g.i, sum(g.g * v.val) AS gval FROM g "
        f"JOIN v{n} v ON g.j = v.j GROUP BY 1)"
    )
    parts.append(
        f"lam AS (SELECT sum(v.val * gv.gval) AS lam FROM v{n} v "
        f"JOIN gv ON v.j = gv.i)"
    )
    parts.append("tr AS (SELECT sum(g) AS tr FROM g WHERE i = j)")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(v{n}.j AS INT) AS dim, round(v{n}.val, 6) AS loading, "
        f"round(lam, 6) AS eigenvalue, round(lam / tr, 6) AS var_ratio "
        f"FROM v{n} CROSS JOIN lam CROSS JOIN tr ORDER BY dim"
    )


@query("q_embed_pca", oracle=_pca_oracle(10))
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: distributed
    mean-centered gram matrix (outer-product explode with map-side
    partial agg -- shuffle is d^2 keys, corpus read ONCE) + a 10-round
    power iteration run entirely as DataFrames (matvec joins on the
    d^2-row gram table, 1-row norm broadcasts, localCheckpoint per
    round). Returns (dim, loading, eigenvalue, var_ratio). The whole
    fit is replayed by the unrolled-CTE oracle and hash-matches --
    loading vector, eigenvalue, and explained-variance ratio."""
    from neo4j_dynagraph_spark.operators import similarity as sim

    emb = sim.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    return sim.pca_top_component(emb, n_iter=10)


@query(
    "q_knn_accuracy",
    oracle="""
WITH base AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qe FROM base WHERE vec_id < 20),
pairs AS (SELECT qid, vec_id AS cid, qe, embedding AS ce
          FROM base CROSS JOIN q WHERE vec_id != qid),
un AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS x,
              CAST(unnest(ce) AS DOUBLE) AS y FROM pairs),
dots AS (SELECT qid, cid, sum(x*y) AS d, sum(x*x) AS nx, sum(y*y) AS ny
         FROM un GROUP BY 1, 2),
sims AS (SELECT qid, cid, d / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM dots),
ranked AS (SELECT qid, cid,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim_raw DESC, cid) AS rank
           FROM sims),
nn AS (SELECT qid, cid FROM ranked WHERE rank <= 10),
votes AS (SELECT nn.qid, b.label, count(*) AS n_votes
          FROM nn JOIN base b ON b.vec_id = nn.cid GROUP BY 1, 2),
pred AS (SELECT qid, label AS pred_label, n_votes,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY n_votes DESC, label) AS rk
         FROM votes)
SELECT p.qid AS vec_id, b.label AS true_label, p.pred_label,
       CAST(p.n_votes AS BIGINT) AS n_votes,
       (p.pred_label = b.label) AS correct
FROM pred p JOIN base b ON b.vec_id = p.qid
WHERE p.rk = 1 ORDER BY vec_id
""",
)
def q_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label accuracy for the 20 anchor vectors
    vec_id<20, k=10 exact cosine — grades whether the embedding space
    clusters by its ground-truth label (the embedding-quality gate a
    training pipeline runs before trusting semantic dedup / ANN
    retrieval on those vectors). Constant anchor set -> one broadcast
    linear corpus scan; everything downstream is O(k*|Q|). Oracle
    replays neighbors, votes, the smaller-label tie-break, and the
    grading."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return similarity.knn_label_accuracy(emb, queries_df, labels, k=10)


@query(
    "q_hard_negatives",
    oracle="""
WITH base AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qe, label AS anchor_label
      FROM base WHERE vec_id < 10),
pairs AS (SELECT q.qid, q.anchor_label, b.vec_id AS cid,
                 b.label AS neg_label, q.qe, b.embedding AS ce
          FROM base b CROSS JOIN q
          WHERE b.vec_id != q.qid AND b.label != q.anchor_label),
un AS (SELECT qid, anchor_label, cid, neg_label,
              CAST(unnest(qe) AS DOUBLE) AS x,
              CAST(unnest(ce) AS DOUBLE) AS y FROM pairs),
dots AS (SELECT qid, anchor_label, cid, neg_label, sum(x*y) AS d,
                sum(x*x) AS nx, sum(y*y) AS ny FROM un GROUP BY 1, 2, 3, 4),
sims AS (SELECT qid, anchor_label, cid, neg_label,
                d / (sqrt(nx) * sqrt(ny)) AS sim_raw FROM dots),
ranked AS (SELECT qid, anchor_label, cid, neg_label, sim_raw,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY sim_raw DESC, cid) AS rank
           FROM sims)
SELECT qid, anchor_label, rank, cid, neg_label, round(sim_raw, 6) AS sim
FROM ranked WHERE rank <= 5 ORDER BY qid, rank
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of the
    10 anchor vectors, the 5 nearest-by-cosine candidates whose label
    DIFFERS from the anchor's — the boundary-hugging negatives that
    carry the most gradient signal (DPR/SimCLR practice). Same-label
    rows are excluded BEFORE ranking, labels ride the corpus scan as a
    projected column (no second scan), anchors + their labels travel
    in the broadcast closure. Oracle replays scoring, the label
    filter, and the rank cut."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return similarity.hard_negatives(
        emb.select("vec_id", "v"), queries_df, labels, k=5
    )


@query(
    "q_copurchase",
    oracle="""
WITH m AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
mg AS (SELECT item, count(*) AS n FROM m GROUP BY 1),
co AS (SELECT a.item AS item1, b.item AS item2, count(*) AS n_co
       FROM m a JOIN m b ON a.bk = b.bk AND a.item < b.item
       GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT item1, item2, CAST(n_co AS BIGINT) AS n_co,
       round(n_co / sqrt(CAST(g1.n AS DOUBLE) * g2.n), 6) AS cosine
FROM co JOIN mg g1 ON co.item1 = g1.item JOIN mg g2 ON co.item2 = g2.item
ORDER BY cosine DESC, item1, item2 LIMIT 30
""",
)
def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-purchase cosine top-30 over order baskets — the
    bipartite projection ("bought X also bought Y") on lineitem.
    The pair stream is keyed on the ORDER id, so its volume is
    sum-of-squared-basket-sizes (TPC-H baskets are ~4 rows — linear);
    item marginals re-attach by an AQE-chosen join (no forced hint —
    item cardinality grows with SF); only the pair aggregation
    shuffles. Oracle replays the distinct-membership projection and
    the cosine arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    return similarity.cooccurrence_topk(
        li, "l_orderkey", "l_partkey", min_co=2, k=30
    )


@query(
    "q_copurchase_rules",
    oracle="""
WITH m AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT bk) AS DOUBLE) AS n_baskets FROM m),
mg AS (SELECT item, count(*) AS n FROM m GROUP BY 1),
co AS (SELECT a.item AS ante, b.item AS cons, count(*) AS n_co
       FROM m a JOIN m b ON a.bk = b.bk AND a.item <> b.item
       GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT co.ante, co.cons, CAST(co.n_co AS BIGINT) AS n_co,
       round(co.n_co / nb.n_baskets, 6) AS support,
       round(co.n_co / CAST(g1.n AS DOUBLE), 6) AS confidence,
       round((co.n_co / CAST(g1.n AS DOUBLE))
             / (g2.n / nb.n_baskets), 6) AS lift
FROM co JOIN mg g1 ON co.ante = g1.item
JOIN mg g2 ON co.cons = g2.item, nb
ORDER BY lift DESC, ante, cons LIMIT 20
""",
)
def q_copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (a-priori 2-itemsets):
    for each ordered pair antecedent → consequent with co-support >=
    2, classic support / confidence / lift — `q_copurchase`'s cosine
    ranks symmetric affinity, lift ranks DIRECTIONAL surprise over
    the independence baseline. Same linear basket-keyed pair stream;
    marginals and the 1-row basket count attach by broadcast; top-20
    as TakeOrderedAndProject. Oracle replays all three metrics."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13: m feeds four branches (basket count, marginals, both pair
    # sides) and mg both rule dimensions — checkpoint each once so the
    # lineitem scan + distinct runs once, not four times
    m = li.select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item")
    ).distinct().transform(checkpoint_hub)
    nb = m.agg(
        F.countDistinct("bk").cast("double").alias("n_baskets")
    )
    mg = (
        m.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(checkpoint_hub)
    )
    a = m.alias("a")
    b = m.alias("b")
    co = (
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.item") != F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("ante"), F.col("b.item").alias("cons")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .where(F.col("n_co") >= 2)
    )
    # Item marginals are data-cardinality-bound (l_partkey ∝ SF), so no
    # forced broadcast hint — AQE picks broadcast when small, shuffle
    # otherwise. nb stays hinted: it is a 1-row aggregate.
    out = (
        co.join(
            mg.withColumnRenamed("n", "n1"),
            co.ante == F.col("item"),
        )
        .drop("item")
        .join(
            mg.withColumnRenamed("n", "n2"),
            F.col("cons") == F.col("item"),
        )
        .drop("item")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "n_co",
            F.round(F.col("n_co") / F.col("n_baskets"), 6).alias("support"),
            F.round(
                F.col("n_co") / F.col("n1").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_co") / F.col("n1").cast("double"))
                / (F.col("n2") / F.col("n_baskets")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "ante", "cons").limit(20)


def _pq_cte(m: int = 2, k: int = 4, n_iter: int = 2) -> str:
    """DuckDB replay of similarity.pq_codebooks + pq_encode: the
    per-subspace grouped Lloyd fit (deterministic init = k smallest
    vec_ids PER SUBSPACE, n_iter unrolled rounds, distances and
    centroid components rounded 1e-9 exactly as the Spark side) ending
    with `pcb` = the trained codebooks (j, cid, cv) and `enc` = the
    per-(vector, subspace) code assignment (vec_id, j, cid)."""
    parts = [
        "pbase AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"psub AS (SELECT vec_id, t.j, "
        f"list_slice(e, t.j * (len(e) // {m}) + 1, (t.j + 1) * (len(e) // {m})) AS sv "
        f"FROM pbase, UNNEST(range(0, {m})) AS t(j))",
        f"pc0 AS (SELECT j, rn AS cid, sv AS cv FROM "
        f"(SELECT j, vec_id, sv, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn "
        f"FROM psub) WHERE rn <= {k})",
    ]
    dist = (
        "round(list_sum(list_transform(range(len(b.sv)), "
        "i -> (b.sv[i+1] - c.cv[i+1]) * (b.sv[i+1] - c.cv[i+1]))), 9)"
    )
    for it in range(n_iter):
        parts.append(
            f"pd{it} AS (SELECT b.vec_id, b.j, c.cid, {dist} AS d2 "
            f"FROM psub b JOIN pc{it} c ON c.j = b.j)"
        )
        parts.append(
            f"pa{it} AS (SELECT vec_id, j, cid FROM (SELECT vec_id, j, cid, "
            "row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rk "
            f"FROM pd{it}) WHERE rk = 1)"
        )
        parts.append(
            f"pu{it} AS (SELECT a.j, a.cid, t.i AS pos, round(avg(b.sv[t.i]), 9) AS mu "
            f"FROM pa{it} a JOIN psub b ON b.vec_id = a.vec_id AND b.j = a.j, "
            "UNNEST(range(1, len(b.sv) + 1)) AS t(i) GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"pc{it + 1} AS (SELECT j, cid, list(mu ORDER BY pos) AS cv "
            f"FROM pu{it} GROUP BY j, cid)"
        )
    parts.append(f"pcb AS (SELECT j, cid, cv FROM pc{n_iter})")
    parts.append(
        f"pdf AS (SELECT b.vec_id, b.j, c.cid, {dist} AS d2 "
        "FROM psub b JOIN pcb c ON c.j = b.j)"
    )
    parts.append(
        "enc AS (SELECT vec_id, j, cid FROM (SELECT vec_id, j, cid, "
        "row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rk "
        "FROM pdf) WHERE rk = 1)"
    )
    return ",\n".join(parts)


@query(
    "q_pq_adc",
    oracle=f"""
WITH {_pq_cte(2, 4, 2)},
qs AS (SELECT vec_id AS qid, j, sv FROM psub WHERE vec_id < 5),
tb AS (SELECT q.qid, c.j, c.cid,
              round(list_sum(list_transform(range(len(q.sv)),
                    i -> (q.sv[i+1] - c.cv[i+1]) * (q.sv[i+1] - c.cv[i+1]))), 9) AS d2
       FROM qs q JOIN pcb c ON c.j = q.j),
ad AS (SELECT t.qid, e.vec_id AS cid, sum(t.d2) AS adc_raw
       FROM enc e JOIN tb t ON t.j = e.j AND t.cid = e.cid
       WHERE e.vec_id != t.qid GROUP BY 1, 2),
rk AS (SELECT qid, cid, adc_raw,
              row_number() OVER (PARTITION BY qid ORDER BY adc_raw, cid) AS rank
       FROM ad)
SELECT qid, CAST(rank AS BIGINT) AS rank, cid, round(adc_raw, 6) AS adc_d2
FROM rk WHERE rank <= 5 ORDER BY qid, rank
""",
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Jégou et al.
    2011) — the vector-compression read path for billion-scale ANN:
    train m=2 per-subspace k=4 codebooks (grouped Lloyd, deterministic
    init, 2 unrolled rounds — the kmeans_fixed contract extended with a
    subspace key), encode the corpus to m-int codes, and answer the
    vec_id<5 queries by summing m broadcast table lookups per corpus
    CODE — the query never touches corpus floats. At 100 TB the scan
    side is the m-int code table (32x smaller than float32 at
    m=8/k=256) and the per-query work is a map-side (j, cid) lookup
    join; the top-5 is a per-query window. Oracle replays the full
    two-subspace fit, the encoding, and the ADC arithmetic."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.pq_adc_topk(emb, queries_df, topk=5, m=2, k=4, n_iter=2)


@query(
    "q_ivfpq",
    oracle=f"""
WITH {_pq_cte(2, 4, 2)},
icent AS (SELECT vec_id AS cent_id, e AS ce FROM pbase WHERE vec_id < 32),
iau AS (SELECT b.vec_id, c.cent_id, unnest(b.e) AS x, unnest(c.ce) AS y
        FROM pbase b CROSS JOIN icent c),
iad AS (SELECT vec_id, cent_id, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
        FROM iau GROUP BY 1, 2),
iar AS (SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
        FROM iad),
icells AS (SELECT vec_id AS cand_id, cent_id AS cell FROM iar WHERE rk = 1),
iprobes AS (SELECT vec_id AS qid, cent_id AS cell FROM iar WHERE rk <= 4 AND vec_id < 5),
cand AS (SELECT p.qid, c.cand_id FROM iprobes p JOIN icells c USING (cell)
         WHERE c.cand_id != p.qid),
qs AS (SELECT vec_id AS qid, j, sv FROM psub WHERE vec_id < 5),
tb AS (SELECT q.qid, c.j, c.cid AS pcid,
              round(list_sum(list_transform(range(len(q.sv)),
                    i -> (q.sv[i+1] - c.cv[i+1]) * (q.sv[i+1] - c.cv[i+1]))), 9) AS d2
       FROM qs q JOIN pcb c ON c.j = q.j),
ad AS (SELECT cand.qid, cand.cand_id AS cid, sum(t.d2) AS adc_raw
       FROM cand JOIN enc e ON e.vec_id = cand.cand_id
       JOIN tb t ON t.qid = cand.qid AND t.j = e.j AND t.pcid = e.cid
       GROUP BY 1, 2),
rk2 AS (SELECT qid, cid, adc_raw,
               row_number() OVER (PARTITION BY qid ORDER BY adc_raw, cid) AS rank
        FROM ad)
SELECT qid, CAST(rank AS BIGINT) AS rank, cid, round(adc_raw, 6) AS adc_d2
FROM rk2 WHERE rank <= 5 ORDER BY qid, rank
""",
)
def q_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 (FAISS's IVFADC layout, Jégou et al. 2011 §V) —
    the full billion-scale ANN index as one declarative plan: the
    32-centroid coarse quantizer prunes each vec_id<5 query to its 4
    probed cells (partition pruning at rest), and candidates inside
    those cells are scored by PQ asymmetric distance over their m=2
    int codes — the scan never touches corpus floats. Both codebooks
    are deterministic, so the oracle replays the coarse assign, the
    probe set, the grouped-Lloyd PQ fit, the encoding, and the ADC
    arithmetic end-to-end."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.ivfpq_topk(
        emb, queries_df, topk=5, n_centroids=32, nprobe=4, m=2, k=4, n_iter=2
    )


@query(
    "q_pq_recall",
    oracle=f"""
WITH {_pq_cte(2, 4, 2)},
qs AS (SELECT vec_id AS qid, j, sv FROM psub WHERE vec_id < 5),
tb AS (SELECT q.qid, c.j, c.cid AS pcid,
              round(list_sum(list_transform(range(len(q.sv)),
                    i -> (q.sv[i+1] - c.cv[i+1]) * (q.sv[i+1] - c.cv[i+1]))), 9) AS d2
       FROM qs q JOIN pcb c ON c.j = q.j),
-- flat PQ-ADC top-5
fad AS (SELECT t.qid, e.vec_id AS cid, sum(t.d2) AS adc_raw
        FROM enc e JOIN tb t ON t.j = e.j AND t.pcid = e.cid
        WHERE e.vec_id != t.qid GROUP BY 1, 2),
fr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY adc_raw, cid) AS rk
       FROM fad),
pq5 AS (SELECT qid, cid FROM fr WHERE rk <= 5),
-- IVF-PQ top-5 (32 seed centroids, nprobe=4)
icent AS (SELECT vec_id AS cent_id, e AS ce FROM pbase WHERE vec_id < 32),
iau AS (SELECT b.vec_id, c.cent_id, unnest(b.e) AS x, unnest(c.ce) AS y
        FROM pbase b CROSS JOIN icent c),
iad AS (SELECT vec_id, cent_id, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
        FROM iau GROUP BY 1, 2),
iar AS (SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
        FROM iad),
icells AS (SELECT vec_id AS cand_id, cent_id AS cell FROM iar WHERE rk = 1),
iprobes AS (SELECT vec_id AS qid, cent_id AS cell FROM iar WHERE rk <= 4 AND vec_id < 5),
icand AS (SELECT p.qid, c.cand_id FROM iprobes p JOIN icells c USING (cell)
          WHERE c.cand_id != p.qid),
vad AS (SELECT icand.qid, icand.cand_id AS cid, sum(t.d2) AS adc_raw
        FROM icand JOIN enc e ON e.vec_id = icand.cand_id
        JOIN tb t ON t.qid = icand.qid AND t.j = e.j AND t.pcid = e.cid
        GROUP BY 1, 2),
vr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY adc_raw, cid) AS rk
       FROM vad),
ivfpq5 AS (SELECT qid, cid FROM vr WHERE rk <= 5),
-- exact squared-L2 top-5 (the ground truth PQ approximates)
xq AS (SELECT vec_id AS qid, e AS qe FROM pbase WHERE vec_id < 5),
xu AS (SELECT x.qid, b.vec_id AS cid, unnest(x.qe) AS qx, unnest(b.e) AS bx
       FROM xq x CROSS JOIN pbase b WHERE b.vec_id != x.qid),
xd AS (SELECT qid, cid, sum((qx - bx) * (qx - bx)) AS d2 FROM xu GROUP BY 1, 2),
xr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
       FROM xd),
ex AS (SELECT qid, cid FROM xr WHERE rk <= 5),
ap AS (SELECT 'ivfpq' AS method, qid, cid FROM ivfpq5
       UNION ALL SELECT 'pq', qid, cid FROM pq5)
SELECT ap.method, ap.qid,
       CAST(count(ex.cid) AS BIGINT) AS n_hit,
       round(count(ex.cid) / 5.0, 6) AS recall
FROM ap LEFT JOIN ex ON ex.qid = ap.qid AND ex.cid = ap.cid
GROUP BY ap.method, ap.qid ORDER BY ap.method, ap.qid
""",
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the two PQ indexes (flat ADC scan and IVF-PQ with
    nprobe=4) against the EXACT squared-L2 top-5 — the ground truth PQ
    approximates (q_ann_recall's stance for the compressed indexes:
    at 100 TB recall-vs-memory IS the PQ operator's spec, so the
    quality metric ships as a first-class graded query, not a
    notebook). All three result sets and the overlap counts are
    DataFrame joins/aggregates — no collect; the oracle replays both
    indexes, the exact scan, and the recall arithmetic."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    from pyspark.sql import Window

    q = queries_df.select("qid", "qv")
    c = emb.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    d2 = F.expr(
        "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    exact = (
        c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select("qid", "cid", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", F.lit(1).alias("hit"))
    )
    # r13: both indexes train the IDENTICAL codebooks and encode the
    # IDENTICAL code table (same corpus, same m/k/n_iter,
    # deterministic init) — train once, encode once (the checkpointed
    # (vec_id, j, cid) table is the COMPRESSED representation, m ints
    # per vector), and pass both to the two consumers
    books = similarity.pq_codebooks(emb, m=2, k=4, n_iter=2)
    codes = similarity.pq_encode(emb, books, m=2).transform(checkpoint_hub)
    pq5 = similarity.pq_adc_topk(
        emb, queries_df, topk=5, m=2, k=4, n_iter=2,
        codebooks=books, codes=codes,
    ).select(F.lit("pq").alias("method"), "qid", "cid")
    ivfpq5 = similarity.ivfpq_topk(
        emb,
        queries_df,
        topk=5,
        n_centroids=32,
        nprobe=4,
        m=2,
        k=4,
        n_iter=2,
        codebooks=books,
        codes=codes,
    ).select(F.lit("ivfpq").alias("method"), "qid", "cid")
    ap = ivfpq5.unionByName(pq5)
    return (
        ap.join(exact, ["qid", "cid"], "left")
        .groupBy("method", "qid")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.lit(5.0), 6
            ).alias("recall"),
        )
        .orderBy("method", "qid")
    )


def _sq_cte() -> str:
    """DuckDB replay of similarity.sq_stats_row + sq_encode +
    sq_adc_topk's distance: per-dimension (min, max) calibration,
    8-bit encode (floor(u * 255 / range + 0.5), clamped), and the
    asymmetric reconstructed squared-L2 of the vec_id<5 queries
    against every other corpus code, rounded 1e-9 exactly as the
    Spark side. Ends with `sqr` = (qid, cid, d2, rank)."""
    recon = "(r.mns[i] + CAST(c.codes[i] AS DOUBLE) * (r.mxs[i] - r.mns[i]) / 255.0)"
    return f"""
sbase AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sdim AS (SELECT t.i, min(e[t.i]) AS mn, max(e[t.i]) AS mx
         FROM sbase, UNNEST(range(1, len(e) + 1)) AS t(i) GROUP BY 1),
srow AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM sdim),
scode AS (SELECT vec_id, list_transform(range(1, len(e) + 1),
            i -> CASE WHEN r.mxs[i] = r.mns[i] THEN 0
                 ELSE CAST(least(255.0, greatest(0.0,
                      floor((e[i] - r.mns[i]) * 255.0 / (r.mxs[i] - r.mns[i]) + 0.5))) AS INT) END) AS codes
          FROM sbase, srow r),
squery AS (SELECT vec_id AS qid, e AS qe FROM sbase WHERE vec_id < 5),
sqd AS (SELECT q.qid, c.vec_id AS cid,
              round(list_sum(list_transform(range(1, len(c.codes) + 1),
                    i -> (q.qe[i] - {recon}) * (q.qe[i] - {recon}))), 9) AS d2
       FROM scode c, srow r, squery q WHERE c.vec_id != q.qid),
sqr AS (SELECT qid, cid, d2,
               row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rank
        FROM sqd)"""


@query(
    "q_sq_topk",
    oracle=f"""
WITH {_sq_cte()}
SELECT qid, CAST(rank AS BIGINT) AS rank, cid, round(d2, 6) AS sq_d2
FROM sqr WHERE rank <= 5 ORDER BY qid, rank
""",
    bench=True,
)
def q_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantization ANN top-5 — the third point on the
    compression-accuracy curve beside exact floats (q_embed_topk, 1x)
    and PQ codes (q_pq_adc, 32x): corpus vectors stored as int8 codes
    (4x smaller), queries kept exact, distance = reconstructed squared
    L2 from the broadcast one-row per-dimension (min, max) calibration.
    At 100 TB the scan side is the int8 code table and the per-row
    work one array fold in codegen; the top-5 is a per-query window.
    Oracle replays the calibration, the encode, and the ADC
    arithmetic end-to-end (operators/similarity.py sq_adc_topk)."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return similarity.sq_adc_topk(emb, queries_df, topk=5)


@query(
    "q_sq_recall",
    oracle=f"""
WITH {_sq_cte()},
xu AS (SELECT q.qid, b.vec_id AS cid, unnest(q.qe) AS qx, unnest(b.e) AS bx
       FROM squery q CROSS JOIN sbase b WHERE b.vec_id != q.qid),
xd AS (SELECT qid, cid, sum((qx - bx) * (qx - bx)) AS d2 FROM xu GROUP BY 1, 2),
xr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
       FROM xd),
ex AS (SELECT qid, cid FROM xr WHERE rk <= 5),
sq5 AS (SELECT qid, cid FROM sqr WHERE rank <= 5)
SELECT sq5.qid, CAST(count(ex.cid) AS BIGINT) AS n_hit,
       round(count(ex.cid) / 5.0, 6) AS recall
FROM sq5 LEFT JOIN ex ON ex.qid = sq5.qid AND ex.cid = sq5.cid
GROUP BY sq5.qid ORDER BY sq5.qid
""",
)
def q_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the int8 scalar-quantized index against the exact
    squared-L2 top-5 — q_pq_recall's stance for the 4x-compressed
    index: the quality-vs-memory tradeoff IS the quantizer's spec, so
    it ships as a graded query. SQ8's per-dimension reconstruction is
    far finer than PQ's subspace centroids, so its recall should sit
    at or near 1.0 where PQ's drops — the two graded numbers together
    document the curve. All three result sets and the overlap counts
    are DataFrame joins; the oracle replays the index, the exact scan,
    and the recall arithmetic."""
    from pyspark.sql import Window

    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    q = queries_df.select("qid", "qv")
    c = emb.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    d2 = F.expr(
        "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    exact = (
        c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select("qid", "cid", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", F.lit(1).alias("hit"))
    )
    sq5 = similarity.sq_adc_topk(emb, queries_df, topk=5).select("qid", "cid")
    return (
        sq5.join(exact, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.lit(5.0), 6
            ).alias("recall"),
        )
        .orderBy("qid")
    )


@query(
    "q_ivf_tuning",
    oracle="""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM base WHERE vec_id < 5),
xp AS (SELECT q.qid, b.vec_id AS cid, q.qe, b.e AS ce
       FROM base b CROSS JOIN q WHERE b.vec_id != q.qid),
xu AS (SELECT qid, cid, unnest(qe) AS x, unnest(ce) AS y FROM xp),
xd AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
       FROM xu GROUP BY 1, 2),
xr AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM xd),
exact AS (SELECT qid, cid FROM xr WHERE rk <= 10),
cent AS (SELECT vec_id AS cent_id, e AS ce FROM base WHERE vec_id < 32),
ap AS (SELECT b.vec_id, c.cent_id, b.e AS be, c.ce FROM base b CROSS JOIN cent c),
au AS (SELECT vec_id, cent_id, unnest(be) AS x, unnest(ce) AS y FROM ap),
ad AS (SELECT vec_id, cent_id, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
       FROM au GROUP BY 1, 2),
ar AS (SELECT vec_id, cent_id,
              row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
       FROM ad),
cells AS (SELECT vec_id AS cid, cent_id AS cell FROM ar WHERE rk = 1),
pr1 AS (SELECT vec_id AS qid, cent_id AS cell FROM ar WHERE rk <= 1 AND vec_id < 5),
cd1 AS (SELECT DISTINCT p.qid, c.cid FROM pr1 p JOIN cells c USING (cell)
          WHERE c.cid != p.qid),
nc1 AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cands FROM cd1 GROUP BY 1),
ru1 AS (SELECT cd1.qid, cd1.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM cd1 JOIN base qq ON qq.vec_id = cd1.qid
       JOIN base b ON b.vec_id = cd1.cid),
rd1 AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
        FROM ru1 GROUP BY 1, 2),
rr1 AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM rd1),
tp1 AS (SELECT qid, cid FROM rr1 WHERE rk <= 10),
re1 AS (SELECT x.qid, CAST(count(t.cid) AS BIGINT) AS n_hit
        FROM exact x LEFT JOIN tp1 t ON t.qid = x.qid AND t.cid = x.cid
        GROUP BY 1),
pr2 AS (SELECT vec_id AS qid, cent_id AS cell FROM ar WHERE rk <= 2 AND vec_id < 5),
cd2 AS (SELECT DISTINCT p.qid, c.cid FROM pr2 p JOIN cells c USING (cell)
          WHERE c.cid != p.qid),
nc2 AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cands FROM cd2 GROUP BY 1),
ru2 AS (SELECT cd2.qid, cd2.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM cd2 JOIN base qq ON qq.vec_id = cd2.qid
       JOIN base b ON b.vec_id = cd2.cid),
rd2 AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
        FROM ru2 GROUP BY 1, 2),
rr2 AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM rd2),
tp2 AS (SELECT qid, cid FROM rr2 WHERE rk <= 10),
re2 AS (SELECT x.qid, CAST(count(t.cid) AS BIGINT) AS n_hit
        FROM exact x LEFT JOIN tp2 t ON t.qid = x.qid AND t.cid = x.cid
        GROUP BY 1),
pr4 AS (SELECT vec_id AS qid, cent_id AS cell FROM ar WHERE rk <= 4 AND vec_id < 5),
cd4 AS (SELECT DISTINCT p.qid, c.cid FROM pr4 p JOIN cells c USING (cell)
          WHERE c.cid != p.qid),
nc4 AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cands FROM cd4 GROUP BY 1),
ru4 AS (SELECT cd4.qid, cd4.cid, unnest(qq.e) AS x, unnest(b.e) AS y
       FROM cd4 JOIN base qq ON qq.vec_id = cd4.qid
       JOIN base b ON b.vec_id = cd4.cid),
rd4 AS (SELECT qid, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
        FROM ru4 GROUP BY 1, 2),
rr4 AS (SELECT qid, cid,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       FROM rd4),
tp4 AS (SELECT qid, cid FROM rr4 WHERE rk <= 10),
re4 AS (SELECT x.qid, CAST(count(t.cid) AS BIGINT) AS n_hit
        FROM exact x LEFT JOIN tp4 t ON t.qid = x.qid AND t.cid = x.cid
        GROUP BY 1)
SELECT 1 AS nprobe, q.qid, nc1.n_cands, re1.n_hit, round(re1.n_hit / 10.0, 6) AS recall FROM q JOIN nc1 ON nc1.qid = q.qid JOIN re1 ON re1.qid = q.qid
UNION ALL SELECT 2 AS nprobe, q.qid, nc2.n_cands, re2.n_hit, round(re2.n_hit / 10.0, 6) AS recall FROM q JOIN nc2 ON nc2.qid = q.qid JOIN re2 ON re2.qid = q.qid
UNION ALL SELECT 4 AS nprobe, q.qid, nc4.n_cands, re4.n_hit, round(re4.n_hit / 10.0, 6) AS recall FROM q JOIN nc4 ON nc4.qid = q.qid JOIN re4 ON re4.qid = q.qid
ORDER BY nprobe, qid
""",
)
def q_ivf_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve — recall@10 AND candidate count (the cost
    proxy: candidates scored = fraction of the corpus scanned) at
    nprobe 1, 2, 4 against the exact cosine top-10. This is the number
    an operator reads before picking nprobe at 100 TB: recall rises
    with probed cells while cost rises linearly, and the curve is the
    spec (q_ann_recall grades one operating point; this grades the
    knob). All three probe depths share ONE coarse-assignment pass and
    one cell layout; everything downstream is per-depth joins over the
    pruned candidate sets. Oracle replays the assignment, all three
    probe sets, the re-ranks, and the recall arithmetic."""
    emb = similarity.as_double_vec(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # r13: exact ground truth is referenced by all three per-depth
    # semi-joins — 5x10 rows, checkpoint once
    exact = (
        similarity.brute_force_topk(emb, queries_df, k=10)
        .select("qid", "cid")
        .transform(checkpoint_hub)
    )
    cents = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    # r13: ONE coarse-assignment pass shared by all three probe
    # depths, as the docstring promises — the old loop called
    # ivf_topk per depth, re-deriving the corpus assignment each time
    # (audited plan: 60 parquet scans). cellsv is the local stand-in
    # for write_ivf_corpus's at-rest cell layout; probes at the
    # DEEPEST depth once, and rank <= p slices it exactly (the
    # cell_rank window is deterministic, so the first p of 4 ranked
    # cells IS the nprobe=p assignment). Identical arithmetic ->
    # identical rows (oracle unchanged, parity-proved).
    cellsv = (
        similarity.ivf_assign(emb, cents, nprobe=1)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("v2"), "cell")
        .transform(checkpoint_hub)
    )
    cells = cellsv.select("cid", "cell")
    probes4 = (
        similarity.ivf_assign(
            queries_df.select(
                F.col("qid").alias("vec_id"), F.col("qv").alias("v")
            ),
            cents,
            nprobe=4,
        )
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("v1"),
            "cell",
            "cell_rank",
        )
        .transform(checkpoint_hub)
    )
    parts = []
    for p in (1, 2, 4):
        probes = probes4.where(F.col("cell_rank") <= p).select(
            "qid", "v1", "cell"
        )
        cand = (
            cells.join(F.broadcast(probes.select("qid", "cell")), "cell")
            .where(F.col("cid") != F.col("qid"))
            .select("qid", "cid")
            .distinct()
        )
        n_cands = cand.groupBy("qid").agg(
            F.count(F.lit(1)).cast("long").alias("n_cands")
        )
        topk = similarity.rerank_probed_cells(cellsv, probes, k=10).select(
            "qid", "cid"
        )
        n_hit = (
            exact.join(topk, ["qid", "cid"], "semi")
            .groupBy("qid")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        )
        parts.append(
            n_cands.join(n_hit, "qid", "left").select(
                F.lit(p).alias("nprobe"),
                "qid",
                "n_cands",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                F.round(
                    F.coalesce("n_hit", F.lit(0)) / F.lit(10.0), 6
                ).alias("recall"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("nprobe", "qid")


_MF_STEPS, _MF_LR, _MF_REG, _MF_ANCHOR_MOD, _MF_K = 8, 0.5, 0.01, 97, 3


def _mf_cte(steps: int, lr: float, reg: float) -> str:
    """Unrolled GD replay for rank-1 MF: per step one MATERIALIZED
    join CTE (referenced by BOTH factor updates — DuckDB would
    otherwise inline it twice per step, the 2^n planner blowup) and
    the two Jacobi factor updates."""
    blocks = [
        "mx AS (SELECT max(r) AS rmax FROM rt)",
        "rn AS MATERIALIZED (SELECT cust, part,"
        " r / (SELECT rmax FROM mx) AS rn FROM rt)",
        "u0 AS (SELECT DISTINCT cust, CAST(0.1 AS DOUBLE) AS u FROM rn)",
        "v0 AS (SELECT DISTINCT part, CAST(0.1 AS DOUBLE) AS v FROM rn)",
    ]
    for t in range(steps):
        blocks.append(
            f"j{t} AS MATERIALIZED (SELECT rn.cust, rn.part, u.u, v.v,\n"
            f"  rn.rn - u.u * v.v AS e\n"
            f"  FROM rn JOIN u{t} u USING (cust) JOIN v{t} v USING (part))"
        )
        blocks.append(
            f"u{t + 1} AS MATERIALIZED (SELECT cust,\n"
            f"  any_value(u) + {lr!r} * (CAST(sum(CAST(round(e * v"
            f" * 1000000000.0) AS BIGINT)) AS DOUBLE)"
            f" / (count(*) * 1000000000.0)"
            f" - {reg!r} * any_value(u)) AS u\n"
            f"  FROM j{t} GROUP BY cust)"
        )
        blocks.append(
            f"v{t + 1} AS MATERIALIZED (SELECT part,\n"
            f"  any_value(v) + {lr!r} * (CAST(sum(CAST(round(e * u"
            f" * 1000000000.0) AS BIGINT)) AS DOUBLE)"
            f" / (count(*) * 1000000000.0)"
            f" - {reg!r} * any_value(v)) AS v\n"
            f"  FROM j{t} GROUP BY part)"
        )
    return ",\n".join(blocks)


@query(
    "q_mf_recs",
    oracle=f"""
WITH rt AS (SELECT o_custkey AS cust, l_partkey AS part,
                   CAST(sum(l_quantity) AS DOUBLE) AS r
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2),
{_mf_cte(_MF_STEPS, _MF_LR, _MF_REG)},
anchors AS (SELECT cust, u FROM u{_MF_STEPS}
            WHERE cust % {_MF_ANCHOR_MOD} = 0),
ac AS (SELECT rn.cust, count(*) AS c FROM rn
       JOIN anchors a ON a.cust = rn.cust GROUP BY rn.cust),
rmx AS (SELECT coalesce(max(c), 0) AS rmax FROM ac),
tp AS (SELECT part, v,
              row_number() OVER (ORDER BY v DESC, part) AS pr
       FROM v{_MF_STEPS}),
tpw AS (SELECT part, v FROM tp
        WHERE pr <= {_MF_K} + (SELECT rmax FROM rmx)),
cand AS (SELECT a.cust, t.part, t.v, round(a.u * t.v, 6) AS score
         FROM anchors a CROSS JOIN tpw t
         WHERE NOT EXISTS (SELECT 1 FROM rn
                           WHERE rn.cust = a.cust AND rn.part = t.part)),
rk AS (SELECT cust, part, score,
              row_number() OVER (PARTITION BY cust
                                 ORDER BY v DESC, part) AS rnk
       FROM cand)
SELECT cust, CAST(rnk AS BIGINT) AS rnk, part, score
FROM rk WHERE rnk <= {_MF_K} ORDER BY cust, rnk
""",
)
def q_mf_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 matrix-factorization recommendations — the
    FACTORIZATION method beside q_copurchase's neighborhood cosine
    (the two classic collaborative-filtering families): 8 full-batch
    Jacobi GD steps fit per-customer/per-part factors to the
    normalized quantity matrix (mean gradients on the exact
    1e-9-grid integer sum, so the step is degree-invariant AND
    bit-stable across partitionings; mse 0.084 -> 0.068 over the fit
    at sf0.01), then the hash-free deterministic anchor set (cust
    mod 97) gets its top-3 UNRATED parts.

    NO CARTESIAN (the r12 verdict fix): rank-1 exactness means every
    positive-u anchor ranks parts in the SAME global (v desc, part)
    order, so the per-anchor top-K unrated set lies inside the
    global top-(K + max_rated_per_anchor) parts — one
    TakeOrderedAndProject + a broadcast of that tiny window + an
    anti-join, instead of |anchors| x |parts| through a shuffle (at
    100 TB the cross was (|C|/97)*|P| rows). The ranking key IS the
    item factor (v desc, part): identical to u*v score order for
    positive factors, and float-tie-free cross-engine; the displayed
    score stays round(u*v, 6) (all fitted u are positive here —
    pinned by test). One scalar collect (max rated-per-anchor, a
    1-row agg) sizes the window literal for the distributed top-K.
    The oracle replays the whole fit unrolled (MATERIALIZED per-step
    CTEs) plus the window cut, anti-join, and ranking."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    od = load_table(spark, sf_dir, "orders").select(
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
    u, v = similarity.mf_rank1(
        rt, steps=_MF_STEPS, lr=_MF_LR, reg=_MF_REG
    )
    anchors = u.where(F.col("cust") % _MF_ANCHOR_MOD == 0)
    rated = rt.select("cust", "part")
    # bounded candidate window: max #rated over anchors is a 1-row
    # scalar by contract (sizes the top-K limit literal)
    rmax_row = (
        rated.join(anchors.select("cust"), "cust", "left_semi")
        .groupBy("cust")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()
    )
    n_window = _MF_K + int(rmax_row[0][0] or 0)
    top_parts = v.orderBy(F.desc("v"), "part").limit(n_window)
    cand = (
        anchors.crossJoin(F.broadcast(top_parts))
        .join(rated, ["cust", "part"], "left_anti")
        .select(
            "cust",
            "part",
            "v",
            F.round(F.col("u") * F.col("v"), 6).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cust").orderBy(F.desc("v"), "part")
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _MF_K)
        .select("cust", "rnk", "part", "score")
        .orderBy("cust", "rnk")
    )
