"""Dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard/containment,
prefix-filtered join, decontamination, duplicated-span audits.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import dedup, graph, text
from neo4j_dynagraph_spark.queries import query
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub

from neo4j_dynagraph_spark.queries_ext._shared import (
    _H64,
    _SH_CTE,
    _TOK,
    _TOK_CTE,
    _docs,
)


# ---------------------------------------------------------------- dedup


@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keep_id
""",
    bench=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-digest groupBy, deterministic survivor
    (min doc_id). The canonical first pass of any corpus pipeline."""
    return dedup.exact_duplicates(_docs(spark, sf_dir)).orderBy("keep_id")


_SOFT_DEDUP_ORACLE = f"""
WITH g AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1),
d AS (SELECT doc_id, source, md5(text) AS h,
             CAST(len({_TOK}) AS BIGINT) AS ws
      FROM documents),
j AS (SELECT d.source, g.n,
             CAST(round(1000000.0 / g.n) AS BIGINT) AS w6,
             CAST(round(d.ws * 1000000.0 / g.n) AS BIGINT) AS tw6
      FROM d JOIN g USING (h))
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE n > 1) AS BIGINT) AS dup_docs,
       round(CAST(sum(w6) AS DOUBLE) / 1000000.0, 6) AS effective_docs,
       round(CAST(sum(tw6) AS DOUBLE) / 1000000.0, 6) AS effective_tokens
FROM j GROUP BY source ORDER BY source
"""


@query("q_soft_dedup", oracle=_SOFT_DEDUP_ORACLE)
def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication — reweight instead of remove: every doc in
    an exact-content group of size n carries weight 1/n, and the
    per-source EFFECTIVE document/token mass is the mixture-design
    input (a source that is mostly internal boilerplate has far less
    real data than its row count claims; the downweight-vs-drop trade
    of the dedup literature, completing the family beside
    q_dedup_exact's survivor selection and q_corpus_report's dup
    rate). Integer 1e-6-grid weights with exact per-source sums (the
    DoReMi round-boundary convention from birth); one content-hash
    aggregate + one hash join + a |sources|-row terminal."""
    return dedup.soft_dedup(_docs(spark, sf_dir))


@query("q_stream_soft_dedup", oracle=_SOFT_DEDUP_ORACLE)
def q_stream_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING soft dedup: the documents stream drained into the
    per-doc FINGERPRINT store (batch_id-keyed (doc_id, source,
    content digest, token count) — ~40 bytes/doc, never the text);
    group sizes and the 1/n integer-grid weights are late-bound at
    read time through the shared batch core, so a duplicate arriving
    in any later batch re-weights every earlier copy — nothing
    finalizes mid-stream, the mixture-twin contract. Bit-equal to
    batch q_soft_dedup under any chopping and graded on ITS oracle
    (streaming/soft_dedup.py; multibatch test)."""
    from neo4j_dynagraph_spark.streaming.soft_dedup import (
        stream_soft_dedup,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return stream_soft_dedup(
        spark, f"{sf_dir}/documents.parquet", schema
    )


@query(
    "q_dedup_minhash",
    oracle=(
        f"WITH {_TOK_CTE}, {_SH_CTE}, "
        "hx AS (SELECT doc_id, md5('s0:' || shingle) || md5('s1:' || shingle) || md5('s2:' || shingle) || md5('s3:' || shingle) AS hh FROM sh), "
        "hs AS (SELECT doc_id, "
        + ", ".join(
            f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}" for i in range(8)
        )
        + " FROM hx), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"min(h{i}) AS h{i}" for i in range(8))
        + " FROM hs GROUP BY 1), "
        "bands AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, h{2 * b} AS h0, h{2 * b + 1} AS h1 FROM sig"
            for b in range(4)
        )
        + "), "
        "bsz AS (SELECT band, h0, h1, count(*) AS n FROM bands GROUP BY 1, 2, 3) "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id "
        "JOIN bsz ON bsz.band = a.band AND bsz.h0 = a.h0 AND bsz.h1 = a.h1 "
        "AND bsz.n <= 64 "
        "ORDER BY d1, d2"
    ),
    bench=True,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (k=8 hashes, 4 bands x 2 rows) over
    word-3-gram shingles, with the default bucket cap (64) — the
    boilerplate-skew guard — modeled identically in the SQL oracle.
    Signatures use the portable hash64 family, so the oracle reproduces
    them exactly in SQL."""
    sh = dedup.shingles_df(_docs(spark, sf_dir))
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    return dedup.lsh_candidate_pairs(
        sigs, rows_per_band=2, max_bucket=64
    ).orderBy("d1", "d2")


@query(
    "q_dedup_minhash_b4r4",
    oracle=(
        f"WITH {_TOK_CTE}, {_SH_CTE}, "
        "hx AS (SELECT doc_id, "
        + " || ".join(f"md5('s{i}:' || shingle)" for i in range(8))
        + " AS hh FROM sh), "
        "hs AS (SELECT doc_id, "
        + ", ".join(
            f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}"
            for i in range(16)
        )
        + " FROM hx), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"min(h{i}) AS h{i}" for i in range(16))
        + " FROM hs GROUP BY 1), "
        "bands AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, h{4 * b} AS h0, h{4 * b + 1} AS h1, "
            f"h{4 * b + 2} AS h2, h{4 * b + 3} AS h3 FROM sig"
            for b in range(4)
        )
        + "), "
        "bsz AS (SELECT band, h0, h1, h2, h3, count(*) AS n "
        "FROM bands GROUP BY 1, 2, 3, 4, 5) "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 "
        "AND a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id "
        "JOIN bsz ON bsz.band = a.band AND bsz.h0 = a.h0 AND bsz.h1 = a.h1 "
        "AND bsz.h2 = a.h2 AND bsz.h3 = a.h3 AND bsz.n <= 64 "
        "ORDER BY d1, d2"
    ),
)
def q_dedup_minhash_b4r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs in the HIGH-PRECISION banding:
    k=16 hashes, 4 bands x 4 rows (vs q_dedup_minhash's recall-tuned
    4 x 2) — a candidate must agree on all four hashes of some band,
    so P(candidate) = 1-(1-s^4)^4, sharply suppressing low-Jaccard
    noise pairs before the verify stage. Exercises the generalized
    (b, r) banding; the oracle replays the 16-hash signature and the
    4-row bucket key bit-for-bit, cap (64) included."""
    sh = dedup.shingles_df(_docs(spark, sf_dir))
    sigs = dedup.minhash_signatures(sh, num_hashes=16)
    return dedup.lsh_candidate_pairs(
        sigs, rows_per_band=4, max_bucket=64
    ).orderBy("d1", "d2")


@query(
    "q_dedup_simhash",
    oracle=(
        f"WITH {_TOK_CTE}, "
        "tu AS (SELECT DISTINCT doc_id, token FROM "
        "(SELECT doc_id, unnest(t) AS token FROM tok) raw), "
        f"h AS (SELECT doc_id, {_H64.format(x='token')} AS hv FROM tu), "
        "b AS (SELECT doc_id, "
        + ", ".join(
            f"sum(CASE WHEN (hv // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
            for i in range(16)
        )
        + " FROM h GROUP BY 1) "
        "SELECT doc_id, CAST("
        + " + ".join(f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
        + " AS BIGINT) AS simhash FROM b ORDER BY doc_id"
    ),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit set-based SimHash fingerprints — constant-width aggregate
    state per doc, no per-bit explode."""
    return dedup.simhash(_docs(spark, sf_dir), bits=16).orderBy("doc_id")


@query(
    "q_ngram_jaccard",
    oracle=f"""
WITH {_TOK_CTE}, {_SH_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2, round(c / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jac
FROM inter
JOIN sz na ON na.doc_id = d1
JOIN sz nb ON nb.doc_id = d2
WHERE c / CAST(na.n + nb.n - c AS DOUBLE) >= 0.6
ORDER BY d1, d2
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked by source (the
    verify stage that LSH candidates feed at scale)."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.6, block_col="source"
    ).orderBy("d1", "d2")


@query(
    "q_ngram_containment",
    oracle=f"""
WITH {_TOK_CTE}, {_SH_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2,
       round(c / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS cont,
       round(c / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jac
FROM inter
JOIN sz na ON na.doc_id = d1
JOIN sz nb ON nb.doc_id = d2
WHERE c / CAST(least(na.n, nb.n) AS DOUBLE) >= 0.9
ORDER BY d1, d2
""",
)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: 3-gram containment
    C = |A∩B| / min(|A|, |B|) >= 0.9, with Jaccard alongside. The
    boilerplate/quote/superset case Jaccard structurally misses — a
    short doc fully embedded in a long one has C = 1.0 while J
    shrinks with the size gap — so curation policy thresholds C for
    containment removal and J for true near-dup collapse. Same
    blocked candidate generation as q_ngram_jaccard (pairs sharing a
    shingle within source — never all-pairs)."""
    return dedup.ngram_containment_pairs(
        _docs(spark, sf_dir), threshold=0.9, block_col="source"
    ).orderBy("d1", "d2")


_PIPE_H = ", ".join(
    f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}" for i in range(8)
)
_PIPE_SIG = ", ".join(f"min(h{i}) AS h{i}" for i in range(8))
_PIPE_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{2 * b} AS h0, h{2 * b + 1} AS h1 FROM sig"
    for b in range(4)
)


@query(
    "q_dedup_pipeline",
    oracle=f"""
WITH {_TOK_CTE},
keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
tok1 AS (SELECT tok.doc_id, tok.t FROM tok JOIN keep1 USING (doc_id)),
sh1 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM tok1, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
hx AS (SELECT doc_id, md5('s0:' || shingle) || md5('s1:' || shingle) || md5('s2:' || shingle) || md5('s3:' || shingle) AS hh FROM sh1),
hs AS (SELECT doc_id, {_PIPE_H} FROM hx),
sig AS (SELECT doc_id, {_PIPE_SIG} FROM hs GROUP BY 1),
bands AS ({_PIPE_BANDS}),
bsz AS (SELECT band, h0, h1, count(*) AS n FROM bands GROUP BY 1, 2, 3),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a JOIN bands b
         ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
         JOIN bsz ON bsz.band = a.band AND bsz.h0 = a.h0 AND bsz.h1 = a.h1
                 AND bsz.n <= 64),
sz AS (SELECT doc_id, count(*) AS n FROM sh1 GROUP BY 1),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM sh1 a JOIN sh1 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
ver AS (SELECT i.d1, i.d2 FROM inter i
        JOIN cand USING (d1, d2)
        JOIN sz na ON na.doc_id = i.d1
        JOIN sz nb ON nb.doc_id = i.d2
        WHERE i.c / CAST(na.n + nb.n - i.c AS DOUBLE) >= 0.6)
SELECT k.doc_id FROM keep1 k
WHERE k.doc_id NOT IN (SELECT d2 FROM ver)
ORDER BY doc_id
""",
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline as one composition: exact survivors
    (min doc_id per digest) -> MinHash-LSH candidates -> exact 3-gram
    Jaccard verify (>= 0.6) -> greedy keep (drop the larger id of each
    verified pair). Demonstrates that the dedup operators chain without
    materialization boundaries; every stage is the already-tested
    operator."""
    docs = _docs(spark, sf_dir)
    # r13: keep1 gates both downstream tokenization passes AND is
    # itself the surviving id set — checkpoint the id list once (V
    # longs) and emit it directly as the terminal left side instead of
    # a third docs scan (docs1.doc_id == keep1 by construction: keep
    # ids are distinct doc_ids drawn from docs)
    keep1 = (
        dedup.exact_duplicates(docs)
        .select(F.col("keep_id").alias("doc_id"))
        .transform(checkpoint_hub)
    )
    docs1 = docs.join(keep1, "doc_id", "semi")
    cand = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(dedup.shingles_df(docs1), num_hashes=8)
    )
    jac = dedup.ngram_jaccard_pairs(docs1, threshold=0.6, block_col=None)
    drops = jac.join(cand, ["d1", "d2"], "semi").select(F.col("d2").alias("doc_id"))
    return (
        keep1.join(drops, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM sh a JOIN sh b
            ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pr AS (SELECT d1, d2 FROM inter
       JOIN sz na ON na.doc_id = d1
       JOIN sz nb ON nb.doc_id = d2
       WHERE c / CAST(na.n + nb.n - c AS DOUBLE) >= 0.6),
sym AS (SELECT d1 AS src, d2 AS dst FROM pr UNION ALL SELECT d2, d1 FROM pr),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT s.dst AS node, r.label
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.label < s.dst
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY 1)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id,
       (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_survivor
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP done right: near-dup similarity is not
    transitive, so greedy pair-dropping (q_dedup_pipeline's last stage)
    can drop a doc whose counterpart was itself dropped. Here verified
    pairs become edges, connected components (the already-tested
    pointer-jumping operator, operators/graph.py) give each duplicate
    CLUSTER a canonical id (min doc_id reachable), and exactly one
    survivor per cluster is kept; singletons survive trivially. The
    oracle replays components as a recursive CTE — the same
    equivalent-formulation pattern as q_connected_components, applied
    to the curation capstone."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.6, block_col="source")
    edges = pairs.select(
        F.col("d1").alias("actor1"), F.col("d2").alias("actor2")
    )
    comp = graph.connected_components(edges).select(
        F.col("actor").alias("doc_id"), "component"
    )
    out = docs.select("doc_id").join(comp, "doc_id", "left")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_survivor"),
    ).orderBy("doc_id")


@query(
    "q_decontam",
    bench=True,
    oracle=f"""
WITH {_TOK_CTE},
g AS (SELECT DISTINCT doc_id,
             {_H64.format(x="array_to_string(list_slice(t, i, i + 3), ' ')")} AS gh
      FROM tok, UNNEST(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4),
b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id,
       CAST(count(b.gh) AS BIGINT) AS n_hit_ngrams,
       CAST(count(*) AS BIGINT) AS n_doc_ngrams,
       round(CAST(count(b.gh) AS DOUBLE) / count(*), 6) AS hit_ratio
FROM g LEFT JOIN b ON g.gh = b.gh
WHERE g.doc_id % 97 != 0
GROUP BY g.doc_id HAVING count(b.gh) > 0
ORDER BY g.doc_id
""",
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    4-gram with the benchmark split (doc_id % 97 == 0 — the
    deterministic stand-in for an eval set; production rules use
    8-13-grams, but the synthetic corpus' short docs need n=4 to
    exercise a non-empty overlap). Benchmark n-gram hashes
    are distinct + BROADCAST, so at 100 TB the check is a map-side
    semi-join over the training n-gram stream; one aggregation
    shuffle. The oracle replays hash64 over the same slices."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return text.decontaminate(train, bench, n=4).orderBy("doc_id")


@query(
    "q_chunk_dups",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id, t, unnest(range(0, len(t), 25)) AS start_tok
      FROM tok WHERE len(t) > 0),
c AS (SELECT doc_id,
             {_H64.format(x="array_to_string(list_slice(t, start_tok + 1, start_tok + 50), ' ')")} AS chunk_hash
      FROM s WHERE len(t) - start_tok >= 50)
SELECT chunk_hash,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM c GROUP BY chunk_hash
HAVING count(DISTINCT doc_id) > 1
ORDER BY n_occurrences DESC, chunk_hash
""",
)
def q_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated passages: full 50-token chunk
    fingerprints occurring in more than one document — the
    stride-granular approximation of exact-substring dedup (boilerplate
    / template detection). Reuses chunk_documents' fingerprints, keeps
    only FULL windows (a short tail chunk equal to another doc's tail
    is likelier chance than boilerplate), one map-side-combined
    groupBy on the 60-bit hash."""
    ch = text.chunk_documents(_docs(spark, sf_dir), window=50, stride=25)
    return (
        ch.where(F.col("n_chunk_tokens") >= 50)
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
    )


@query(
    "q_minhash_calibration",
    oracle=(
        f"WITH {_TOK_CTE}, {_SH_CTE}, "
        "hx AS (SELECT doc_id, md5('s0:' || shingle) || md5('s1:' || shingle) || md5('s2:' || shingle) || md5('s3:' || shingle) AS hh FROM sh), "
        "hs AS (SELECT doc_id, "
        + ", ".join(
            f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}"
            for i in range(8)
        )
        + " FROM hx), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"min(h{i}) AS h{i}" for i in range(8))
        + " FROM hs GROUP BY 1), "
        "bands AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, h{2 * b} AS h0, h{2 * b + 1} AS h1 FROM sig"
            for b in range(4)
        )
        + "), "
        "bsz AS (SELECT band, h0, h1, count(*) AS n FROM bands GROUP BY 1, 2, 3), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM bands a JOIN bands b "
        "ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id "
        "JOIN bsz ON bsz.band = a.band AND bsz.h0 = a.h0 AND bsz.h1 = a.h1 "
        "AND bsz.n <= 64), "
        "est AS (SELECT cand.d1, cand.d2, ("
        + " + ".join(
            f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(8)
        )
        + ") / 8.0 AS est_jac "
        "FROM cand JOIN sig sa ON sa.doc_id = cand.d1 "
        "JOIN sig sb ON sb.doc_id = cand.d2), "
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2) "
        "SELECT est.d1, est.d2, round(est.est_jac, 6) AS est_jac, "
        "round(COALESCE(inter.c, 0) / CAST(na.n + nb.n - COALESCE(inter.c, 0) AS DOUBLE), 6) AS jac, "
        "round(abs(est.est_jac - COALESCE(inter.c, 0) / CAST(na.n + nb.n - COALESCE(inter.c, 0) AS DOUBLE)), 6) AS abs_err "
        "FROM est "
        "LEFT JOIN inter ON inter.d1 = est.d1 AND inter.d2 = est.d2 "
        "JOIN sz na ON na.doc_id = est.d1 "
        "JOIN sz nb ON nb.doc_id = est.d2 "
        "ORDER BY est.d1, est.d2"
    ),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-grading query: for every LSH candidate pair (the
    q_dedup_minhash setting — k=8, 4x2 bands, bucket cap 64), the
    MinHash-ESTIMATED Jaccard (fraction of equal signature components)
    next to the EXACT 3-gram Jaccard and their absolute error — the
    calibration evidence that the sketch the 100 TB path trusts tracks
    the truth the verify stage computes. Exact overlaps are computed
    only for shingles of docs that appear in a candidate pair
    (left-semi restriction), so the verify join is candidate-bounded,
    never corpus-quadratic; the oracle replays signatures, banding,
    cap, and exact overlap bit-for-bit."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles_df(docs)
    # r13: sigs fans out into banding + both signature sides, cands
    # into the estimate and both id projections — without the
    # checkpoints the audited plan re-ran the corpus tokenization /
    # signature pass per reference (22 parquet scans / 66 Exchanges).
    # sigs is V x 8 longs; cands is the capped candidate-pair set.
    sigs = checkpoint_hub(
        dedup.minhash_signatures(sh, num_hashes=8), max_width=9
    )
    cands = dedup.lsh_candidate_pairs(
        sigs, rows_per_band=2, max_bucket=64
    ).transform(checkpoint_hub)
    sa = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)],
    )
    est_expr = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(8)
    ) / F.lit(8.0)
    est = (
        cands.join(sa, "d1").join(sb, "d2").select("d1", "d2", est_expr.alias("est_jac"))
    )
    ids = (
        cands.select(F.col("d1").alias("doc_id"))
        .union(cands.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # r13: candidate-bounded shingle slice, checkpointed — it feeds
    # BOTH the pairwise intersection and the per-doc sizes (the sizes
    # only ever re-attach to candidate docs through the d1/d2 inner
    # joins below, so computing them from the slice is value-identical
    # and drops the second full-corpus shingle pass)
    sh_c = (
        sh.join(ids, "doc_id", "left_semi")
        .select("doc_id", "shingle")
        .transform(checkpoint_hub)
    )
    inter = (
        sh_c.alias("a")
        .join(
            sh_c.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    c0 = F.coalesce(F.col("c"), F.lit(0))
    jac = c0 / (F.col("na") + F.col("nb") - c0)
    return (
        est.join(inter, ["d1", "d2"], "left")
        .join(na, "d1")
        .join(nb, "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("est_jac"), 6).alias("est_jac"),
            F.round(jac, 6).alias("jac"),
            F.round(F.abs(F.col("est_jac") - jac), 6).alias("abs_err"),
        )
        .orderBy("d1", "d2")
    )


@query(
    "q_ngram_novelty",
    oracle=f"""
WITH {_TOK_CTE}, {_SH_CTE},
fo AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS novel_frac
FROM sh s JOIN fo f USING (shingle)
GROUP BY 1 ORDER BY s.doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against the whole corpus in doc_id
    (= arrival) order: the fraction of a doc's distinct 3-gram
    shingles whose corpus-wide first occurrence is the doc itself —
    the incremental-diversity signal a curation pipeline uses to
    prefer documents that add new content over near-paraphrases
    (complements q_dedup_*: novelty is graded, not thresholded).
    Scale shape: min(doc_id) OVER (PARTITION BY shingle) instead of
    the aggregate-then-self-join form — ONE corpus scan, ONE
    tokenize pass, ONE shuffle keyed on shingle (the join form would
    scan+tokenize twice and try to broadcast a corpus-scale
    distinct-shingle table), then the per-doc agg is doc-keyed.
    Linear, no all-pairs anywhere; the oracle uses the join form the
    window provably equals."""
    from pyspark.sql import Window

    from neo4j_dynagraph_spark.operators.dedup import shingles_df

    sh = shingles_df(_docs(spark, sf_dir)).select("doc_id", "shingle")
    flagged = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("shingle"))
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)), 6
            ).alias("novel_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_dedup_prefix",
    oracle=f"""
WITH {_TOK_CTE},
tokd AS (SELECT DISTINCT doc_id, u.w AS token FROM tok, UNNEST(t) AS u(w)),
dfc AS (SELECT token, count(*) AS df FROM tokd GROUP BY 1),
sz AS (SELECT doc_id, count(*) AS n FROM tokd GROUP BY 1),
pr AS (SELECT t.doc_id, t.token, s.n,
              row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS pos
       FROM tokd t JOIN dfc d USING (token) JOIN sz s USING (doc_id)),
pf AS (SELECT doc_id, token, n FROM pr WHERE pos <= n - ceil(0.9 * n) + 1),
cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2
         FROM pf a JOIN pf b USING (token) WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4),
cm AS (SELECT c.d1, c.d2, c.n1, c.n2, count(*) AS common
       FROM cand c
       JOIN tokd x ON x.doc_id = c.d1
       JOIN tokd y ON y.doc_id = c.d2 AND y.token = x.token
       GROUP BY 1, 2, 3, 4)
SELECT d1, d2, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(common AS BIGINT) AS common,
       round(common / (n1 + n2 - common), 6) AS jac
FROM cm WHERE common / (n1 + n2 - common) >= 0.9
ORDER BY d1, d2
""",
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard join (t=0.9) via PPJoin-style prefix
    filtering — the COMPLETE near-dup candidate strategy (MinHash
    banding misses true pairs with prob (1-J^r)^b; the prefix filter
    provably misses none at the threshold). Candidates come from an
    equi-join on each doc's n-ceil(tn)+1 RAREST tokens (global-df
    order), so buckets concentrate in rare tokens and stay small;
    verification is a relational shared-token count, no arrays
    shipped. Output volume is corpus-determined: this generator's
    small shared vocabulary makes token SETS near-degenerate (9 k
    pairs at 500 docs even at t=0.9) — the discriminative production
    setting is 3-gram shingles (q_ngram_jaccard); this entry grades
    the candidate-generation STRATEGY itself."""
    from neo4j_dynagraph_spark.operators.dedup import prefix_jaccard_join

    return prefix_jaccard_join(_docs(spark, sf_dir), threshold=0.9)


@query(
    "q_dup_spans",
    oracle=f"""
WITH tok AS (SELECT doc_id, source, {_TOK} AS t FROM documents),
tk AS (SELECT doc_id, source, t FROM tok WHERE len(t) >= 3),
sp AS (SELECT doc_id, source,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM tk, UNNEST(range(1, len(t) - 1)) AS u(i)),
ds AS (SELECT doc_id, source, shingle, count(*) AS c
       FROM sp GROUP BY 1, 2, 3),
sd AS (SELECT shingle, min(doc_id) <> max(doc_id) AS is_dup
       FROM ds GROUP BY 1),
pd AS (SELECT doc_id, source, sum(c) AS n_pos,
              sum(CASE WHEN is_dup THEN c ELSE 0 END) AS n_dup_pos
       FROM ds JOIN sd USING (shingle) GROUP BY 1, 2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(round(n_dup_pos / CAST(n_pos AS DOUBLE), 6)), 6)
           AS avg_dup_frac,
       CAST(sum(CASE WHEN n_dup_pos / CAST(n_pos AS DOUBLE) >= 0.2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM pd GROUP BY 1 ORDER BY source
""",
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-span audit (Lee et al. 2022's exact-
    substring dedup, blocked at word-3-gram granularity): per source,
    how many docs, the mean fraction of shingle positions covered by
    spans that also appear in another document, and how many docs
    cross the 20% removal threshold. The occurrence table is
    pre-aggregated to (doc, shingle, count) before the cross-doc test,
    so both the shingle-level aggregate and the join-back run on
    distinct occurrences — never the raw position stream twice. Oracle
    replays shingling, the min!=max cross-doc test, and both
    aggregates."""
    stats = dedup.dup_span_stats(_docs(spark, sf_dir))
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
            F.sum(
                F.when(
                    F.col("n_dup_pos") / F.col("n_pos").cast("double")
                    >= 0.2,
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@query(
    "q_dup_spans_exact",
    bench=True,
    oracle=f"""
WITH {_TOK_CTE},
tk AS (SELECT doc_id, source, t FROM tok WHERE len(t) >= 50),
ws AS (SELECT doc_id, source, i AS start,
              {_H64.format(x="array_to_string(list_slice(t, i + 1, i + 50), ' ')")} AS h
       FROM tk, UNNEST(range(0, len(t) - 49)) AS u(i)),
dp AS (SELECT h FROM ws GROUP BY h HAVING min(doc_id) <> max(doc_id)),
st AS (SELECT doc_id, source, start,
              CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) = 1
                   THEN 0 ELSE 1 END AS brk
       FROM ws WHERE h IN (SELECT h FROM dp)),
isl AS (SELECT doc_id, source, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
        FROM st),
sp AS (SELECT doc_id, source, island,
              min(start) AS s, max(start) + 49 AS e
       FROM isl GROUP BY 1, 2, 3)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_spanned,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(e - s + 1) AS BIGINT) AS n_span_tokens,
       round(avg(e - s + 1), 6) AS avg_span_len,
       CAST(max(e - s + 1) AS BIGINT) AS max_span_len
FROM sp GROUP BY 1 ORDER BY source
""",
)
def q_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE exact-substring dedup audit (Lee et al. 2022 at its
    published >= 50-token granularity), upgrading `q_dup_spans`'
    3-gram blocking: stride-1 rolling 50-token fingerprints (one row
    per token position — linear), cross-doc test via the constant-
    state min!=max trick on the uniform 60-bit hash, overlapping dup
    windows merged into MAXIMAL spans by a per-doc lag/running-sum
    window (per-doc state only). Per source: docs with >= 1 span, span
    count, tokens covered, mean and max span length — the numbers the
    paper's suffix-array pass reports, with identical semantics for
    spans >= 50 tokens. Oracle replays the fingerprint stream, the
    cross-doc test, and the island merge with the same window
    functions."""
    spans = dedup.exact_dup_spans(_docs(spark, sf_dir), span=50)
    return (
        spans.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_spanned"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("span_len").cast("long").alias("n_span_tokens"),
            F.round(F.avg("span_len"), 6).alias("avg_span_len"),
            F.max("span_len").cast("long").alias("max_span_len"),
        )
        .orderBy("source")
    )


def _bloom_probe_sql(alias: str) -> str:
    return ", ".join(
        _H64.format(x=f"'b{i}:' || {alias}.gram") + f" % 2064384 AS h{i}"
        for i in range(4)
    )


@query(
    "q_bloom_decontam",
    oracle=f"""
WITH {_TOK_CTE},
g AS (SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 3), ' ') AS gram
      FROM tok, UNNEST(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4),
bg AS (SELECT {_bloom_probe_sql('g')} FROM g WHERE doc_id % 97 = 0),
bh AS (SELECT unnest([h0, h1, h2, h3]) AS pos FROM bg),
bloom AS (SELECT pos // 63 AS word,
                 bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bits
          FROM bh GROUP BY 1),
tg AS (SELECT doc_id, gram, {_bloom_probe_sql('g')}
       FROM g WHERE doc_id % 97 != 0),
tp AS (SELECT doc_id, gram, unnest([h0, h1, h2, h3]) AS pos FROM tg),
pr AS (SELECT doc_id, gram, pos // 63 AS word,
              1::BIGINT << CAST(pos % 63 AS INTEGER) AS mask FROM tp),
gh AS (SELECT doc_id, gram,
              CASE WHEN sum(CASE WHEN (coalesce(b.bits, 0) & mask) <> 0
                                 THEN 1 ELSE 0 END) = 4
                   THEN 1 ELSE 0 END AS in_bloom
       FROM pr LEFT JOIN bloom b ON pr.word = b.word GROUP BY 1, 2)
SELECT doc_id, CAST(sum(in_bloom) AS BIGINT) AS n_bloom_hits,
       CAST(count(*) AS BIGINT) AS n_doc_ngrams,
       round(sum(in_bloom) / CAST(count(*) AS DOUBLE), 6) AS hit_ratio
FROM gh GROUP BY 1 HAVING sum(in_bloom) > 0 ORDER BY doc_id
""",
)
def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination over the SAME benchmark split as
    `q_decontam` (doc_id % 97, word 4-grams) — the constant-size scale
    twin: the benchmark n-gram set folds into a 32768-word / 63-bit
    portable Bloom table (256 KB broadcast regardless of benchmark
    size; ~0.1% FP at the sf1 benchmark's ~10^5 grams — an sf1 probe
    measured the 64 Kb variant SATURATED at ~100% FP, see the
    operator docstring), probed map-side with 4 portable hashes. One-sided error:
    never misses a true overlap (test-pinned superset of q_decontam);
    false positives are the price and are measured by comparing the
    two queries' flag counts. Oracle replays hashing, the bit_or
    fold, and every probe."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return text.bloom_decontaminate(train, bench, n=4).orderBy("doc_id")


@query(
    "q_span_removal",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
sh AS (SELECT doc_id, i - 1 AS i,
              t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM tok, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
dup AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM sh)
        GROUP BY shingle HAVING min(doc_id) <> max(doc_id)),
st AS (SELECT doc_id, list(DISTINCT i) AS starts
       FROM sh JOIN dup USING (shingle) GROUP BY 1),
r AS (SELECT tok.doc_id, t, coalesce(st.starts, []) AS starts
      FROM tok LEFT JOIN st ON tok.doc_id = st.doc_id
      WHERE len(t) > 0),
k AS (SELECT doc_id, t,
             list_filter(range(0, len(t)),
                         i -> NOT len(list_filter(starts,
                              s -> s <= i AND i <= s + 2)) > 0) AS keep_idx
      FROM r)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(keep_idx) AS BIGINT) AS n_removed,
       round((len(t) - len(keep_idx)) / CAST(len(t) AS DOUBLE), 6)
           AS removed_frac,
       md5(coalesce(array_to_string(list_transform(keep_idx, i -> t[i+1]),
                                    ' '), '')) AS rebuilt_md5
FROM k ORDER BY doc_id
""",
)
def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL (the act half of `q_dup_spans`'
    audit, Lee et al. 2022 blocked at word 3-grams): every doc
    rewritten with tokens dropped wherever a covering 3-gram also
    appears in another document; the rebuilt text is verified by md5
    terminal (vocab_prune's rebuild stance). Dup test is the min!=max
    constant-state trick; per-doc start lists are one collect_set
    (doc-length-bounded); the rewrite is a single JVM array
    expression. Oracle replays shingling, coverage, and the rebuild
    byte-for-byte."""
    return dedup.remove_dup_spans(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_span_removal_exact",
    oracle=f"""
WITH {_TOK_CTE},
wk AS (SELECT doc_id, i AS start,
              {_H64.format(x="array_to_string(list_slice(t, i + 1, i + 50), ' ')")} AS h
       FROM tok, UNNEST(range(0, len(t) - 49)) AS u(i) WHERE len(t) >= 50),
dp AS (SELECT h FROM wk GROUP BY h HAVING min(doc_id) <> max(doc_id)),
st AS (SELECT doc_id, list(DISTINCT start) AS starts
       FROM wk WHERE h IN (SELECT h FROM dp) GROUP BY 1),
r AS (SELECT tok.doc_id, t, coalesce(st.starts, []) AS starts
      FROM tok LEFT JOIN st ON tok.doc_id = st.doc_id
      WHERE len(t) > 0),
k AS (SELECT doc_id, t,
             list_filter(range(0, len(t)),
                         i -> NOT len(list_filter(starts,
                              s -> s <= i AND i <= s + 49)) > 0) AS keep_idx
      FROM r)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(keep_idx) AS BIGINT) AS n_removed,
       round((len(t) - len(keep_idx)) / CAST(len(t) AS DOUBLE), 6)
           AS removed_frac,
       md5(coalesce(array_to_string(list_transform(keep_idx, i -> t[i+1]),
                                    ' '), '')) AS rebuilt_md5
FROM k ORDER BY doc_id
""",
)
def q_span_removal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span removal at Lee et al. 2022's published
    >= 50-token granularity (the act half of `q_dup_spans_exact`'s
    audit, completing the pair the 3-gram-blocked `q_span_removal`
    approximates): every doc rewritten with tokens dropped wherever a
    covering 50-token window appears verbatim in another document;
    rebuilt text verified by md5 terminal. Stride-1 rolling
    fingerprints, constant-state min!=max dup test, doc-length-bounded
    start lists, single JVM rebuild expression. Oracle replays
    fingerprinting, coverage, and the rebuild byte-for-byte."""
    return dedup.remove_exact_dup_spans(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


@query(
    "q_minhash_decontam",
    oracle=(
        f"WITH {_TOK_CTE}, {_SH_CTE}, "
        "hx AS (SELECT doc_id, md5('s0:' || shingle) || md5('s1:' || shingle) "
        "|| md5('s2:' || shingle) || md5('s3:' || shingle) AS hh FROM sh), "
        "hs AS (SELECT doc_id, "
        + ", ".join(
            f"('0x' || substr(hh, {15 * i + 1}, 15))::BIGINT AS h{i}"
            for i in range(8)
        )
        + " FROM hs_src), "
        "sig AS (SELECT doc_id, "
        + ", ".join(f"min(h{i}) AS h{i}" for i in range(8))
        + " FROM hs GROUP BY 1), "
        "bench AS (SELECT * FROM sig WHERE doc_id % 97 = 0), "
        "train AS (SELECT * FROM sig WHERE doc_id % 97 <> 0), "
        # the PURE agreement rule over train x bench (bench is tiny, so
        # the oracle can afford the exact cross product): with the
        # operator's rows_per_band=1 default its banded candidate set
        # is a superset of the rule, so Spark output == this rule
        "eq AS (SELECT t.doc_id, bs.doc_id AS bench_id, ("
        + " + ".join(
            f"CASE WHEN t.h{i} = bs.h{i} THEN 1 ELSE 0 END" for i in range(8)
        )
        + ") AS n_eq FROM train t CROSS JOIN bench bs) "
        "SELECT doc_id, bench_id, CAST(n_eq AS BIGINT) AS n_eq, "
        "round(n_eq / 8.0, 6) AS est_jaccard "
        "FROM eq WHERE n_eq >= 4 ORDER BY doc_id, bench_id"
    ).replace("FROM hs_src", "FROM hx"),
    empty_ok=True,
)
def q_minhash_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (MinHash signature agreement)
    — the near-duplicate complement to q_decontam's exact 8-gram rule
    and q_bloom_decontam's constant-space twin: a paraphrased eval
    answer shares few verbatim 8-grams but keeps high shingle
    Jaccard, so the flag is >= 4 of 8 signature components equal
    (estimated J >= 0.5) between a training doc and the doc_id % 97
    benchmark set. One signature pass over the union; the benchmark
    bands AND signatures broadcast (eval sets are tiny at 100 TB), so
    candidate generation and the agreement verify are map-side —
    never all-pairs. With the operator's rows_per_band=1 default the
    banded candidates are a strict superset of the agreement rule, so
    the oracle checks the PURE rule (exact signature replay + tiny
    cross product) — proving zero LSH false negatives, the contract a
    decontamination gate needs (operators/dedup.py
    minhash_decontaminate)."""
    return dedup.minhash_decontaminate(
        _docs(spark, sf_dir), F.col("doc_id") % 97 == 0
    ).orderBy("doc_id", "bench_id")
