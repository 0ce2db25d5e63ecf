"""Curation / sampling / mixing family: quality scoring, token budgets,
stratified & temperature sampling, DSIR, packing, train splits.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import text
from neo4j_dynagraph_spark.queries import query

from neo4j_dynagraph_spark.queries_ext._shared import (
    _GOPHER_FEAT_SQL,
    _GOPHER_PASS_SQL,
    _GOPHER_RULES_SQL,
    _H64,
    _TOK,
    _TOK_CTE,
    _docs,
    sql_str,
)


@query(
    "q_curate",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id, len(t) AS n_tokens,
             len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS ttr
      FROM tok WHERE len(t) > 0)
SELECT s.doc_id, d.lang, CAST(s.n_tokens AS BIGINT) AS n_tokens
FROM s JOIN documents d USING (doc_id)
WHERE s.n_tokens >= 30 AND s.ttr >= 0.35
  AND ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 < 2
ORDER BY doc_id
""",
)
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation: quality gate (length + type-token ratio) then a
    DETERMINISTIC 40% subsample via hash-mod on doc_id — reproducible
    under any partitioning (F.rand sampling is not), and exactly
    replayable in SQL. The composition pattern every training-data
    pipeline ends with: score -> filter -> stratify."""
    docs = _docs(spark, sf_dir)
    stats = text.text_stats(docs)
    import neo4j_dynagraph_spark.functions as dfn

    return (
        stats.where((F.col("n_tokens") >= 30) & (F.col("ttr") >= 0.35))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .where(dfn.hash64(F.col("doc_id").cast("string")) % 5 < 2)
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    )


@query(
    "q_token_budget_sample",
    oracle=f"""
WITH t AS (SELECT doc_id, source AS stratum,
                  len({_TOK}) AS ws,
                  {_H64.format(x="'mix:' || doc_id")} AS rk
           FROM documents),
c AS (SELECT doc_id, stratum, ws,
             sum(ws) OVER (PARTITION BY stratum ORDER BY rk, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT doc_id, stratum, CAST(ws AS BIGINT) AS ws_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 700 ORDER BY doc_id
""",
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: per-source documents are
    hash-ordered and taken while the running whitespace-token sum
    stays within a 700-token budget — the data-mixing step that
    builds a training mixture with controlled per-source shares
    (greedy exact mode; the map-only rate mode is the 100 TB path,
    unit-tested). The sample is a pure function of the corpus via
    hash64('mix:' || doc_id), replayed by the oracle."""
    return text.token_budget_sample(
        _docs(spark, sf_dir), budget=700, mode="greedy"
    )


@query(
    "q_quality_score",
    oracle=f"""
WITH {_TOK_CTE},
f AS (SELECT t.doc_id,
        CAST(len(t.t) AS BIGINT) AS n_tokens,
        ln(1.0 + CAST(len(t.t) AS DOUBLE)) AS f_len,
        len(list_distinct(t.t)) / CAST(len(t.t) AS DOUBLE) AS f_ttr,
        len(list_filter(t.t, x -> x = 'the' OR x = 'a' OR x = 'of'
                               OR x = 'and' OR x = 'to'))
          / CAST(greatest(len(t.t), 1) AS DOUBLE) AS f_stop,
        len(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))
          / CAST(greatest(len(lower(d.text)), 1) AS DOUBLE) AS f_alpha,
        CAST(list_sum(list_transform(t.t, x -> len(x))) AS DOUBLE)
          / CAST(len(t.t) AS DOUBLE) AS f_wordlen
      FROM tok t JOIN documents d ON d.doc_id = t.doc_id
      WHERE len(t.t) > 0)
SELECT doc_id, n_tokens,
       round(1.0 / (1.0 + exp(-(-3.0 + 0.6 * f_len + 2.0 * f_ttr
             + 4.0 * f_stop + 3.0 * f_alpha + -0.2 * f_wordlen))), 6)
         AS quality,
       round(1.0 / (1.0 + exp(-(-3.0 + 0.6 * f_len + 2.0 * f_ttr
             + 4.0 * f_stop + 3.0 * f_alpha + -0.2 * f_wordlen))), 6) >= 0.5
         AS keep
FROM f ORDER BY doc_id
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (CCNet/fastText shape): five
    lexical features -> fixed-weight logistic score -> keep decision,
    all one codegen projection (operators/text.py:quality_score). The
    oracle replays the exact model — same features, weight order, and
    rounded-score threshold — so the filter decision is verified
    bit-for-bit across engines."""
    return text.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_pack_sequences",
    oracle=f"""
WITH {_TOK_CTE},
n AS (SELECT doc_id, len(t) AS n_tok FROM tok WHERE len(t) > 0),
c AS (SELECT doc_id, n_tok,
             CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start
      FROM n),
e AS (SELECT doc_id, start, start + n_tok AS fin FROM c),
x AS (SELECT doc_id, u.s AS seq_id, start, fin
      FROM e, unnest(range(start // 128, (fin - 1) // 128 + 1)) AS u(s))
SELECT seq_id, doc_id,
       greatest(start, seq_id * 128) - seq_id * 128 AS seg_off,
       least(fin, (seq_id + 1) * 128) - greatest(start, seq_id * 128) AS seg_len
FROM x ORDER BY seq_id, doc_id
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing index: documents concatenated in doc_id order
    and cut into 128-token training sequences, one row per
    (sequence, doc-segment) with the segment's in-sequence offset and
    length (operators/text.py:pack_sequences). The engine runs the
    two-phase DISTRIBUTED prefix sum (per-chunk totals take the only
    global window); the oracle replays the same packing with a plain
    sequential window — identical output, different physical shape,
    which is exactly the point of the chunked form."""
    return text.pack_sequences(_docs(spark, sf_dir), seq_len=128)


@query(
    "q_train_shards",
    oracle=f"""
WITH h AS (SELECT doc_id,
                  {_H64.format(x="'shard:' || doc_id")} AS h
           FROM documents),
s AS (SELECT doc_id, h, h % 16 AS shard FROM h)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM s ORDER BY shard, pos
""",
)
def q_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle + sharding: portable 60-bit
    hash assigns each doc a shard (mod 16) and a dense pseudorandom
    position within it (operators/text.py:train_shards) — the
    reproducible global permutation a loader consumes, RNG-free so the
    oracle derives the identical permutation. Window parallelism is
    per-shard; no global sort anywhere."""
    return text.train_shards(_docs(spark, sf_dir), n_shards=16)


@query(
    "q_training_mix",
    bench=True,
    oracle=f"""
WITH {_TOK_CTE},
keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
s AS (SELECT tok.doc_id, t, len(t) AS n_tokens,
             len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS ttr
      FROM tok JOIN keep1 USING (doc_id) WHERE len(t) > 0),
q AS (SELECT doc_id, t FROM s WHERE n_tokens >= 30 AND ttr >= 0.35),
g AS (SELECT DISTINCT doc_id,
             {_H64.format(x="array_to_string(list_slice(t, i, i + 3), ' ')")} AS gh
      FROM tok, UNNEST(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4),
b AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
contam AS (SELECT DISTINCT g.doc_id FROM g JOIN b USING (gh)
           WHERE g.doc_id % 97 != 0),
clean AS (SELECT doc_id, t FROM q
          WHERE doc_id % 97 != 0
            AND doc_id NOT IN (SELECT doc_id FROM contam)),
n AS (SELECT doc_id, len(t) AS n_tok FROM clean WHERE len(t) > 0),
c AS (SELECT doc_id, n_tok,
             CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start
      FROM n),
e AS (SELECT doc_id, start, start + n_tok AS fin FROM c),
x AS (SELECT doc_id, u.s AS seq_id, start, fin
      FROM e, unnest(range(start // 128, (fin - 1) // 128 + 1)) AS u(s))
SELECT seq_id, doc_id,
       greatest(start, seq_id * 128) - seq_id * 128 AS seg_off,
       least(fin, (seq_id + 1) * 128) - greatest(start, seq_id * 128) AS seg_len
FROM x ORDER BY seq_id, doc_id
""",
)
def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data capstone: exact dedup (min-id survivor
    per content hash) -> quality gate (length + type-token ratio) ->
    benchmark decontamination (4-gram broadcast semi-join, train split
    only) -> sequence packing of the clean corpus into 128-token
    training rows. Every stage is the already-verified operator
    (dedup/exact, text_stats, decontaminate, pack_sequences) composed
    as one lazy plan, and the oracle replays the WHOLE pipeline — the
    driver hash-checks the final packed index, so any stage drifting
    breaks the gate. Shuffle budget: content-hash agg, doc-id joins,
    the broadcast n-gram semi-join, and the packing prefix sum's
    chunk-total window — nothing quadratic anywhere."""
    docs = _docs(spark, sf_dir)
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
    # r13: pack_token_counts eagerly checkpoints its (doc_id, n_tok)
    # input, so the ENTIRE dedup -> quality -> decontam pipeline above
    # executes exactly once (its two-phase prefix sum references the
    # input twice and Spark has no cross-branch CSE — the audited plan
    # used to carry 36 parquet scans of documents).
    return text.pack_sequences(clean, seq_len=128)


_QUALITY_SQL = """
f AS (SELECT t.doc_id,
        ln(1.0 + CAST(len(t.t) AS DOUBLE)) AS f_len,
        len(list_distinct(t.t)) / CAST(len(t.t) AS DOUBLE) AS f_ttr,
        len(list_filter(t.t, x -> x = 'the' OR x = 'a' OR x = 'of'
                               OR x = 'and' OR x = 'to'))
          / CAST(greatest(len(t.t), 1) AS DOUBLE) AS f_stop,
        len(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))
          / CAST(greatest(len(lower(d.text)), 1) AS DOUBLE) AS f_alpha,
        CAST(list_sum(list_transform(t.t, x -> len(x))) AS DOUBLE)
          / CAST(len(t.t) AS DOUBLE) AS f_wordlen
      FROM tok t JOIN documents d ON d.doc_id = t.doc_id
      WHERE len(t.t) > 0),
q AS (SELECT doc_id,
             round(1.0 / (1.0 + exp(-(-3.0 + 0.6 * f_len + 2.0 * f_ttr
                   + 4.0 * f_stop + 3.0 * f_alpha + -0.2 * f_wordlen))), 6)
               AS quality
      FROM f)
"""


@query(
    "q_quality_sample",
    oracle=f"""
WITH {_TOK_CTE},
{_QUALITY_SQL}
SELECT doc_id, quality
FROM q
WHERE (({_H64.format(x="'qsamp:' || doc_id")}) + 1) / 1152921504606846976.0
      < quality
ORDER BY doc_id
""",
)
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic downsampling (the FineWeb-style
    curriculum knob, completing the mixture family beside the
    per-source token-budget sampler): each doc is kept with
    probability equal to its model quality score, decided by the
    portable hash — p(keep) = quality, zero RNG state, every engine
    and every re-run selects the IDENTICAL subset. One scan, map-side
    filter; the oracle replays the quality model AND the coin flip."""
    import neo4j_dynagraph_spark.functions as dfn

    scored = text.quality_score(_docs(spark, sf_dir))
    u = (
        dfn.hash64(F.concat(F.lit("qsamp:"), F.col("doc_id").cast("string")))
        + 1
    ) / F.lit(float(1 << 60))
    return (
        scored.where(u < F.col("quality"))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    )


@query(
    "q_stratified_sample",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id,
             len(list_filter(t, x -> x='the' OR x='a' OR x='of' OR x='and' OR x='to')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_en,
             len(list_filter(t, x -> x='el' OR x='la' OR x='de' OR x='que' OR x='y')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_es,
             len(list_filter(t, x -> x='der' OR x='die' OR x='und' OR x='das' OR x='ist')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_de
      FROM tok),
l AS (SELECT doc_id,
             CASE WHEN greatest(score_en, score_es, score_de) < 0.02 THEN 'unk'
                  WHEN score_en = greatest(score_en, score_es, score_de) THEN 'en'
                  WHEN score_es = greatest(score_en, score_es, score_de) THEN 'es'
                  ELSE 'de' END AS pred_lang
      FROM s),
r AS (SELECT doc_id, pred_lang,
             row_number() OVER (PARTITION BY pred_lang
                                ORDER BY ({_H64.format(x="'strat:' || doc_id")}), doc_id) AS rk
      FROM l)
SELECT doc_id, pred_lang, rk FROM r WHERE rk <= 25
ORDER BY pred_lang, rk
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED quota sampling — fixed per-stratum budget (here 25
    docs per predicted language), the balanced-mixture knob beside the
    probability (q_quality_sample) and token-budget
    (q_token_budget_sample) samplers: every stratum contributes at
    most its quota, chosen by the portable hash order so every engine
    and re-run picks the IDENTICAL subset. Scale shape: the
    per-stratum rank is the GROUPED two-phase rank
    (operators/rank.py) — bucket-local row_numbers plus a broadcast
    per-(stratum, bucket) offset table — never the one-task-per-
    stratum window a plain PARTITION BY pred_lang would plan; the
    oracle replays it with the plain window, which the order-aligned
    bucket split provably equals."""
    import neo4j_dynagraph_spark.functions as dfn
    from neo4j_dynagraph_spark.operators.rank import two_phase_rank

    lang = text.lang_id(_docs(spark, sf_dir)).select("doc_id", "pred_lang")
    hk = dfn.hash64(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    )
    ranked = two_phase_rank(
        lang.withColumn("_hk", hk),
        # hash keys are uniform on [0, 2^60): top 8 bits are an
        # order-aligned 256-way bucket
        F.expr(f"_hk div {1 << 52}"),
        [F.col("_hk"), "doc_id"],
        rank_col="rk",
        group_cols=["pred_lang"],
    )
    return (
        ranked.where(F.col("rk") <= 25)
        .select("doc_id", "pred_lang", "rk")
        .orderBy("pred_lang", "rk")
    )


@query(
    "q_ppl_buckets",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
u AS (SELECT doc_id, unnest(t) AS w FROM tok),
f AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
tt AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f),
s AS (SELECT u.doc_id, round(avg(-ln(f.c / tt.total)), 6) AS nlp
      FROM u JOIN f ON f.w = u.w CROSS JOIN tt GROUP BY 1),
l AS (SELECT s.doc_id, d.lang, s.nlp
      FROM s JOIN documents d USING (doc_id)),
r AS (SELECT lang, nlp,
             row_number() OVER (PARTITION BY lang
                                ORDER BY nlp, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM l),
b AS (SELECT lang, nlp, ((rk - 1) * 3) // n AS ppl_tercile FROM r)
SELECT lang, CAST(ppl_tercile AS BIGINT) AS ppl_tercile,
       CASE ppl_tercile WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(nlp), 6) AS mean_nlp,
       min(nlp) AS lo_nlp, max(nlp) AS hi_nlp
FROM b GROUP BY 1, 2, 3 ORDER BY lang, ppl_tercile
""",
)
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity partition: every doc
    scored by corpus unigram cross-entropy (q_unigram_logprob's
    signal), ranked within its language, split into terciles by rank —
    the language-stratified quality curriculum CCNet cuts before
    picking training slices. The per-language rank is the GROUPED
    two-phase rank bucketed on floor(nlp*16) (order-aligned magnitude
    buckets — no one-task-per-language window); per-language totals
    broadcast; the oracle replays rank + tercile arithmetic with the
    plain window the two-phase form provably equals
    (operators/text.py:ppl_buckets)."""
    return text.ppl_buckets(_docs(spark, sf_dir)).orderBy(
        "lang", "ppl_tercile"
    )


@query(
    "q_dsir_weights",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, {_TOK} AS t FROM documents),
u AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
             unnest(t) AS w FROM tok),
b AS (SELECT doc_id, tgt, ({_H64.format(x="w")}) % 64 AS bkt FROM u),
g AS (SELECT doc_id, tgt, bkt, count(*) AS n FROM b GROUP BY 1, 2, 3),
c AS (SELECT bkt, sum(n * tgt) AS ct, sum(n) AS cr FROM g GROUP BY 1),
t2 AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt,
              CAST(sum(cr) AS DOUBLE) AS nr FROM c),
r AS (SELECT bkt, ln((ct + 1) / (nt + 64)) - ln((cr + 1) / (nr + 64))
             AS logratio FROM c CROSS JOIN t2),
s AS (SELECT g.doc_id, CAST(sum(g.n) AS BIGINT) AS n_tok,
             round(sum(g.n * r.logratio), 6) AS dsir_weight
      FROM g JOIN r USING (bkt) GROUP BY 1)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, dsir_weight
FROM s ORDER BY dsir_weight DESC, doc_id LIMIT 50
""",
    bench=True,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed-unigram
    bucket distributions for the target domain (lang='en' docs) vs the
    raw corpus; each doc scored by the summed log-ratio of its token
    buckets; top-50 by weight are the docs importance-resampling would
    pull into the mix. The 64-row log-ratio table is a constant-size
    broadcast, so the scoring join is map-side; the final top-k plans
    as TakeOrderedAndProject. Oracle replays bucket hashing (portable
    md5 hash64 mod 64), both smoothed distributions, and the per-doc
    sum, bit-for-bit at 1e-6."""
    docs = _docs(spark, sf_dir)
    w = text.dsir_weights(docs, F.col("lang") == "en", n_buckets=64)
    return (
        w.orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(50)
        .select("doc_id", "n_tok", "dsir_weight")
    )


@query(
    "q_temperature_mix",
    oracle=f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS total, sum(pow(n, 0.5)) AS pa FROM c),
r AS (SELECT source, n, n / total AS share, pow(n, 0.5) / pa AS target
      FROM c, t),
mx AS (SELECT max(target / share) AS mr FROM r),
rt AS (SELECT source, n, share, target,
       round((target / share) / mr, 6) AS rate FROM r, mx),
k AS (SELECT d.source, count(*) AS n_kept
      FROM documents d JOIN rt ON d.source = rt.source
      WHERE ({_H64.format(x="'temp:' || d.doc_id")} + 1)
            / 1152921504606846976.0 < rate
      GROUP BY 1)
SELECT rt.source, CAST(rt.n AS BIGINT) AS n_docs,
       round(rt.share, 6) AS share,
       round(rt.target, 6) AS target_share,
       rt.rate AS keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rt LEFT JOIN k ON rt.source = k.source ORDER BY rt.source
""",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source resampling (α=0.5, the XLM/mT5
    multilingual-mixture rule): per-source keep rates ∝ share^α /
    share, normalized downsample-only, each doc decided by the
    portable hash coin against the ROUNDED rate — the deterministic
    twin of multinomial source sampling, completing the mixture
    family beside the token-budget / quality / stratified samplers.
    The rate table is |sources| rows broadcast onto the corpus scan;
    the keep decision is map-side. Oracle replays counts, the α-power
    shares, the normalization, and every coin flip."""
    return text.temperature_mix(_docs(spark, sf_dir), alpha=0.5)


@query(
    "q_weighted_sample",
    oracle=f"""
SELECT doc_id, n_chars AS weight,
       round(ln(({_H64.format(x="'ws:' || doc_id")} + 1)
                / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 9) AS es_key
FROM documents WHERE n_chars > 0
ORDER BY es_key DESC, doc_id LIMIT 50
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis exponential keys): top-50 docs by ln(u)/n_chars with u
    the portable-hash uniform — p(selected) ∝ n_chars, no RNG state,
    identical sample in every engine/run. One narrow projection +
    TakeOrderedAndProject; the 100 TB "sample 10k docs by token
    count" without a global sort. Oracle replays key arithmetic and
    the rank cut."""
    return text.es_weighted_sample(
        _docs(spark, sf_dir), "n_chars", k=50, salt="ws:"
    )


@query(
    "q_quality_calibration",
    oracle=f"""
WITH {_TOK_CTE},
{_QUALITY_SQL},
g AS (SELECT doc_id, greatest(len(t) - 2, 0) AS n,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [] END AS grams
      FROM tok),
lab AS (SELECT doc_id,
               CASE WHEN n > 0 AND
                    (1.0 - len(list_distinct(grams)) / CAST(n AS DOUBLE)) > 0.2
                    THEN 0.0 ELSE 1.0 END AS pos
        FROM g),
j AS (SELECT q.doc_id, q.quality, lab.pos,
             CAST(least(floor(q.quality * 10), 9) AS INTEGER) AS bin
      FROM q JOIN lab ON q.doc_id = lab.doc_id)
SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(quality), 6) AS avg_conf,
       round(avg(pos), 6) AS frac_pos,
       round(abs(avg(quality) - avg(pos)), 6) AS abs_gap
FROM j GROUP BY 1 ORDER BY bin
""",
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the quality model (reliability diagram /
    ECE binning): docs bucketed by predicted-quality decile, each bin
    reporting mean confidence vs the empirical rate of passing the
    Gopher repetition filter — the standard check before a model
    score gates a 100 TB corpus (a mis-calibrated score silently
    shifts the kept-token mix). Two narrow per-doc projections joined
    on doc_id, one 10-row aggregate; ECE is the n-weighted mean of
    abs_gap. Oracle replays the quality logistic, the repetition
    label, and the binning."""
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs).select("doc_id", "quality")
    r = text.repetition_stats(docs).select(
        "doc_id",
        F.when(F.col("flag_repetitive"), F.lit(0.0))
        .otherwise(F.lit(1.0))
        .alias("pos"),
    )
    j = q.join(r, "doc_id")
    return (
        j.groupBy(
            F.least(F.floor(F.col("quality") * 10), F.lit(9))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_conf"),
            F.round(F.avg("pos"), 6).alias("frac_pos"),
            F.round(F.abs(F.avg("quality") - F.avg("pos")), 6).alias(
                "abs_gap"
            ),
        )
        .orderBy("bin")
    )


@query(
    "q_train_split",
    oracle=f"""
WITH s AS (SELECT source,
                  CASE WHEN ({_H64.format(x="'split:' || doc_id")} + 1)
                            / 1152921504606846976.0 < 0.8 THEN 'train'
                       WHEN ({_H64.format(x="'split:' || doc_id")} + 1)
                            / 1152921504606846976.0 < 0.9 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents)
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY source)
                             AS DOUBLE), 6) AS frac
FROM s GROUP BY 1, 2 ORDER BY source, split
""",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by the portable
    hash coin — the reproducible holdout assignment every training
    pipeline needs: no RNG state, stable under re-runs, re-shards, and
    engine changes, and any doc's split is recomputable from its id
    alone (no assignment table to store or join at 100 TB). Output is
    the per-source split audit (counts + realized fractions). Oracle
    replays every coin flip."""
    import neo4j_dynagraph_spark.functions as dfn
    from pyspark.sql import Window

    u = (
        dfn.hash64(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        )
        + 1
    ) / F.lit(float(1 << 60))
    s = _docs(spark, sf_dir).select(
        "source",
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    counts = s.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # the per-source total is a window over <= 3 rows per source on
    # the already-aggregated table — dimension-sized, not corpus-sized
    w = Window.partitionBy("source")
    return (
        counts.select(
            "source",
            "split",
            "n_docs",
            F.round(
                F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
            ).alias("frac"),
        )
        .orderBy("source", "split")
    )


@query(
    "q_gopher_rules",
    oracle=f"""
WITH {_TOK_CTE},
feat AS (SELECT doc_id, source, {_GOPHER_FEAT_SQL}
FROM tok),
rules AS (SELECT source,
  {_GOPHER_RULES_SQL}
FROM feat)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mwl,
  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
  CAST(sum(CASE WHEN NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
  CAST(sum(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_rep
           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  round(sum(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_rep
            THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS pass_rate
FROM rules GROUP BY source ORDER BY source
""",
    bench=True,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the Gopher rule-based quality filter (Rae et
    al. 2021) — the explicit-threshold gate beside q_quality_score's
    logistic and q_quality_calibration's reliability check: per-rule
    failure counts attribute WHY docs are dropped (word count, mean
    word length, alpha fraction, stopword presence, unigram dominance)
    instead of one opaque pass rate. All five rules are JVM array
    expressions in one map-side pass (operators/text.py gopher_rules);
    the terminal is |sources| rows. Oracle replays every rule and the
    per-source roll-up."""
    rules = text.gopher_rules(_docs(spark, sf_dir))
    fails = [
        F.sum(F.when(~F.col(c), 1).otherwise(0))
        .cast("long")
        .alias(f"fail_{c[2:]}")
        for c in ("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep")
    ]
    return (
        rules.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *fails,
            F.sum(F.when(F.col("passed"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.round(
                F.sum(F.when(F.col("passed"), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


_PROBE_F = ("len", "ttr", "stop", "alpha", "wordlen")
# Interpolated (never re-typed) quality-stopword constant so a change
# in operators/text.py cannot silently desynchronize this oracle from
# the Spark-side features; the Gopher fragments live in _shared.py.
_Q_STOPS_EQ = " OR ".join(f"x = {sql_str(s)}" for s in text._QUALITY_STOPS)


def _probe_cte(steps: int, lr: float) -> str:
    """Unrolled GD replay for the trained quality probe: feature CTE
    (the q_quality_score features), per-doc Gopher label, then per
    step one scan computing the clamped log-loss and the mean residual
    gradient per coordinate, and the next weight row."""
    z = "b + " + " + ".join(f"w_{n} * f_{n}" for n in _PROBE_F)
    blocks = [
        f"""f AS (SELECT t.doc_id,
        ln(1.0 + CAST(len(t.t) AS DOUBLE)) AS f_len,
        len(list_distinct(t.t)) / CAST(len(t.t) AS DOUBLE) AS f_ttr,
        len(list_filter(t.t, x -> {_Q_STOPS_EQ}))
          / CAST(greatest(len(t.t), 1) AS DOUBLE) AS f_stop,
        len(regexp_replace(lower(d.text), '[^a-z]', '', 'g'))
          / CAST(greatest(len(lower(d.text)), 1) AS DOUBLE) AS f_alpha,
        CAST(list_sum(list_transform(t.t, x -> len(x))) AS DOUBLE)
          / CAST(len(t.t) AS DOUBLE) AS f_wordlen
      FROM tok t JOIN documents d ON d.doc_id = t.doc_id
      WHERE len(t.t) > 0)""",
        f"gfeat AS (SELECT doc_id, {_GOPHER_FEAT_SQL}\nFROM tok)",
        f"""lbl AS (SELECT doc_id,
  CAST(({_GOPHER_PASS_SQL})
       AS DOUBLE) AS y FROM gfeat)""",
        "tr AS (SELECT f.*, lbl.y FROM f JOIN lbl ON lbl.doc_id = f.doc_id)",
        "w0 AS (SELECT CAST(0 AS DOUBLE) AS b, "
        + ", ".join(f"CAST(0 AS DOUBLE) AS w_{n}" for n in _PROBE_F)
        + ")",
    ]
    for t in range(steps + 1):
        blocks.append(
            f"g{t} AS MATERIALIZED (\n"
            f"  SELECT avg(ll) AS loss, avg(r) AS g_b,\n  "
            + ",\n  ".join(
                f"avg(r * f_{n}) AS g_{n}" for n in _PROBE_F
            )
            + f"\n  FROM (SELECT y, "
            + ", ".join(f"f_{n}" for n in _PROBE_F)
            + ", (p - y) AS r,\n"
            "    -(y * ln(least(greatest(p, 1e-12), 1.0 - 1e-12))\n"
            "      + (1.0 - y) * ln(1.0 - least(greatest(p, 1e-12), "
            "1.0 - 1e-12))) AS ll\n"
            f"    FROM (SELECT tr.*, "
            f"CAST(1.0 AS DOUBLE) / (1.0 + exp(-({z}))) AS p\n"
            f"          FROM tr CROSS JOIN w{t})))"
        )
        if t < steps:
            blocks.append(
                f"w{t + 1} AS (SELECT b - {lr} * g_b AS b, "
                + ", ".join(
                    f"w_{n} - {lr} * g_{n} AS w_{n}" for n in _PROBE_F
                )
                + f" FROM w{t} CROSS JOIN g{t})"
            )
    unions = " UNION ALL ".join(
        f"SELECT {t} AS step, round(loss, 6) AS loss, round(b, 6) AS b, "
        + ", ".join(f"round(w_{n}, 6) AS w_{n}" for n in _PROBE_F)
        + f" FROM w{t} CROSS JOIN g{t}"
        for t in range(steps + 1)
    )
    blocks.append(f"trajectory AS ({unions})")
    return ",\n".join(blocks)


@query(
    "q_quality_probe",
    oracle=f"""
WITH {_TOK_CTE},
{_probe_cte(6, 0.1)}
SELECT step, loss, b, {", ".join(f"w_{n}" for n in _PROBE_F)}
FROM trajectory ORDER BY step
""",
)
def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED model-based quality filter (the DataComp-LM / CCNet
    move, completing the quality family: rules -> fixed logistic ->
    LEARNED logistic): full-batch logistic regression distilling the
    Gopher `passed` flag into a soft score over the five lexical
    features — 6 gradient steps, lr 0.1 (monotone-decreasing loss;
    lr 0.5 oscillates on these unnormalized O(5) features), fully declarative (weights
    are a one-row broadcast frame; each step is one scan). Output is
    the whole training trajectory (loss + weights per step), replayed
    exactly by the unrolled-GD oracle like q_bpe_train / q_sgns."""
    return text.train_quality_probe(_docs(spark, sf_dir), steps=6, lr=0.1)
