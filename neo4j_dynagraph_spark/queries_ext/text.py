"""Text / tokenizer / retrieval family: corpus stats, lang-id, BPE,
TF-IDF, BM25, rank fusion, Zipf/Gini analytics.

Split from the former single-file queries_ext.py (round 9); blocks are
verbatim. Registered into the shared REGISTRY on import via @query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo4j_dynagraph_spark.operators import dedup, graph, text
from neo4j_dynagraph_spark.queries import _EDGES_FROM_P, _presence_sql, query
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub

from neo4j_dynagraph_spark.queries_ext._shared import (
    _BM25_TERMS,
    _H64,
    _SH_CTE,
    _TOK,
    _TOK_CTE,
    _bm25_term_sql,
    _bm25_tf_sql,
    _docs,
)


# ----------------------------------------------------------------- text


@query(
    "q_text_stats",
    oracle=f"""
WITH {_TOK_CTE}
SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
       round(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6) AS ttr,
       round(len(list_filter(t, x -> x = 'the' OR x = 'a')) / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS stop_ratio
FROM tok WHERE len(t) > 0 ORDER BY doc_id
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score stats per doc: token counts, type-token ratio,
    stopword ratio."""
    return text.text_stats(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_token_counts",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text),
            '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9'']+|\\s+'
            )) AS BIGINT) AS bpe_tokens,
       CAST(length(lower(text)) AS BIGINT) AS n_chars,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting metrics: whitespace tokens vs BPE-style
    pre-tokens (GPT-2-shape regex, RE2-safe so both engines tokenize
    identically), chars, bytes."""
    return text.token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_lang_stats",
    oracle="""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM documents GROUP BY 1 ORDER BY lang
""",
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by language tag."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q_token_freq",
    oracle=f"""
WITH {_TOK_CTE},
tu AS (SELECT unnest(t) AS token FROM tok)
SELECT token, count(*) AS cnt FROM tu GROUP BY 1
ORDER BY cnt DESC, token LIMIT 20
""",
    bench=True,
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequencies (explode + count + top-k)."""
    return (
        text.token_frequencies(_docs(spark, sf_dir))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


@query(
    "q_doc_fingerprint",
    oracle=f"""
WITH {_TOK_CTE}, {_SH_CTE}
SELECT doc_id, min({_H64.format(x="shingle")}) AS fingerprint, count(*) AS n_shingles
FROM sh GROUP BY 1 ORDER BY doc_id
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-hash fingerprint per document."""
    return text.doc_fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_lang_id",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id,
             len(list_filter(t, x -> x='the' OR x='a' OR x='of' OR x='and' OR x='to')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_en,
             len(list_filter(t, x -> x='el' OR x='la' OR x='de' OR x='que' OR x='y')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_es,
             len(list_filter(t, x -> x='der' OR x='die' OR x='und' OR x='das' OR x='ist')) / CAST(greatest(len(t),1) AS DOUBLE) AS score_de
      FROM tok)
SELECT doc_id,
       CASE WHEN greatest(score_en, score_es, score_de) < 0.02 THEN 'unk'
            WHEN score_en = greatest(score_en, score_es, score_de) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_de) THEN 'es'
            ELSE 'de' END AS pred_lang,
       round(greatest(score_en, score_es, score_de), 6) AS best_score
FROM s ORDER BY doc_id
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-profile language-ID (deterministic tie-break:
    en before es before de)."""
    return text.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_langid_accuracy",
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
      FROM s)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN l.pred_lang = d.lang THEN 1 END) AS BIGINT)
         AS n_correct,
       round(count(CASE WHEN l.pred_lang = d.lang THEN 1 END)
             / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM l JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY 1
""",
)
def q_langid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADE the lang-id heuristic against the corpus's ground-truth
    `lang` column (the same evaluate-your-own-operator pattern as
    q_ann_recall for ANN): per true language, docs / correct
    predictions / accuracy. A curation pipeline ships quality signals
    WITH their measured error — this is the query that produces that
    number, and the oracle replays classifier + grading end-to-end."""
    pred = text.lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "pred_lang"
    )
    truth = _docs(spark, sf_dir).select("doc_id", "lang")
    hit = F.when(F.col("pred_lang") == F.col("lang"), 1)
    return (
        pred.join(truth, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(hit).alias("n_correct"),
            F.round(
                F.count(hit) / F.count(F.lit(1)).cast("double"), 6
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


@query(
    "q_bpe_pairs",
    oracle=f"""
WITH {_TOK_CTE},
pairs AS (SELECT t[i] || ' ' || t[i+1] AS pair
          FROM tok, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20
""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner statistic: corpus-wide adjacent-token
    pair frequencies, top-20 (each merge round of byte-pair encoding
    picks argmax of exactly this table). JVM array lambda builds the
    pair list per doc, explode + count with map-side partial
    aggregation — shuffle volume is ~pair-vocabulary, not corpus —
    and TakeOrdered for the top-k. A full BPE trainer is this query
    iterated with a merge-apply step."""
    from neo4j_dynagraph_spark import functions as dfn

    toked = _docs(spark, sf_dir).select(
        "doc_id", dfn.tokens(F.col("text")).alias("t")
    )
    pairs = (
        toked.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> concat_ws(' ', t[i], t[i+1]))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@query(
    "q_repetition",
    oracle=f"""
WITH {_TOK_CTE},
g AS (SELECT doc_id, greatest(len(t) - 2, 0) AS n,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [] END AS grams
      FROM tok)
SELECT doc_id, CAST(n AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round(CASE WHEN n > 0
                  THEN 1.0 - len(list_distinct(grams)) / CAST(n AS DOUBLE)
                  ELSE 0.0 END, 6) AS rep_ratio,
       CASE WHEN n > 0
            THEN (1.0 - len(list_distinct(grams)) / CAST(n AS DOUBLE)) > 0.2
            ELSE FALSE END AS flag_repetitive
FROM g ORDER BY doc_id
""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter (public C4/Gopher
    curation rule): fraction of word 3-grams repeating an earlier
    3-gram in the same doc. Boilerplate and looping generations score
    high. Pure JVM array lambdas — one narrow projection, no shuffle;
    the oracle replays the 3-gram arithmetic with DuckDB list
    functions. NOTE: flag threshold compare happens pre-round in BOTH
    engines so the hash can't straddle a rounding boundary."""
    return text.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_pii_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["ipv4"]}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phone,
       (len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["email"]}'))
        + len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["ipv4"]}'))
        + len(regexp_extract_all(lower(text), '{text.PII_PATTERNS["phone"]}'))) > 0 AS has_pii
FROM documents ORDER BY doc_id
""",
)
def q_pii_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII pattern counting (emails / IPv4 / phone-shaped
    strings) — the redaction-or-drop signal of a public curation
    pipeline. regexp_count JVM-side over lowercased text; the patterns
    are chosen to parse and match identically under Java regex (Spark)
    and RE2 (DuckDB), so the oracle replays them verbatim."""
    return text.pii_counts(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_tfidf_top_terms",
    oracle=f"""
WITH {_TOK_CTE},
tu AS (SELECT doc_id, unnest(t) AS token FROM tok),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tu GROUP BY 1, 2),
df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tu) d
       GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT doc_id, token,
                  round(tf * ln(n_docs / CAST(df AS DOUBLE)), 4) AS tfidf
           FROM tf JOIN df USING (token) CROSS JOIN n),
ranked AS (SELECT doc_id, token, tfidf,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, token) AS rk
           FROM scored)
SELECT doc_id, token, tfidf, rk FROM ranked
WHERE rk <= 3 AND doc_id < 50 ORDER BY doc_id, rk
""",
    bench=True,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF without MLlib: tf (per-doc counts) join df (document
    frequency) with a broadcast 1-row corpus size; top-3 terms per doc
    for the first 50 docs. Classic two-aggregate + rank-window shape —
    the whole pipeline stays in JVM expressions."""
    tu = (
        dedup.tokens_df(_docs(spark, sf_dir))
        .select("doc_id", F.explode("t").alias("token"))
    )
    # r13: df derives FROM tf (tf rows are distinct (doc, token) by
    # construction, so counting them per token IS the document
    # frequency) — the old second reference to tu re-tokenized the
    # corpus and re-shuffled the full token stream through a distinct.
    # tf is checkpointed because both df and the scoring join read it.
    tf = (
        tu.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(checkpoint_hub)
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row aggregate: construction stays
    # fully lazy (no eager driver count()), one job at action time
    n = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    from pyspark.sql import Window

    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where((F.col("rk") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "token", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


# ------------------------------------------------- round-6 pipeline ops


@query(
    "q_token_entropy",
    oracle=f"""
WITH {_TOK_CTE},
u AS (SELECT doc_id, unnest(t) AS token FROM tok),
c AS (SELECT doc_id, token, count(*) AS tf FROM u GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(log2(sum(tf)) - sum(tf * log2(tf)) / sum(tf), 6) AS entropy,
       round(CASE WHEN count(*) > 1
                  THEN (log2(sum(tf)) - sum(tf * log2(tf)) / sum(tf))
                       / log2(count(*))
                  ELSE 0.0 END, 6) AS norm_entropy
FROM c GROUP BY doc_id ORDER BY doc_id
""",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy — the information-density
    quality score (low = templated/repetitive text). Two map-side-
    combined groupBys; shuffle volume ~per-doc vocabulary."""
    return text.token_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_doc_chunks",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id, t, unnest(range(0, len(t), 25)) AS start_tok
      FROM tok WHERE len(t) > 0)
SELECT doc_id,
       CAST(start_tok / 25 AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(least(50, len(t) - start_tok) AS BIGINT) AS n_chunk_tokens,
       {_H64.format(x="array_to_string(list_slice(t, start_tok + 1, start_tok + 50), ' ')")} AS chunk_hash
FROM s ORDER BY doc_id, chunk_idx
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 50, stride 25) with
    stable ids + portable chunk fingerprints — context-window prep for
    training / RAG indexing. Narrow projection + explode, no shuffle;
    the oracle re-slices with list_slice and replays hash64."""
    return text.chunk_documents(
        _docs(spark, sf_dir), window=50, stride=25
    ).orderBy("doc_id", "chunk_idx")


@query(
    "q_pii_redact",
    oracle=f"""
WITH r AS (SELECT doc_id, lower(text) AS low,
  regexp_replace(regexp_replace(regexp_replace(lower(text),
    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
    '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '<IP>', 'g'),
    '[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g') AS red
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(low, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(low, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(low, '[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT) AS n_phone,
  CAST(length(red) AS BIGINT) AS redacted_len,
  {_H64.format(x="red")} AS redacted_hash
FROM r ORDER BY doc_id
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII redaction (write path of q_pii_count): typed
    placeholders substituted JVM-side in a fixed pattern order; the
    redacted text is exported as portable hash64 + length so the
    oracle verifies the EXACT redacted bytes without shipping them."""
    return text.redact_pii(_docs(spark, sf_dir)).orderBy("doc_id")


_BURST_SIG = "sqrt(greatest(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps), 0.0))"


@query(
    "q_burstiness",
    oracle=f"""
WITH p AS ({_presence_sql()}),
e AS (SELECT DISTINCT frame_id, actor1, actor2 FROM ({_EDGES_FROM_P})),
g AS (SELECT actor1, actor2,
             frame_id - lag(frame_id) OVER (PARTITION BY actor1, actor2
                                            ORDER BY frame_id) AS gap
      FROM e),
a AS (SELECT actor1, actor2, count(*) AS n_gaps,
             sum(gap) AS s1, sum(gap * gap) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY 1, 2)
SELECT actor1, actor2, n_gaps,
       round(({_BURST_SIG} - s1 / n_gaps) / ({_BURST_SIG} + s1 / n_gaps), 6)
         AS burstiness
FROM a WHERE n_gaps >= 2 ORDER BY actor1, actor2
""",
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) of each
    pair's inter-contact gaps (operators/graph.py:burstiness) — the
    temporal-heterogeneity statistic of the SocioPatterns literature,
    computed from exact integer moment sums in the same one-exchange
    window+agg shape as q_intercontact; the oracle replays the exact
    expression so the rounded double matches bit-for-bit."""
    from neo4j_dynagraph_spark import queries as qmod

    return graph.burstiness(qmod._edges(spark, sf_dir))


@query(
    "q_corpus_report",
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
      WHERE len(t.t) > 0),
q AS (SELECT doc_id, n_tokens,
             round(1.0 / (1.0 + exp(-(-3.0 + 0.6 * f_len + 2.0 * f_ttr
                   + 4.0 * f_stop + 3.0 * f_alpha + -0.2 * f_wordlen))), 6)
               AS quality
      FROM f),
k AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
      FROM documents GROUP BY 1),
fl AS (SELECT d.doc_id, d.source, d.lang, d.doc_id != k.keep_id AS is_dup
       FROM documents d JOIN k ON md5(d.text) = k.h)
SELECT fl.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(sum(q.n_tokens), 0) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_exact_dups,
       round(CAST(count(CASE WHEN is_dup THEN 1 END) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       round(avg(q.quality), 6) AS mean_quality,
       CAST(count(DISTINCT fl.lang) AS BIGINT) AS n_langs
FROM fl LEFT JOIN q USING (doc_id)
GROUP BY 1 ORDER BY 1
""",
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card report: doc and token counts, exact-dup
    rate (global content-hash groups, min-id survivor), mean model
    quality, and language spread — the one-scan summary a data-mixing
    decision reads. Composes quality_score (codegen projection) with a
    content-hash self-grouping; everything aggregates map-side before
    the per-source shuffle. The rounded per-doc qualities average
    safely across partition orders (double drift ~1e-16 against a 1e-6
    rounding grid)."""
    docs = _docs(spark, sf_dir)
    qs = text.quality_score(docs).select("doc_id", "n_tokens", "quality")
    d = docs.withColumn("_h", F.md5("text"))
    # r13 (guide §1.2 step 1): the keep table re-derived its own docs
    # scan + md5 inside the flags join — checkpoint the
    # one-narrow-row-per-distinct-text aggregate once
    k = (
        d.groupBy("_h")
        .agg(F.min("doc_id").alias("_keep"))
        .transform(checkpoint_hub)
    )
    flags = d.join(k, "_h").select(
        "doc_id",
        "source",
        "lang",
        (F.col("doc_id") != F.col("_keep")).alias("is_dup"),
    )
    return (
        flags.join(qs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_exact_dups"),
            F.round(
                F.count(F.when(F.col("is_dup"), 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


@query(
    "q_vocab_prune",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
u AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w FROM tok),
f AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
v AS (SELECT w FROM f ORDER BY c DESC, w LIMIT 20),
r AS (SELECT u.doc_id, u.pos,
             CASE WHEN v.w IS NULL THEN '<unk>' ELSE u.w END AS w2,
             CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS unk
      FROM u LEFT JOIN v ON v.w = u.w)
SELECT doc_id, md5(string_agg(w2, ' ' ORDER BY pos)) AS text_hash,
       CAST(sum(unk) AS BIGINT) AS n_unk,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM r GROUP BY 1 ORDER BY doc_id
""",
    bench=True,
)
def q_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary OOV collapse: rebuild every document keeping
    only the global top-20 tokens (deterministic count-desc,
    token-asc selection), all others replaced by '<unk>' — classic
    count-model / tokenizer-training preprocessing. Hash-terminal:
    (doc_id, md5 of the rebuilt token stream, n_unk, n_tokens), so the
    oracle verifies the EXACT reconstructed text of every document
    while the output stays fixed-width per doc
    (operators/text.py:vocab_prune)."""
    return text.vocab_prune(_docs(spark, sf_dir), top_k=20).orderBy("doc_id")


@query(
    "q_unigram_logprob",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
u AS (SELECT doc_id, unnest(t) AS w FROM tok),
f AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
tt AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f)
SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(f.c / tt.total)), 6) AS avg_neg_logp
FROM u JOIN f ON f.w = u.w CROSS JOIN tt
GROUP BY 1 ORDER BY u.doc_id
""",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring: per-doc average -ln p(w) under the
    corpus unigram distribution (the CCNet/KenLM-style filter signal —
    q_token_entropy's corpus-relative twin). One explode feeds both
    the vocab-sized frequency aggregate and the scoring stream; the
    frequency and 1-row-total joins are broadcast
    (operators/text.py:unigram_logprob)."""
    return text.unigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


@query(
    "q_source_overlap",
    oracle=f"""
WITH {_TOK_CTE},
s AS (SELECT doc_id, source, t, unnest(range(0, len(t), 25)) AS start_tok
      FROM tok WHERE len(t) > 0),
c AS (SELECT DISTINCT source,
             {_H64.format(x="array_to_string(list_slice(t, start_tok + 1, start_tok + 50), ' ')")} AS chunk_hash
      FROM s WHERE len(t) - start_tok >= 50),
ch AS (SELECT a.source AS src_a, b.source AS src_b,
              CAST(count(*) AS BIGINT) AS n_shared_chunks
       FROM c a JOIN c b ON a.chunk_hash = b.chunk_hash
                        AND a.source < b.source
       GROUP BY 1, 2),
d AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
tx AS (SELECT a.source AS src_a, b.source AS src_b,
              CAST(count(*) AS BIGINT) AS n_shared_texts
       FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
       GROUP BY 1, 2)
SELECT COALESCE(ch.src_a, tx.src_a) AS src_a,
       COALESCE(ch.src_b, tx.src_b) AS src_b,
       COALESCE(n_shared_chunks, 0) AS n_shared_chunks,
       COALESCE(n_shared_texts, 0) AS n_shared_texts
FROM ch FULL OUTER JOIN tx USING (src_a, src_b)
ORDER BY 1, 2
""",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix, two granularities per
    unordered source pair: shared 50-token chunk fingerprints
    (boilerplate / repeated-passage leakage, reusing chunk_documents'
    stride-25 fingerprints) and shared verbatim whole texts (exact-dup
    leakage, the pairwise view of q_dedup_exact's groups) — the
    dataset-card numbers that tell you whether crawl slices are
    independent. Both sides reduce to DISTINCT (fingerprint, source)
    pairs BEFORE the self-join, so join group sizes are
    sources-per-fingerprint-bounded and the terminal is
    |sources|^2-bounded at any corpus size; the two matrices merge
    with one full-outer join on the tiny pair key."""
    docs = _docs(spark, sf_dir)
    ch = text.chunk_documents(docs, window=50, stride=25).where(
        F.col("n_chunk_tokens") >= 50
    )
    # r13: cd and d each feed BOTH sides of their self-join — without
    # the cuts the chunk tokenization (cd) and the md5 scan (d) each
    # executed twice. Both are distinct (fingerprint, source) pairs.
    cd = (
        ch.join(docs.select("doc_id", "source"), "doc_id")
        .select("chunk_hash", "source")
        .distinct()
        .transform(checkpoint_hub)
    )
    d = (
        docs.select(F.md5(F.col("text")).alias("h"), "source")
        .distinct()
        .transform(checkpoint_hub)
    )
    shared_chunks = (
        cd.select("chunk_hash", F.col("source").alias("src_a"))
        .join(
            cd.select("chunk_hash", F.col("source").alias("src_b")),
            "chunk_hash",
        )
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_chunks"))
    )
    shared_texts = (
        d.select("h", F.col("source").alias("src_a"))
        .join(d.select("h", F.col("source").alias("src_b")), "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_texts"))
    )
    return (
        shared_chunks.join(shared_texts, ["src_a", "src_b"], "full")
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared_chunks", F.lit(0)).alias(
                "n_shared_chunks"
            ),
            F.coalesce("n_shared_texts", F.lit(0)).alias("n_shared_texts"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "q_token_pmi",
    oracle=f"""
WITH {_TOK_CTE},
u AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
      FROM tok),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM u),
cw AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
pr AS (SELECT a.w AS w_a, b.w AS w_b, count(*) AS c_ab
       FROM u a JOIN u b
         ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
       GROUP BY 1, 2),
np AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS np FROM pr)
SELECT w_a, w_b, CAST(c_ab AS BIGINT) AS n_pairs,
       round(ln((c_ab / np) / ((ca.c / nt) * (cb.c / nt))), 6) AS pmi
FROM pr
JOIN cw ca ON ca.w = pr.w_a
JOIN cw cb ON cb.w = pr.w_b
CROSS JOIN nt CROSS JOIN np
WHERE c_ab >= 5
ORDER BY pmi DESC, w_a, w_b LIMIT 50
""",
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 skip-gram collocations by pointwise mutual information
    (window 3, min count 5) — the statistical-association layer above
    q_bpe_pairs' raw adjacency counts (collocation extraction /
    tokenizer-merge priors). Window-3 pairs are generated IN-ROW from
    each doc's token array (r14 — no positional self-join, no shuffle
    of the token stream; only the vocab^2-bounded pair counts cross an
    exchange). The unigram marginal table is vocab-bounded and
    broadcast (the unigram_logprob precedent); totals are 1-row
    broadcasts; the terminal is TakeOrderedAndProject on the total
    order (pmi desc, w_a, w_b)."""
    from neo4j_dynagraph_spark import functions as dfn

    toks = _docs(spark, sf_dir).select(
        "doc_id", dfn.tokens(F.col("text")).alias("t")
    )
    u = toks.select("doc_id", F.explode("t").alias("w"))
    # r13: cw is vocab-bounded and feeds both marginal dimensions —
    # checkpoint it once; nt (total tokens) is the SUM of the per-word
    # counts, so deriving it from the checkpointed cw is
    # value-identical and spares a separate total pass.
    # The token stream itself stays unmaterialized (corpus-sized
    # strings — the vocab_prune trade).
    cw = (
        u.groupBy("w").agg(F.count(F.lit(1)).alias("c")).transform(checkpoint_hub)
    )
    nt = cw.agg(F.sum("c").cast("double").alias("nt"))
    # r14: skip-gram pairs generated IN-ROW from the token array
    # (every (i, j) with j in [i+1, i+3]) instead of the r13 shape's
    # 3-offset replicate + corpus-scale hash join on (doc_id, pos) —
    # that join shuffled ~4x corpus-token rows and tokenized a third
    # time; this is one tokenization pass and ZERO joins before the
    # vocab^2-bounded count aggregate (guide §2.4/§2.3: the pair
    # decision needs only in-row state, so nothing crosses a shuffle
    # until the counts). Measured at sf0.1: 1.88 -> 1.49 s (1.26x),
    # ordered-equal output incl. the tie-break.
    pairs = toks.where(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(t) - 2), i -> "
                "transform(sequence(i + 1, least(i + 3, size(t) - 1)), "
                "j -> struct(t[i] AS w_a, t[j] AS w_b))))"
            )
        ).alias("p")
    ).select("p.w_a", "p.w_b")
    # pr feeds both the pair total and the scored terminal —
    # checkpoint the vocab^2-bounded count table so the pair pass
    # runs once, not twice (r13 convention)
    pr = (
        pairs.groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .transform(checkpoint_hub)
    )
    np_ = pr.agg(F.sum("c_ab").cast("double").alias("np"))
    ca = cw.select(F.col("w").alias("w_a"), F.col("c").alias("ca"))
    cb = cw.select(F.col("w").alias("w_b"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("np"))
            / ((F.col("ca") / F.col("nt")) * (F.col("cb") / F.col("nt")))
        ),
        6,
    )
    return (
        pr.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ca), "w_a")
        .join(F.broadcast(cb), "w_b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(np_))
        .select(
            "w_a",
            "w_b",
            F.col("c_ab").cast("long").alias("n_pairs"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w_a", "w_b")
        .limit(50)
    )


def _bpe_oracle(n: int) -> str:
    """Unrolled n-round replay of the BPE trainer (the PageRank /
    k-means replay-oracle pattern): per round, pair statistics over
    the current symbol sequences, the deterministic argmax, and the
    leftmost-first non-overlapping merge-apply expressed as a DuckDB
    list_reduce with an empty-accumulator sentinel."""
    parts = [
        _TOK_CTE,
        "w AS (SELECT u.w AS word, count(*) AS cnt FROM tok, UNNEST(t) AS u(w) GROUP BY 1)",
        "seq0 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1), "
        "i -> substr(word, CAST(i AS INT), 1)) AS s FROM w)",
    ]
    for r in range(n):
        parts.append(
            f"p{r} AS (SELECT s[i] AS l, s[i+1] AS rr, sum(cnt) AS wgt "
            f"FROM seq{r}, UNNEST(range(1, len(s))) AS u(i) "
            f"WHERE len(s) >= 2 GROUP BY 1, 2)"
        )
        parts.append(
            f"b{r} AS (SELECT l, rr, l || rr AS m, wgt FROM p{r} "
            f"ORDER BY wgt DESC, l, rr LIMIT 1)"
        )
        if r < n - 1:
            parts.append(
                f"seq{r + 1} AS (SELECT word, cnt, "
                f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
                f"list_transform(s, x -> [x])), "
                f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = l "
                f"AND x[1] = rr THEN list_slice(acc, 1, len(acc) - 1) || [m] "
                f"ELSE acc || x END) AS s FROM seq{r} CROSS JOIN b{r})"
            )
    union = " UNION ALL ".join(
        f"SELECT {r + 1} AS round, l AS left_sym, rr AS right_sym, m AS merged, "
        f"CAST(wgt AS BIGINT) AS weight FROM b{r}"
        for r in range(n)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT * FROM ({union}) ORDER BY round"
    )


def _bpe_encode_oracle(n: int) -> str:
    """Unrolled replay of _bpe_fit(apply_last=True) + the corpus
    encode: n training rounds, EVERY merge applied (so seq{n} is the
    encoded vocabulary), then the per-source token-budget summary."""
    parts = [
        _TOK_CTE,
        "w AS (SELECT u.w AS word, count(*) AS cnt FROM tok, UNNEST(t) AS u(w) GROUP BY 1)",
        "seq0 AS (SELECT word, cnt, list_transform(range(1, length(word) + 1), "
        "i -> substr(word, CAST(i AS INT), 1)) AS s FROM w)",
    ]
    for r in range(n):
        parts.append(
            f"p{r} AS (SELECT s[i] AS l, s[i+1] AS rr, sum(cnt) AS wgt "
            f"FROM seq{r}, UNNEST(range(1, len(s))) AS u(i) "
            f"WHERE len(s) >= 2 GROUP BY 1, 2)"
        )
        parts.append(
            f"b{r} AS (SELECT l, rr, l || rr AS m, wgt FROM p{r} "
            f"ORDER BY wgt DESC, l, rr LIMIT 1)"
        )
        parts.append(
            f"seq{r + 1} AS (SELECT word, cnt, "
            f"list_reduce(list_prepend(CAST([] AS VARCHAR[]), "
            f"list_transform(s, x -> [x])), "
            f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = l "
            f"AND x[1] = rr THEN list_slice(acc, 1, len(acc) - 1) || [m] "
            f"ELSE acc || x END) AS s FROM seq{r} CROSS JOIN b{r})"
        )
    parts.append(
        f"enc AS (SELECT word, CAST(len(s) AS BIGINT) AS n_sym FROM seq{n})"
    )
    parts.append(
        "u AS (SELECT doc_id, source, uu.w AS word FROM tok, UNNEST(t) AS uu(w))"
    )
    parts.append(
        "d AS (SELECT source, doc_id, count(*) AS n_words, sum(n_sym) AS n_bpe "
        "FROM u JOIN enc USING (word) GROUP BY 1, 2)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       round(sum(n_bpe) / CAST(sum(n_words) AS DOUBLE), 6) AS sym_per_word
FROM d GROUP BY 1 ORDER BY source"""
    )


@query("q_bpe_encode", oracle=_bpe_encode_oracle(8))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer ENCODE — the closing half of q_bpe_train's loop:
    the 8 learned merge rules are ALL applied on the vocab-bounded
    word table, then the corpus is re-tokenized under the resulting
    subword vocabulary and summarized per source (docs, whitespace
    words, BPE symbols, symbols-per-word) — the token-budget number a
    pipeline needs before packing. The oracle replays the entire fit
    AND the encode as unrolled CTEs; the per-source budget
    hash-matches."""
    enc = text.bpe_encode(_docs(spark, sf_dir), n_merges=8)
    return (
        enc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("sym_per_word"),
        )
        .orderBy("source")
    )


@query("q_bpe_train", oracle=_bpe_oracle(8))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING, 8 merge rounds — the flagship
    iterative text operator: q_bpe_pairs' argmax statistic closed into
    the full Sennrich-style train loop (pair counts -> deterministic
    argmax -> broadcast merge-apply -> repeat), all on DataFrames with
    per-round localCheckpoint lineage truncation. The 100 TB shape:
    one corpus-scale aggregation up front, then every round runs over
    the vocab-bounded distinct-WORD table. The oracle replays the
    entire 8-round fit as unrolled CTEs and the merge table
    hash-matches."""
    from neo4j_dynagraph_spark.operators.text import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=8)


@query(
    "q_bm25_search",
    bench=True,
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
pd AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       {", ".join(_bm25_tf_sql(i, t) for i, t in enumerate(_BM25_TERMS))}
       FROM tok),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
       {", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
       FROM pd)
SELECT doc_id,
       CAST({" + ".join(f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(_BM25_TERMS)))} AS INTEGER) AS n_hit,
       round({" + ".join(_bm25_term_sql(i) for i in range(len(_BM25_TERMS)))}, 6) AS bm25
FROM pd, st
WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))}
ORDER BY bm25 DESC, doc_id LIMIT 20
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {merge, spark, vector} — the ranked
    retrieval scorer completing the search surface (boolean AND
    `q_text_search`, TF-IDF `q_tfidf_top_terms`); the reference's
    Lucene index (load_gexf_to_neo4j.py:148) ranks with the same
    probabilistic-relevance family. Per-term tf and doc length are
    narrow array expressions (no explode), corpus stats reduce to ONE
    broadcast row, scoring is a map-side projection, and the top-20
    plans as TakeOrderedAndProject — at 100 TB: scan + scalar agg.
    Oracle replays tf/df/avgdl and the BM25+ idf arithmetic."""
    return (
        text.bm25_scores(_docs(spark, sf_dir), list(_BM25_TERMS))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "q_rank_fusion",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
pd AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       {", ".join(_bm25_tf_sql(i, t) for i, t in enumerate(_BM25_TERMS))}
       FROM tok),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
       {", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
       FROM pd)
, sc AS (SELECT doc_id,
       round({" + ".join(_bm25_term_sql(i) for i in range(len(_BM25_TERMS)))}, 6) AS bm25,
       tf0 + tf1 + tf2 AS tf_sum
FROM pd, st
WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))})
, ra AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
                AS rank_bm25
         FROM (SELECT doc_id, bm25 FROM sc
               ORDER BY bm25 DESC, doc_id LIMIT 100))
, rb AS (SELECT doc_id, row_number() OVER (ORDER BY tf_sum DESC, doc_id)
                AS rank_tf
         FROM (SELECT doc_id, tf_sum FROM sc
               ORDER BY tf_sum DESC, doc_id LIMIT 100))
SELECT doc_id,
       CAST(ra.rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rb.rank_tf AS BIGINT) AS rank_tf,
       round(1.0 / (60 + ra.rank_bm25) + 1.0 / (60 + rb.rank_tf), 6)
           AS rrf
FROM ra JOIN rb USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 20
""",
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF, k=60) of two retrieval rankings —
    BM25 and raw term-frequency — over the {merge, spark, vector}
    query: the standard zero-tuning way to merge heterogeneous
    rankers (lexical + semantic in production; two lexical scorers
    here so the oracle replays both ends). Each ranker is cut to its
    top-100 FIRST (TakeOrderedAndProject), so the rank windows run on
    k-bounded lists, never the corpus; the fusion join is 100x100
    keyed on doc_id. Docs in both lists fuse; the top-20 by RRF is
    the answer."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # tf_sum comes from the same narrow per-term arithmetic as
    # bm25_scores (shared scan subtree)
    toked = text.tokens_df(docs).select(
        "doc_id",
        sum(
            (
                # Column API (quote-safe; mirrors bm25_scores) —
                # single-arg lambda, evaluated eagerly per iteration
                F.size(
                    F.filter(F.col("t"), lambda x: x == F.lit(t))
                ).cast("double")
                for t in _BM25_TERMS
            ),
            F.lit(0.0),
        ).alias("tf_sum"),
    )
    # r13: base feeds both rankers (bm25 cut + tf cut) — checkpoint
    # the per-doc score table once so the two tokenization passes +
    # corpus stats run once, not twice (guide §1.2 step 1)
    base = (
        text.bm25_scores(docs, list(_BM25_TERMS))
        .join(toked, "doc_id")
        .transform(checkpoint_hub)
    )
    ra = (
        base.orderBy(F.desc("bm25"), "doc_id")
        .limit(100)
        .withColumn(
            "rank_bm25",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), "doc_id")
            ).cast("long"),
        )
        .select("doc_id", "rank_bm25")
    )
    rb = (
        base.orderBy(F.desc("tf_sum"), "doc_id")
        .limit(100)
        .withColumn(
            "rank_tf",
            F.row_number().over(
                Window.orderBy(F.desc("tf_sum"), "doc_id")
            ).cast("long"),
        )
        .select("doc_id", "rank_tf")
    )
    return (
        ra.join(rb, "doc_id")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_tf",
            F.round(
                F.lit(1.0) / (F.lit(60) + F.col("rank_bm25"))
                + F.lit(1.0) / (F.lit(60) + F.col("rank_tf")),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


@query(
    "q_lang_confusion",
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
cm AS (SELECT d.lang AS true_lang, l.pred_lang, count(*) AS n
       FROM l JOIN documents d USING (doc_id) GROUP BY 1, 2)
SELECT true_lang, pred_lang, CAST(n AS BIGINT) AS n_docs,
       round(n / CAST(sum(n) OVER (PARTITION BY true_lang) AS DOUBLE), 6)
           AS row_frac
FROM cm ORDER BY true_lang, pred_lang
""",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the finer-grained companion to
    `q_langid_accuracy`'s per-language accuracy: which true language
    is mistaken for which prediction (incl. the 'unk' abstention
    column), row-normalized so each cell reads as P(pred | true). The
    matrix is |langs|² rows; the normalizing window runs over that
    already-aggregated table, never the corpus. Oracle replays the
    classifier and the normalization."""
    from pyspark.sql import Window

    pred = text.lang_id(_docs(spark, sf_dir)).select("doc_id", "pred_lang")
    truth = _docs(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    cm = (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return (
        cm.select(
            "true_lang",
            "pred_lang",
            "n_docs",
            F.round(
                F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
            ).alias("row_frac"),
        )
        .orderBy("true_lang", "pred_lang")
    )


@query(
    "q_token_zipf",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
u AS (SELECT unnest(t) AS token FROM tok),
freq AS (SELECT token, count(*) AS cnt FROM u GROUP BY 1),
top AS (SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rnk
        FROM (SELECT token, cnt FROM freq
              ORDER BY cnt DESC, token LIMIT 1000)),
xy AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
       FROM top),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
SELECT CAST(n AS BIGINT) AS n_tokens,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept
FROM st
""",
)
def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 tokens: closed-form
    least-squares slope of ln(freq) on ln(rank) — the corpus-health
    statistic dataset cards report (natural text sits near −1;
    strong deviation flags boilerplate or synthetic text). The vocab
    aggregate is the only corpus-sized pass; the rank window runs on
    the k-bounded top-1000 list (q_rank_fusion's stance) and the fit
    is one scalar aggregate. Oracle replays the regression algebra."""
    from pyspark.sql import Window

    top = (
        text.token_frequencies(_docs(spark, sf_dir))
        .orderBy(F.desc("cnt"), "token")
        .limit(1000)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "token")),
        )
    )
    xy = top.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    st = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return st.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


@query(
    "q_gini_length",
    oracle="""
WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS x,
                  row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
           FROM documents),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
              sum(rnk * x) AS srx FROM r)
SELECT CAST(n AS BIGINT) AS n_docs,
       round(sx / n, 6) AS mean_chars,
       round(2.0 * srx / (n * sx) - (n + 1.0) / n, 6) AS gini
FROM st
""",
)
def q_gini_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length (char mass) — the
    inequality statistic a mixture designer reads before weighting
    sources (a corpus where 1% of docs hold half the tokens packs and
    dedups very differently from a uniform one). Computed by the
    rank-weighted closed form G = 2Σ(r·x)/(nΣx) − (n+1)/n on the
    TWO-PHASE distributed rank (operators/rank.py — no one-partition
    window over the data-sized doc table), then one scalar aggregate.
    Oracle replays the rank with the plain window it provably
    equals."""
    from neo4j_dynagraph_spark.operators.rank import two_phase_rank

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    ranked = two_phase_rank(
        docs,
        bucket=F.floor(F.col("n_chars") / 64),
        order_cols=[F.col("n_chars"), F.col("doc_id")],
        rank_col="rnk",
    )
    x = F.col("n_chars").cast("double")
    st = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(F.col("rnk") * x).alias("srx"),
    )
    return st.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("sx") / F.col("n"), 6).alias("mean_chars"),
        F.round(
            F.lit(2.0) * F.col("srx") / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "q_source_divergence",
    oracle=f"""
WITH {_TOK_CTE},
u AS (SELECT source, unnest(t) AS token FROM tok),
vocab AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM u GROUP BY 1
          ORDER BY cnt DESC, token LIMIT 64)),
cnts AS (SELECT u.source, u.token, count(*) AS c
         FROM u JOIN vocab USING (token) GROUP BY 1, 2),
tots AS (SELECT source, sum(c) AS tot FROM cnts GROUP BY 1),
srcs AS (SELECT DISTINCT source FROM documents),
grid AS (SELECT s.source, v.token,
         (COALESCE(c.c, 0) + 1.0) / (COALESCE(tt.tot, 0) + 64.0) AS p
         FROM srcs s CROSS JOIN vocab v
         LEFT JOIN cnts c ON c.source = s.source AND c.token = v.token
         LEFT JOIN tots tt ON tt.source = s.source),
pr AS (SELECT a.source AS source_a, b.source AS source_b,
       sum(0.5 * (a.p * ln(2.0 * a.p / (a.p + b.p))
                + b.p * ln(2.0 * b.p / (a.p + b.p)))) AS jsd
       FROM grid a JOIN grid b ON a.token = b.token AND a.source < b.source
       GROUP BY 1, 2)
SELECT source_a, source_b, round(jsd, 6) AS jsd
FROM pr ORDER BY source_a, source_b
""",
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions over the global top-64 vocabulary (add-one smoothed)
    — the DISTRIBUTIONAL companion to q_source_overlap's verbatim
    sharing matrix: overlap says two sources copy each other, JSD says
    whether their language differs at all (a mixture designer drops a
    source that is distributionally redundant even when no text is
    shared). Bounded JSD in [0, ln 2]; symmetric, so only the
    source_a < source_b triangle ships.

    Scale shape: one tokenize pass feeds both the vocab cut and the
    per-source counts (partial aggregation collapses to ~vocab rows
    before either shuffle); everything after the counts operates on the
    |sources| x 64 smoothed grid — the pair join and the JSD sum are
    bounded by dimensions, not data. Oracle replays the vocab cut,
    smoothing, and divergence arithmetic."""
    K = 64
    tok = dedup.tokens_df(_docs(spark, sf_dir)).select(
        "source", F.explode("t").alias("token")
    )
    # r13: vocab / cnts / grid are each referenced twice downstream
    # (vocab by the count filter AND the grid cross; cnts by the grid
    # AND the totals; grid by both sides of the pair join) — without
    # the checkpoints each reference re-ran the corpus tokenization
    # (audited plan: 24 parquet scans). All three are dimension-sized
    # (64, |sources|x64, |sources|x64 rows).
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(K)
        .select("token")
        .transform(checkpoint_hub)
    )
    cnts = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(checkpoint_hub)
    )
    tots = cnts.groupBy("source").agg(F.sum("c").alias("tot"))
    srcs = _docs(spark, sf_dir).select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(cnts, ["source", "token"], "left")
        .join(tots, "source", "left")
        .select(
            "source",
            "token",
            (
                (F.coalesce("c", F.lit(0)) + F.lit(1.0))
                / (F.coalesce("tot", F.lit(0)) + F.lit(float(K)))
            ).alias("p"),
        )
        .transform(checkpoint_hub)
    )
    a, b = grid.alias("a"), grid.alias("b")
    term = 0.5 * (
        F.col("a.p") * F.log(2.0 * F.col("a.p") / (F.col("a.p") + F.col("b.p")))
        + F.col("b.p") * F.log(2.0 * F.col("b.p") / (F.col("a.p") + F.col("b.p")))
    )
    return (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.round(F.sum(term), 6).alias("jsd"))
        .orderBy("source_a", "source_b")
    )


@query(
    "q_tokenizer_fertility",
    oracle="""
WITH tc AS (SELECT lang,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS ws,
       len(regexp_extract_all(lower(text),
           '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9'']+|\\s+'
           )) AS bpe,
       octet_length(encode(text)) AS nb
FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(bpe) / CAST(sum(ws) AS DOUBLE), 6) AS fertility,
       round(sum(nb) / CAST(sum(bpe) AS DOUBLE), 6) AS bytes_per_token,
       round(sum(ws) / CAST(count(*) AS DOUBLE), 6) AS words_per_doc
FROM tc GROUP BY lang ORDER BY lang
""",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the dataset-card metric that
    decides whether a tokenizer is fair across a mixture's languages
    (high fertility = more subword tokens per word = that language pays
    more compute per sentence): BPE-pretoken/word ratio, bytes/token,
    and words/doc, rolled up per declared language. One map-side
    projection (both tokenizers are JVM regex, RE2-safe so the engines
    tokenize identically), one |langs|-row aggregate. Oracle replays
    both tokenizers and the ratios."""
    tc = text.token_counts(_docs(spark, sf_dir)).join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    return (
        tc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("bpe_tokens") / F.sum("ws_tokens").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_bytes") / F.sum("bpe_tokens").cast("double"), 6
            ).alias("bytes_per_token"),
            F.round(
                F.sum("ws_tokens") / F.count(F.lit(1)).cast("double"), 6
            ).alias("words_per_doc"),
        )
        .orderBy("lang")
    )


# shared bigram-LM replay CTEs: train counts, vocab mapping, scoring
# joins, per-doc mean log-prob + token count — the prefix of BOTH the
# perplexity oracles and the DoReMi domain-weight oracle
_BIGRAM_CTES = f"""{_TOK_CTE},
tk AS (SELECT t.doc_id, t.source, t.t FROM tok t WHERE len(t.t) > 0),
pr AS (SELECT doc_id, source,
         CASE WHEN i = 1 THEN '<s>' ELSE t[i - 1] END AS v, t[i] AS w
       FROM tk, UNNEST(range(1, len(t) + 1)) AS u(i)),
tr AS (SELECT v, w FROM pr WHERE source = 'src0'),
vocab AS (SELECT DISTINCT w AS tok FROM tr),
cb AS (SELECT v, w, count(*) AS cb FROM tr GROUP BY 1, 2),
cu AS (SELECT v, count(*) AS cu FROM tr GROUP BY 1),
vs AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS vsize FROM vocab),
sc AS (SELECT doc_id, source,
         CASE WHEN p.v = '<s>' THEN '<s>'
              WHEN vv.tok IS NOT NULL THEN p.v ELSE '<unk>' END AS v,
         CASE WHEN vw.tok IS NOT NULL THEN p.w ELSE '<unk>' END AS w
       FROM pr p LEFT JOIN vocab vv ON vv.tok = p.v
                 LEFT JOIN vocab vw ON vw.tok = p.w),
lp AS (SELECT doc_id, source,
         CAST(round(ln((coalesce(cb.cb, 0) + CAST(0.5 AS DOUBLE))
            / (coalesce(cu.cu, 0)
               + CAST(0.5 AS DOUBLE) * (SELECT vsize FROM vs)))
            * 1000000.0) AS BIGINT) AS lp6
       FROM sc LEFT JOIN cb ON cb.v = sc.v AND cb.w = sc.w
               LEFT JOIN cu ON cu.v = sc.v),
pd AS (SELECT doc_id, source, sum(lp6) AS slp6, count(*) AS ntok
       FROM lp GROUP BY doc_id, source),
pd2 AS (SELECT doc_id, source,
          CAST(round(CAST(slp6 AS DOUBLE) / ntok) AS BIGINT) AS mlp_i6,
          ntok
        FROM pd)"""

_BIGRAM_ORACLE = f"""
WITH {_BIGRAM_CTES},
pp AS (SELECT source, mlp_i6,
         CAST(round(exp(-(CAST(mlp_i6 AS DOUBLE) / 1000000.0))
              * 1000000.0) AS BIGINT) AS ppl_i6
       FROM pd2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(mlp_i6) AS DOUBLE) / (count(*) * 1000000.0), 6)
         AS mean_logprob,
       round(CAST(sum(ppl_i6) AS DOUBLE) / (count(*) * 1000000.0), 6)
         AS mean_ppl
FROM pp GROUP BY source ORDER BY source
"""


@query("q_bigram_ppl", oracle=_BIGRAM_ORACLE)
def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-LM perplexity filter (CCNet/KenLM modality, one
    level above q_unigram_logprob / q_ppl_buckets): an additive-
    smoothed bigram model trained on the src0 reference docs scores
    every document; per-source mean log-prob and mean perplexity are
    the domain-similarity signal a perplexity filter thresholds.
    Integer counts, BOS contexts, OOV -> '<unk>', terminal ln/exp on
    the 1e-6 grid; the oracle replays train counts, vocab mapping,
    and scoring joins exactly."""
    return text.bigram_ppl(_docs(spark, sf_dir), train_source="src0")


@query("q_stream_bigram_ppl", oracle=_BIGRAM_ORACLE)
def q_stream_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING LM-count maintenance: the documents stream drained
    through incremental bigram/context count partials (additive
    by-batch store — replay replaces its own batch_id rows),
    a set-union vocab store, and the batch-keyed doc store; at read
    the summed counts feed the SAME shared scoring pipeline as the
    batch operator, so the per-source perplexity table is bit-equal
    to q_bigram_ppl under any chopping and graded on ITS oracle
    (streaming/bigram_lm.py; multibatch + late-reference-doc test)."""
    from neo4j_dynagraph_spark.streaming.bigram_lm import stream_bigram_ppl

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return stream_bigram_ppl(
        spark, f"{sf_dir}/documents.parquet", schema, train_source="src0"
    )


_DW_ETA, _DW_SMOOTH = 1.0, 0.2


_DW_ORACLE = f"""
WITH {_BIGRAM_CTES},
ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(ntok) AS BIGINT) AS n_tokens,
              sum(mlp_i6) AS s_mlp
       FROM pd2 GROUP BY source),
rf AS (SELECT s_mlp AS ref_num, n_docs AS ref_den
       FROM ps WHERE source = 'src0'),
tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
              CAST(count(*) AS BIGINT) AS n_src FROM ps),
b AS (SELECT source, n_docs,
        CAST(n_tokens AS DOUBLE) / (SELECT tot_tok FROM tt)
          AS token_share,
        round((CAST((SELECT ref_num FROM rf) AS DOUBLE)
                 / CAST((SELECT ref_den FROM rf) AS DOUBLE)
               - CAST(s_mlp AS DOUBLE) / CAST(n_docs AS DOUBLE))
              / 1000000.0, 6) AS excess_nll
      FROM ps),
r AS (SELECT b.*, CAST(round(token_share
          * exp({_DW_ETA!r} * excess_nll)
          * 1000000000000.0) AS BIGINT) AS raw_i
      FROM b),
z AS (SELECT sum(raw_i) AS z_i FROM r)
SELECT source, n_docs,
       round(token_share, 6) AS token_share,
       excess_nll,
       round({(1.0 - _DW_SMOOTH)!r}
               * (raw_i / CAST((SELECT z_i FROM z) AS DOUBLE))
             + {_DW_SMOOTH!r} / (SELECT n_src FROM tt), 6) AS weight
FROM r ORDER BY source
"""


@query("q_domain_weights", oracle=_DW_ORACLE)
def q_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023) — the
    mixture-design step that closes the curation loop: q_dsir_weights
    reweights DOCS toward a target distribution, q_temperature_mix
    rescales source shares by a power law, THIS row upweights whole
    DOMAINS by their excess loss under the reference bigram LM
    (exponentiated-gradient update from the token-share prior, uniform
    smoothing per DoReMi eq. 1). Deterministic one-shot form: the
    reference loss is the train domain's own in-domain NLL, so the
    whole computation — shared bigram scoring pass, |sources|-bounded
    aggregates, four broadcast scalars — replays in the oracle with no
    proxy-training loop. Hard domains (high excess NLL) gain weight
    over their token share; the reference domain itself has excess 0
    by construction."""
    return text.domain_weights(
        _docs(spark, sf_dir),
        train_source="src0",
        eta=_DW_ETA,
        smooth=_DW_SMOOTH,
    )


@query("q_stream_domain_weights", oracle=_DW_ORACLE)
def q_stream_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mixture re-estimation: the q_stream_bigram_ppl count
    drain (idempotent/batch_id-keyed stores — the commit-order
    contract) with the DoReMi weight arithmetic as the read-time
    terminal, so every arriving batch shifts every domain's token
    share, excess NLL, and weight. Bit-equal to batch
    q_domain_weights under any chopping and graded on ITS oracle
    (streaming/bigram_lm.py stream_domain_weights; multibatch test)."""
    from neo4j_dynagraph_spark.streaming.bigram_lm import (
        stream_domain_weights,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return stream_domain_weights(
        spark,
        f"{sf_dir}/documents.parquet",
        schema,
        train_source="src0",
        eta=_DW_ETA,
        smooth=_DW_SMOOTH,
    )


_UM_CAP, _UM_NUM, _UM_DEN = 1, 95, 100

_UM_WS = (
    "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
    " x -> x <> ''))"
)

_UM_ORACLE = f"""
WITH tc AS (SELECT source, {_UM_WS} AS ws FROM documents),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS n_tokens FROM tc GROUP BY 1),
tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
              CAST(count(*) AS BIGINT) AS k FROM per),
bb AS (SELECT (total * {_UM_NUM}) // {_UM_DEN} AS b, k FROM tt),
r AS (SELECT p.*, CAST(row_number()
          OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
        sum({_UM_CAP} * n_tokens)
          OVER (ORDER BY n_tokens, source ROWS UNBOUNDED PRECEDING) AS pi
      FROM per p),
v AS (SELECT r.*,
        CASE WHEN {_UM_CAP} * n_tokens * ((SELECT k FROM bb) - i + 1)
                  > (SELECT b FROM bb) - (pi - {_UM_CAP} * n_tokens)
             THEN i END AS viol
      FROM r),
m AS (SELECT coalesce(min(viol) - 1, max(i)) AS m FROM v),
pm AS (SELECT coalesce(sum(CASE WHEN i <= (SELECT m FROM m)
                           THEN {_UM_CAP} * n_tokens END), 0) AS pm FROM v),
al AS (SELECT v.*,
         CASE WHEN i <= (SELECT m FROM m)
              THEN CAST({_UM_CAP} * n_tokens AS DOUBLE)
              ELSE ((SELECT b FROM bb) - (SELECT pm FROM pm))
                   / CAST((SELECT k FROM bb) - (SELECT m FROM m) AS DOUBLE)
         END AS alloc
       FROM v)
SELECT source, n_docs, n_tokens,
       i <= (SELECT m FROM m) AS capped,
       round(alloc, 6) AS alloc_tokens,
       CASE WHEN n_tokens > 0
            THEN round(alloc / n_tokens, 6) END AS epochs,
       CASE WHEN (SELECT b FROM bb) > 0
            THEN round(alloc / (SELECT b FROM bb), 6) END AS weight
FROM al ORDER BY source
"""


@query("q_unimax_mix", bench=True, oracle=_UM_ORACLE)
def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped mixture allocation (Chung et al. 2023) —
    the third mixture-design rule, completing the family: temperature
    (q_temperature_mix, power-law shares), loss-driven DoReMi
    (q_domain_weights), and THIS row's fairness rule — spread a 95%
    token budget as uniformly as possible with at most one epoch of
    any source, so small sources are taken in full (capped) and large
    ones split the remainder equally. The paper's sequential
    waterfill collapses to a closed form over the ascending size
    order (the capped set is a provable prefix); who-is-capped is
    decided ENTIRELY in integer arithmetic — no float boundary — and
    every window runs over the |sources|-row aggregate. One corpus
    token-count pass; oracle replays rank, prefix sums, the integer
    cap test, and the terminal divisions."""
    return text.unimax_mix(
        _docs(spark, sf_dir),
        epoch_cap=_UM_CAP,
        budget_num=_UM_NUM,
        budget_den=_UM_DEN,
    )


@query("q_stream_unimax_mix", oracle=_UM_ORACLE)
def q_stream_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING UniMax re-estimation: the documents stream drained
    into per-batch per-source token-count PARTIALS (|sources| rows
    per batch, batch_id-keyed — the commit-order contract), with the
    epoch-capped waterfill assembled at READ time via the shared
    unimax_from_counts core. Every arriving batch shifts every
    source's total and can move the capped-prefix boundary, so the
    allocation is late-bound by construction — but unlike the
    temperature twin's per-doc catalog, the drained state here is
    counts only (the mixture family's cheapest store). Bit-equal to
    batch q_unimax_mix under any chopping and graded on ITS oracle
    (streaming/unimax.py; multibatch boundary-shift test)."""
    from neo4j_dynagraph_spark.streaming.unimax import stream_unimax_mix

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return stream_unimax_mix(
        spark,
        f"{sf_dir}/documents.parquet",
        schema,
        epoch_cap=_UM_CAP,
        budget_num=_UM_NUM,
        budget_den=_UM_DEN,
    )
