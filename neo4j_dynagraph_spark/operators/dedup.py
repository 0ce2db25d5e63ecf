"""Deduplication operators for large-scale document corpora.

Beyond reference parity (whose only dedup is set-semantics on actors /
canonical pairs, load_gexf_to_neo4j.py:78-79,89-90) these are the
training-data-pipeline operators: exact, MinHash-LSH, SimHash, and
n-gram-Jaccard near-dup detection over a `documents(doc_id, text, ...)`
table.

All hashing is the engine's portable md5-based hash64
(functions.hash64) so an independent SQL engine can replay signatures
bit-for-bit — which is how the DuckDB oracle verifies these.

Scale design (100 TB corpora):
- exact dedup: one hash-groupBy shuffle on a 128-bit digest; no skew
  (hash keys are uniform) — the canonical first pass.
- MinHash-LSH: shingle rows -> one wide min-aggregate per doc (k hash
  columns, no seed explode) -> band join.
  The band join shuffles on (band, signature); bucket sizes are the
  skew risk (boilerplate/empty docs collapse to one signature), so
  `max_bucket` caps pathological buckets (dropped buckets are logged
  by count, not silently). Candidate verification happens downstream
  on the candidate pairs only — never all-pairs.
- SimHash: one groupBy per doc with 16/32 fixed bit-aggregates —
  constant-width state, no explode by bit.
- n-gram Jaccard: exact verify step for candidate pairs, implemented
  as shingle-overlap counts (group-join-group), restricted by a
  blocking key (e.g. same source) to bound the pair space.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from neo4j_dynagraph_spark import functions as dfn
from neo4j_dynagraph_spark.operators.hub import checkpoint_hub

# Positional (per-offset, duplicates kept) word-3-gram expression; the
# distinct form below is DERIVED from it so the two can never drift.
SHINGLE3_POSITIONAL_EXPR = (
    "transform(sequence(1, size(t) - 2), "
    "i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
)
SHINGLE3_EXPR = f"array_distinct({SHINGLE3_POSITIONAL_EXPR})"


def tokens_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, source, t: array<string>) lowercase tokens."""
    keep = [c for c in ("doc_id", "source") if c in docs.columns]
    return docs.select(*keep, dfn.tokens(F.col(text_col)).alias("t"))


def shingles_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct word-3-gram shingles per doc: (doc_id[, source], shingle).

    Docs with fewer than 3 tokens produce no rows (they can only be
    exact dups, which the exact pass catches).

    The input is repartitioned first: a small corpus often arrives as
    one parquet file = ONE partition (row-group granularity blocks
    finer splits), which would run all downstream tokenize+hash CPU
    single-threaded. Shuffling raw text bytes is cheap next to the
    regex+md5 work it parallelizes; on a big corpus with many input
    splits the repartition is a near-no-op rebalance.
    """
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = tokens_df(docs.repartition(n_part, "doc_id"), text_col)
    keep = [c for c in ("doc_id", "source") if c in toks.columns]
    return toks.where(F.size("t") >= 3).select(
        *keep, F.explode(F.expr(SHINGLE3_EXPR)).alias("shingle")
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: (text_hash, keep_id, n_copies).

    keep_id = min(doc_id) is the canonical survivor (deterministic).
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """Wide MinHash signature per doc: (doc_id, h0..h{k-1}).

    Hash family: the concatenated hex of ceil(15k/32) seeded md5
    digests, sliced into 15-hex-char windows — k independent-enough
    60-bit hashes (signed-BIGINT-safe in Spark AND DuckDB, so the
    oracle replays signatures bit-for-bit). 60-bit lanes keep the
    min-hash value space collision-free to ~10^9 distinct shingles;
    the previous 32-bit lanes saturated near 65 k (birthday bound),
    producing false candidate pairs at corpus scale.

    Shape matters at scale: no seed explode (k x fewer rows through the
    shuffle than a per-(doc,seed) layout) — ONE groupBy(doc_id) with k
    min() aggregates over the shingle rows, map-side combinable.
    """
    n_md5 = (num_hashes * 15 + 31) // 32
    hexcat = F.concat(
        *[F.md5(F.concat(F.lit(f"s{i}:"), F.col("shingle"))) for i in range(n_md5)]
    )
    hashed = sh.select(
        "doc_id",
        *[
            F.conv(F.substring(hexcat, 15 * i + 1, 15), 16, 10)
            .cast("long")
            .alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def _lsh_buckets(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Banded LSH buckets with >= 2 members: (band, h0..h{r-1}, ids).

    Parameterized (b, r) banding: the signature's k hash columns split
    into b = k/r bands of r rows each; a bucket is one band's r-tuple
    of hash values. Tuning (b, r) trades recall for precision at fixed
    k (P(candidate) = 1-(1-s^r)^b for Jaccard s): r=2 is the
    high-recall near-dup setting, r=4 the high-precision one — at
    100 TB the knob that sizes the verify stage's candidate load.

    Bands come from ONE explode generator (a union of per-band
    projections would recompute the signature subtree per branch), and
    pairs downstream come from a grouped array expansion instead of a
    bucket self-join: a self-join evaluates the expensive
    shingle->md5->min pipeline once per side (build, then probe —
    sequentially), while collect_list pays it once and turns each
    bucket into its pairs with a JVM lambda. The bucket key is the
    shuffle key either way.
    """
    if rows_per_band < 1:
        raise ValueError("rows_per_band must be >= 1")
    num_hashes = len([c for c in signatures.columns if c.startswith("h")])
    if num_hashes % rows_per_band:
        raise ValueError(
            f"signature width {num_hashes} is not divisible by "
            f"rows_per_band={rows_per_band}"
        )
    r = rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"h{r * b + j}").alias(f"h{j}") for j in range(r)],
            )
            for b in range(num_hashes // r)
        ]
    )
    return (
        signatures.select("doc_id", F.explode(band_structs).alias("bs"))
        .groupBy("bs.band", *[f"bs.h{j}" for j in range(r)])
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )


def lsh_bucket_stats(
    signatures: DataFrame,
    rows_per_band: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Skew accounting for the LSH banding: ONE row
    (n_buckets, n_dropped_buckets, n_dropped_docs, max_bucket_seen).

    n_dropped_docs counts bucket MEMBERSHIPS in over-cap buckets (a doc
    landing in two degenerate bands counts twice) — the quadratic work
    the cap avoided is sum(n_i^2) over those buckets. This is the
    guaranteed drop log for capped runs of lsh_candidate_pairs: same
    banding shuffle, aggregate-only on top, immune to the AQE
    empty-plan caveat that can swallow Observation metrics.
    """
    cap = max_bucket if max_bucket is not None else (1 << 62)
    b = _lsh_buckets(signatures, rows_per_band)
    over = F.size("ids") > cap
    return b.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("n_dropped_buckets"),
        F.coalesce(
            F.sum(F.when(over, F.size("ids")).otherwise(0)), F.lit(0)
        ).alias("n_dropped_docs"),
        F.coalesce(F.max(F.size("ids")), F.lit(0)).alias("max_bucket_seen"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    rows_per_band: int = 2,
    max_bucket: int | None = 64,
    observation=None,  # noqa: ANN001 — pyspark.sql.Observation
) -> DataFrame:
    """Band the signatures and emit candidate pairs (d1 < d2).

    Banding with r=rows_per_band: docs agreeing on ALL rows of any band
    become candidates. The self-join shuffles on (band, h0..h{r-1}) —
    the LSH bucket key. `max_bucket` (ON by default) drops degenerate
    buckets larger than the cap — the skew guard for 100 TB corpora
    full of boilerplate, where one collapsed signature would otherwise
    materialize a quadratic bucket expansion in a single task. Drops
    are never silent: ``lsh_bucket_stats`` reports drop counts as a
    1-row DataFrame from the same banding, and a
    ``pyspark.sql.Observation`` can be attached to piggyback
    ``n_dropped_buckets`` / ``max_bucket_seen`` on the pair-producing
    action itself (map-side metrics, no extra job). Caveat on the
    observation path: when EVERY bucket is dropped, AQE's
    empty-relation propagation can eliminate the CollectMetrics node
    along with the empty subtree — use lsh_bucket_stats for
    guaranteed accounting. Any (b, r) with r dividing the signature
    width is supported — b=4/r=2 on k=8 signatures for recall,
    b=4/r=4 on k=16 for precision.
    """
    buckets = _lsh_buckets(signatures, rows_per_band)
    if observation is not None:
        cap = max_bucket if max_bucket is not None else (1 << 62)
        buckets = buckets.observe(
            observation,
            F.sum((F.size("ids") > cap).cast("long")).alias("n_dropped_buckets"),
            F.max(F.size("ids")).alias("max_bucket_seen"),
        )
    if max_bucket is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket)
    pairs = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS d1, y AS d2))))"
    )
    return (
        buckets.select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """Set-based SimHash fingerprint per doc: (doc_id, simhash).

    Each distinct token votes +1/-1 on each of `bits` bit positions of
    its hash64; the sign of the per-position sum sets the output bit.
    Implemented as `bits` fixed aggregate expressions in ONE groupBy —
    no per-bit explode, constant state per doc.
    """
    toks = tokens_df(docs, text_col)
    tu = toks.select("doc_id", F.explode(F.array_distinct("t")).alias("token"))
    h = tu.withColumn("hv", dfn.hash64(F.col("token")))
    sums = [
        F.sum(
            F.when(F.expr(f"(hv div {1 << b}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    g = h.groupBy("doc_id").agg(*sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return g.select("doc_id", sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    block_col: str | None = "source",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs: (d1, d2, jac).

    Candidates are pairs sharing >= 1 shingle within the blocking key
    (all-pairs across 100 TB is never computed). Intersection counts by
    a shingle self-join + group; set sizes joined back; Jaccard =
    |I| / (|A| + |B| - |I|).
    """
    overlaps = _shingle_pair_overlaps(docs, block_col, text_col)
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return overlaps.where(jac >= threshold).select(
        "d1", "d2", F.round(jac, 6).alias("jac")
    )


def _shingle_pair_overlaps(
    docs: DataFrame, block_col: str | None, text_col: str
) -> DataFrame:
    """Shared candidate generation for the exact n-gram verifiers:
    (d1, d2, c, na, nb) for every doc pair sharing >= 1 shingle within
    the blocking key (all-pairs across 100 TB is never computed) —
    intersection count via shingle self-join + group, set sizes joined
    back. Jaccard and containment are different predicates over the
    SAME relation, so the blocking/size semantics cannot silently
    diverge between them."""
    sh = shingles_df(docs, text_col)
    join_keys = [F.col("a.shingle") == F.col("b.shingle"),
                 F.col("a.doc_id") < F.col("b.doc_id")]
    if block_col and block_col in sh.columns:
        join_keys.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    # r13 (guide §1.2 step 1): the size table is referenced twice (na
    # and nb below) and each reference re-ran the whole corpus
    # tokenize+shingle pass — checkpoint the one-narrow-row-per-doc
    # aggregate so only the self-join's two sides still derive from the
    # raw stream. The shingle stream itself stays lazy by the round's
    # convention: materializing corpus-sized 3-gram strings trades the
    # memory-pin hazard for two scans of pushed-down parquet.
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(checkpoint_hub)
    )
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), join_keys[0] & join_keys[1] & (join_keys[2] if len(join_keys) > 2 else F.lit(True)))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    return inter.join(na, "d1").join(nb, "d2")


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = "source",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by 3-gram containment:
    C = |A∩B| / min(|A|, |B|) — the containment of the smaller
    shingle set in the larger. Jaccard misses a short doc fully
    quoted inside a much longer one (|I|/(|A|+|B|-|I|) shrinks with
    the size gap); containment stays 1.0, which is why boilerplate /
    quote / superset detection thresholds on C, not J. Same candidate
    generation as the Jaccard verify (pairs sharing >= 1 shingle
    within the block — never all-pairs), same scale shape; emits
    (d1, d2, cont, jac) with jac alongside so downstream policy can
    distinguish true near-dups (both high) from asymmetric
    containments (high C, low J)."""
    overlaps = _shingle_pair_overlaps(docs, block_col, text_col)
    cont = F.col("c") / F.least(F.col("na"), F.col("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return overlaps.where(cont >= threshold).select(
        "d1",
        "d2",
        F.round(cont, 6).alias("cont"),
        F.round(jac, 6).alias("jac"),
    )


def prefix_jaccard_join(
    docs: DataFrame, threshold: float = 0.6, text_col: str = "text"
) -> DataFrame:
    """Exact token-set Jaccard similarity join via PREFIX FILTERING
    (the PPJoin family, Xiao et al. 2008 — public knowledge): emits
    every pair with J(tokens(a), tokens(b)) >= threshold as
    ``(d1, d2, n1, n2, common, jac)``, with a COMPLETENESS guarantee
    LSH banding cannot give (MinHash misses true pairs with
    probability (1 - J^r)^b; prefix filtering misses none).

    How it scales — candidates come from an equi-join, never
    all-pairs:

    - global document frequency orders the vocabulary rarest-first
      (df ASC, token): the ordering key is the (df, token) pair
      itself, so no global rank is materialized;
    - each doc keeps only its PREFIX — the n - ceil(t*n) + 1 smallest
      tokens in that order (per-doc window, partitioned by doc_id) —
      any pair with J >= t must share a prefix token, and prefixes
      concentrate in RARE tokens, so the token-bucketed self-join
      explodes far less than a full inverted index;
    - verification is relational: count shared tokens per surviving
      pair via the same token-keyed join and apply the exact Jaccard
      predicate. No arrays are shipped, no UDFs.

    Reference parity: extends q_ngram_jaccard's verify (3-gram
    blocked candidates, operators/dedup.py above) with the
    prefix-filter candidate strategy; same output contract.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # r13: toks is referenced four ways (df table, the sized prefix
    # build, and both verify sides) and prefix twice (the candidate
    # self-join) — checkpoint each once so the corpus tokenization and
    # the df/window build run once (guide §1.2 step 1)
    toks = (
        tokens_df(docs, text_col)
        .select("doc_id", F.explode("t").alias("token"))
        .distinct()
        .transform(checkpoint_hub)
    )
    df_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    sized = toks.join(df_counts, "token").withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix_len = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
    prefix = (
        sized.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
        .where(F.col("pos") <= prefix_len)
        .select("doc_id", "token", "n")
        .transform(checkpoint_hub)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("_shared_prefix"))
        .drop("_shared_prefix")
    )
    common = (
        cand.join(
            toks.select(F.col("doc_id").alias("d1"), "token"), "d1"
        )
        .join(
            toks.select(F.col("doc_id").alias("d2"), "token"),
            ["d2", "token"],
        )
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.where(jac >= threshold)
        .select(
            "d1",
            "d2",
            F.col("n1").cast("long"),
            F.col("n2").cast("long"),
            F.col("common").cast("long"),
            F.round(jac, 6).alias("jac"),
        )
        .orderBy("d1", "d2")
    )


def dup_span_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-document duplicated-span statistics — the blocked form of
    exact-substring deduplication ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022). The suffix-array span
    match is approximated at word-3-gram granularity: a shingle
    OCCURRENCE is "duplicated" when the same shingle text appears in
    at least one OTHER document; a doc's dup_frac is the fraction of
    its shingle positions covered by such cross-doc spans. Docs that
    are mostly duplicated spans (boilerplate, mirrored pages) are the
    removal candidates the paper targets.

    Distributed shape: shingle occurrences are pre-aggregated to
    (doc_id, shingle, c) — one map-side-combine shuffle keyed by
    (doc, shingle) — so the cross-doc test and the join-back both run
    on the DISTINCT occurrence table, not the raw position stream. The
    shingle-level table (n_docs per shingle) joins back on the shingle
    key: a standard hash-partitioned equi-join whose keys are md5-
    uniform, no skew. Nothing is quadratic; nothing is collected.

    Columns: doc_id, source, n_pos (shingle positions),
    n_dup_pos (positions in cross-doc spans), dup_frac (rounded 1e-6).
    """
    toks = tokens_df(docs, text_col).where(F.size("t") >= 3)
    positions = toks.select(
        "doc_id",
        "source",
        F.explode(F.expr(SHINGLE3_POSITIONAL_EXPR)).alias("shingle"),
    )
    per_doc = positions.groupBy("doc_id", "source", "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    # min!=max over doc_id is the constant-state form of
    # count_distinct(doc_id) > 1 — no distinct-aggregate shuffle.
    shingle_docs = per_doc.groupBy("shingle").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("is_dup")
    )
    return (
        per_doc.join(shingle_docs, "shingle")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_pos"),
            F.sum(F.when(F.col("is_dup"), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_pos"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_pos") / F.col("n_pos").cast("double"), 6),
        )
    )


def remove_dup_spans(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The ACT half of :func:`dup_span_stats`: rewrite every document
    with its cross-document duplicated spans REMOVED (Lee et al.
    2022's ExactSubstr deduplication, blocked at word-3-gram
    granularity — a token is dropped when any 3-gram span covering it
    also appears in another document). The rebuilt text is exported
    as an md5 so the rewrite itself is verified bit-for-bit
    cross-engine (same stance as vocab_prune's rebuild terminal).

    Distributed shape: the duplicated-shingle test reuses the
    min!=max constant-state trick on the distinct (doc, shingle)
    table; each doc's dup-span START LIST is one collect_set
    aggregation (bounded by doc length — never corpus state); the
    rewrite is a single JVM array expression (coverage test + filter
    + rebuild) over the doc's token array — map-side, no Python.

    Columns: doc_id, n_tokens, n_removed, removed_frac (round 6),
    rebuilt_md5.
    """
    toks = tokens_df(docs, text_col).select("doc_id", "t")
    sh = toks.where(F.size("t") >= 3).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(t) - 3), "
                "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("i", "shingle"),
    )
    # r14: the cross-doc test rides a window over the shingle key, so
    # the posexplode position stream is computed ONCE inside a single
    # shuffle instead of once per branch (the old shape derived a
    # distinct dup-shingle table and joined it back — two passes over
    # the corpus-token stream). min/max are duplicate-insensitive, so
    # the window over raw positions equals the old distinct-table test
    # bit-for-bit. Measured at sf0.1: 3.39 s -> 2.79 s (1.21x), and at
    # scale one tokenization pass instead of two (guide §2.4).
    sw = Window.partitionBy("shingle")
    starts = (
        sh.withColumn("_mn", F.min("doc_id").over(sw))
        .withColumn("_mx", F.max("doc_id").over(sw))
        .where(F.col("_mn") != F.col("_mx"))
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
    )
    r = toks.join(starts, "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce("starts", F.expr("array()")).alias("starts"),
    )
    kept = F.expr(
        "transform(filter(sequence(0, size(t) - 1), "
        "i -> NOT exists(starts, s -> s <= i AND i <= s + 2)), "
        "i -> t[i])"
    )
    return (
        r.where(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
            F.round(
                (F.size("t") - F.size(kept))
                / F.size("t").cast("double"),
                6,
            ).alias("removed_frac"),
            F.md5(F.concat_ws(" ", kept)).alias("rebuilt_md5"),
        )
    )


def exact_dup_spans(
    docs: DataFrame, span: int = 50, text_col: str = "text"
) -> DataFrame:
    """True exact-substring duplicated spans (Lee et al. 2022's
    ExactSubstr dedup at its published granularity): maximal runs of
    tokens, at least ``span`` (default 50) long, that appear verbatim
    in at least one OTHER document. Upgrades :func:`dup_span_stats`'
    3-gram blocking — there, adjacent duplicated shingles are counted
    independently and short incidental 3-grams alias across docs; here
    a position is duplicated only when a full 50-token window through
    it matches, and overlapping duplicated windows are MERGED into
    maximal spans, which is exactly the suffix-array semantics for
    spans >= span tokens (every 50-token window inside a duplicated
    span is itself duplicated; no shorter match can fire).

    The suffix array the paper builds is a single-machine structure;
    the DataFrame-native equivalent is a stride-1 rolling fingerprint:
    one row per token position (linear in corpus tokens), hashed with
    the portable hash64 so any engine reproduces the fingerprints
    bit-for-bit.

    Distributed shape: the window stream is a narrow
    explode+slice+hash projection (no shuffle); the cross-doc test is
    the constant-state min!=max trick (never count_distinct) computed
    as a window over the uniform 60-bit hash, so the whole stream
    crosses ONE shuffle and is never materialized; span merging is a lag +
    running-sum window PARTITIONED BY doc — per-doc state, bounded by
    doc length, parallel across docs. Nothing is quadratic; nothing
    is collected.

    Columns: doc_id, source, span_start, span_end (inclusive token
    offsets, 0-based), span_len.
    """
    if span < 2:
        raise ValueError("span must be >= 2")
    toks = tokens_df(docs, text_col).where(F.size("t") >= span)
    wins = toks.select(
        "doc_id",
        "source",
        F.explode(F.expr(f"sequence(0, size(t) - {span})")).alias("start"),
        "t",
    ).select(
        "doc_id",
        "source",
        "start",
        dfn.hash64(
            F.concat_ws(" ", F.expr(f"slice(t, start + 1, {span})"))
        ).alias("h"),
    )
    # r14 (ADVICE A1): the cross-doc test rides a window over h, so the
    # explode+slice+hash projection runs ONCE inside a single shuffle —
    # no barrier at all. The r13 shape localCheckpoint'ed the corpus-
    # token-sized window stream (executor memory pin, not fault-
    # tolerant) so the groupBy-h aggregate and the dup-start semi-join
    # could share it; min/max(doc_id) OVER (PARTITION BY h) answers the
    # same min!=max question in-stream (guide §2.4 — the window reuses
    # the one hash partitioning). Measured at sf0.1: 1.49 s
    # (localCheckpoint) / 1.86 s (parquet round-trip) / 1.52 s (this),
    # bit-equal outputs; this shape alone keeps lineage recomputable
    # and pins nothing.
    hw = Window.partitionBy("h")
    starts = (
        wins.withColumn("_mn", F.min("doc_id").over(hw))
        .withColumn("_mx", F.max("doc_id").over(hw))
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "source", "start")
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    isl = (
        starts.withColumn(
            # contiguous (gap == 1) extends the island; anything else —
            # including the NULL lag on the first row — breaks
            "brk",
            F.when(
                F.col("start") - F.lag("start").over(w) == 1, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        isl.groupBy("doc_id", "source", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            (F.max("start") + F.lit(span - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "source",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
        )
    )


def remove_exact_dup_spans(
    docs: DataFrame, span: int = 50, text_col: str = "text"
) -> DataFrame:
    """The ACT half of :func:`exact_dup_spans`: rewrite every document
    with its cross-document EXACT duplicated substrings (>= ``span``
    tokens, Lee et al. 2022's published granularity) removed — a token
    is dropped when any ``span``-token window covering it appears
    verbatim in another document. Token-coverage by maximal merged
    spans equals coverage by the raw duplicated windows, so the
    rewrite consumes the window-start table directly and needs no
    island merge. The rebuilt text is exported as an md5 so the
    rewrite is verified bit-for-bit cross-engine (remove_dup_spans'
    stance, at exact-substring granularity).

    Distributed shape: stride-1 rolling fingerprints (linear), the
    constant-state min!=max cross-doc test on the uniform hash, one
    doc-length-bounded collect_set of dup starts per doc, and a single
    JVM array expression for the coverage test + rebuild — map-side,
    no Python, nothing quadratic.

    Columns: doc_id, n_tokens, n_removed, removed_frac (round 6),
    rebuilt_md5.
    """
    if span < 2:
        raise ValueError("span must be >= 2")
    toks = tokens_df(docs, text_col).select("doc_id", "t")
    wins = toks.where(F.size("t") >= span).select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, size(t) - {span})")).alias("start"),
        "t",
    ).select(
        "doc_id",
        "start",
        dfn.hash64(
            F.concat_ws(" ", F.expr(f"slice(t, start + 1, {span})"))
        ).alias("h"),
    )
    # r14 (ADVICE A1): same barrier-free window-over-h shape as
    # exact_dup_spans above — the fingerprint projection runs once
    # inside one shuffle, nothing corpus-sized is pinned, lineage stays
    # recomputable (A/B in that function's comment).
    hw = Window.partitionBy("h")
    starts = (
        wins.withColumn("_mn", F.min("doc_id").over(hw))
        .withColumn("_mx", F.max("doc_id").over(hw))
        .where(F.col("_mn") != F.col("_mx"))
        .groupBy("doc_id")
        .agg(F.collect_set("start").alias("starts"))
    )
    r = toks.join(starts, "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce("starts", F.expr("array()")).alias("starts"),
    )
    kept = F.expr(
        f"transform(filter(sequence(0, size(t) - 1), "
        f"i -> NOT exists(starts, s -> s <= i AND i <= s + {span - 1})), "
        f"i -> t[i])"
    )
    return (
        r.where(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
            F.round(
                (F.size("t") - F.size(kept))
                / F.size("t").cast("double"),
                6,
            ).alias("removed_frac"),
            F.md5(F.concat_ws(" ", kept)).alias("rebuilt_md5"),
        )
    )


def minhash_decontaminate(
    docs: DataFrame,
    is_benchmark,  # noqa: ANN001 — boolean Column over docs
    num_hashes: int = 8,
    rows_per_band: int = 1,
    min_eq: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag training docs whose
    MinHash signature agrees with a benchmark doc's on >= ``min_eq``
    of ``num_hashes`` components (estimated Jaccard >= min_eq/k) —
    the near-duplicate complement to decontaminate()'s exact n-gram
    rule (a lightly paraphrased eval answer shares few verbatim
    8-grams but keeps high shingle Jaccard).

    CANDIDATE COMPLETENESS: candidates require at least one
    fully-equal ALIGNED band of ``rows_per_band`` consecutive
    components. The default ``rows_per_band=1`` makes that filter a
    strict SUPERSET of the agreement rule (any pair with
    n_eq >= min_eq >= 1 shares a 1-row band), so the output is
    EXACTLY the rule — no LSH false negatives, the right contract for
    a decontamination gate. With ``rows_per_band=r > 1`` a pair whose
    n_eq >= min_eq agreements are spread so that no r consecutive
    aligned components are all equal is silently missed (for
    uniformly-placed agreements the miss probability rises as
    agreements scatter) — use r > 1 only to cut candidate volume when
    an approximate gate is acceptable.

    Scale shape: ONE signature pass over the union (the corpus-sized
    work); the benchmark slice of the signatures is tiny (eval sets
    vs a 100 TB corpus) so BOTH its banded keys and its full
    signatures broadcast — candidate generation is a map-side band
    join of the train bands against the broadcast benchmark bands
    (never all-pairs), and the signature-agreement verify re-attaches
    the broadcast benchmark signature row by bench_id. Output one row
    per flagged (train doc, benchmark doc): doc_id, bench_id, n_eq,
    est_jaccard.
    """
    if num_hashes % rows_per_band:
        raise ValueError(
            f"signature width {num_hashes} is not divisible by "
            f"rows_per_band={rows_per_band}"
        )
    flagged = docs.select("doc_id", is_benchmark.alias("_is_bench"), text_col)
    # r13: sigs is referenced four ways (train/bench band explodes +
    # the verify join + the broadcast benchmark signatures) — without
    # the cut the corpus signature pass executed once per reference.
    # V rows x (num_hashes + 1) narrow columns.
    # doc_id + num_hashes signature columns + the flag: wider than the
    # default hub bound but V-bounded — the explicit override the
    # helper's contract requires for legit wide hubs
    sigs = checkpoint_hub(
        minhash_signatures(shingles_df(flagged, text_col)).join(
            flagged.select("doc_id", "_is_bench"), "doc_id"
        ),
        max_width=num_hashes + 2,
    )
    bench = sigs.where(F.col("_is_bench")).drop("_is_bench")
    train = sigs.where(~F.col("_is_bench")).drop("_is_bench")
    r = rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"h{r * b + j}").alias(f"h{j}") for j in range(r)],
            )
            for b in range(num_hashes // r)
        ]
    )
    keys = ["band"] + [f"h{j}" for j in range(r)]

    def bands(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(id_alias), F.explode(band_structs).alias("bs")
        ).select(id_alias, *[F.col(f"bs.{k}").alias(k) for k in keys])

    cand = (
        bands(train, "doc_id")
        .join(F.broadcast(bands(bench, "bench_id")), keys)
        .select("doc_id", "bench_id")
        .distinct()
    )
    bsig = bench.select(
        F.col("doc_id").alias("bench_id"),
        *[F.col(f"h{i}").alias(f"bh{i}") for i in range(num_hashes)],
    )
    n_eq = sum(
        F.when(F.col(f"h{i}") == F.col(f"bh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        cand.join(train, "doc_id")
        .join(F.broadcast(bsig), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            n_eq.cast("long").alias("n_eq"),
        )
        .where(F.col("n_eq") >= min_eq)
        .select(
            "doc_id",
            "bench_id",
            "n_eq",
            F.round(F.col("n_eq") / F.lit(float(num_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def soft_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SOFT deduplication: reweight instead of remove. Every document
    in an exact-content group of size n carries weight 1/n, so a
    corpus with heavy boilerplate keeps its diversity while repeated
    content contributes one document's worth of training mass in
    total — the downweighting alternative to :func:`exact_duplicates`'
    survivor selection (the repetition/memorization trade the
    dedup-or-reweight literature studies), and the per-SOURCE
    effective-mass report is the mixture-design input (a source that
    is 90% internal duplicates has far less effective data than its
    row count claims).

    House round-boundary convention: per-doc weights ride as BIGINT
    on the 1e-6 grid (w6 = round(1e6/n), tw6 = round(tokens*1e6/n) —
    single-valued integer functions), per-source sums are exact, and
    the effective masses are one terminal division each — bit-stable
    across partitionings and engines. One content-hash aggregate
    (|groups| rows) joined back by hash, one |sources|-row terminal.
    Columns: source, n_docs, dup_docs, effective_docs,
    effective_tokens (round 6; ordered by source).
    """
    return soft_dedup_from_fingerprints(soft_dedup_fingerprints(docs, text_col))


def soft_dedup_fingerprints(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The per-doc fingerprint projection of :func:`soft_dedup`:
    (doc_id, source, h, ws) — content digest + whitespace token
    count, ~40 bytes/doc instead of the text. This is what the
    STREAMING twin stores (streaming/soft_dedup.py): group sizes and
    weights are late-bound at read time, so a duplicate arriving in
    any later batch re-weights every earlier copy."""
    return docs.select(
        "doc_id",
        "source",
        F.md5(F.col(text_col)).alias("h"),
        F.size(dfn.tokens(F.col(text_col))).cast("long").alias("ws"),
    )


def soft_dedup_from_fingerprints(fp: DataFrame) -> DataFrame:
    """The arithmetic half of :func:`soft_dedup` over a (doc_id,
    source, h, ws) fingerprint table — shared with the streaming
    drain, which assembles the same table from its store at read
    time. Same integer-grid contract as the full operator."""
    groups = fp.select("h").groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_doc = (
        fp.join(groups, "h")
        .select(
            "source",
            "n",
            F.round(F.lit(1e6) / F.col("n")).cast("long").alias("w6"),
            F.round(F.col("ws") * F.lit(1e6) / F.col("n"))
            .cast("long")
            .alias("tw6"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("n") > 1, F.lit(1)))
            .cast("long")
            .alias("dup_docs"),
            F.sum(F.col("w6").cast("decimal(38,0)")).alias("sw6"),
            F.sum(F.col("tw6").cast("decimal(38,0)")).alias("stw6"),
        )
        .select(
            "source",
            "n_docs",
            "dup_docs",
            F.round(F.col("sw6").cast("double") / F.lit(1e6), 6).alias(
                "effective_docs"
            ),
            F.round(F.col("stw6").cast("double") / F.lit(1e6), 6).alias(
                "effective_tokens"
            ),
        )
        .orderBy("source")
    )
