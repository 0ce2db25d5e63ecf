"""Similarity search over embedding columns (array<float>).

Two paths, per the scale playbook:

- brute_force_topk: exact cosine top-k of query vectors against the
  corpus. The query side is broadcast (queries are few); the corpus is
  scanned once; per-partition top-k via a rank window. Dot products run
  JVM-side (zip_with + aggregate) — no Python in the loop. This is the
  correctness baseline and is fine whenever |queries| is small.

- lsh_bucketed_topk: random-hyperplane LSH pre-bucketing. Hyperplane
  sign bits come from the portable hash64 of (plane, dimension) — fully
  deterministic, no stored model. Candidates = corpus vectors sharing a
  bucket with the query; exact cosine re-rank within candidates. At
  100 TB the bucket join replaces the full scan per query batch; recall
  is tuned by n_planes/n_tables.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from neo4j_dynagraph_spark.operators.hub import (
    checkpoint_hub,
    materialize,
    supersteps,
)

_DOT = "aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
_NORM = "sqrt(aggregate(transform({c}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"


def as_double_vec(df: DataFrame, col: str = "embedding", out: str = "v") -> DataFrame:
    """Cast array<float> -> array<double> once, up front: all cosine math
    is then pure double, matching any SQL oracle bit-for-bit."""
    return df.withColumn(out, F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Exact cosine top-k: (qid, rank, cid, sim).

    `queries` (qid, qv) is broadcast; sim ties break on candidate id so
    the cut is deterministic. One wide scan + one rank window shuffled
    by qid (tiny).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col("qid"), F.col("qv"), F.expr(_NORM.format(c="qv")).alias("qn")
    )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("v"),
        F.expr(_NORM.format(c=vec_col)).alias("cn"),
    )
    sim = (F.expr(_DOT) / (F.col("qn") * F.col("cn"))).alias("sim_raw")
    pairs = c.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid", "cid", sim
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "cid", F.round("sim_raw", 6).alias("sim"))
        .orderBy("qid", "rank")
    )


def hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    table: int = 0,
) -> DataFrame:
    """Deterministic random-hyperplane LSH bucket id per vector.

    Plane p's weight for dimension d is (hash64('t{table}p{p}d{d}') %
    2001 - 1000) / 1000.0 — a portable pseudo-random value in [-1, 1];
    `table` seeds an independent hash family per LSH table. The bucket
    id packs the sign bits of the n_planes projections (table 0 keeps
    the historical 'p{p}d' seeds so existing buckets are stable).

    Assumes a uniform vector dimension (taken from the first row) —
    the embedding-table contract; the weight literals are sized to it.
    """
    seed = f"t{table}p" if table else "p"
    dim = df.select(F.size(vec_col).alias("d")).first()
    if dim is None:
        raise ValueError("hyperplane_buckets: empty input, no dimension")
    n_dim = int(dim.d)
    proj_terms = []
    for p in range(n_planes):
        # The weights are DATA-INDEPENDENT (pure functions of (plane,
        # dim)), so they are computed ONCE here with Python's md5 —
        # bit-identical to the SQL md5 the DuckDB oracle replays — and
        # inlined as literals. The previous form evaluated the md5
        # chain per ROW inside the transform: |corpus| x planes x dims
        # JVM md5 calls (5M+ per query at sf0.1) for constants.
        weights = [_plane_weight(f"{seed}{p}d{d}") for d in range(n_dim)]
        w_arr = F.array(*[F.lit(w) for w in weights])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), w_arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        proj_terms.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = proj_terms[0]
    for t in proj_terms[1:]:
        bucket = bucket + t
    return df.select(
        F.col(id_col), F.col(vec_col), bucket.cast("long").alias("bucket")
    )


def _plane_weight(token: str) -> float:
    """(hash64(token) % 2001 - 1000) / 1000.0 computed driver-side:
    first 15 hex chars of md5, integer modulo — the exact value the
    DuckDB oracle's ('0x'||substr(md5(...),1,15))::BIGINT form yields
    (functions.hash64's portable family)."""
    import hashlib

    h = int(hashlib.md5(token.encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket join(s) then exact re-rank.

    Output schema matches brute_force_topk; recall < 1 by design,
    tuned on two axes: fewer planes -> bigger buckets (higher recall,
    more verify work per bucket), more tables -> OR-amplification (a
    candidate only needs to share a bucket in ANY table; recall rises
    roughly 1-(1-r)^T for per-table recall r). Each table's bucket ids
    come from an independent seeded hash family; candidates are
    deduped before the exact re-rank so a pair colliding in several
    tables is scored once. The join shuffles on (table, bucket) — at
    scale, pre-partition/bucket the corpus by this key so the probe
    side co-locates.
    """
    from pyspark.sql import Window

    cand = None
    for t in range(n_tables):
        cb = hyperplane_buckets(
            corpus, n_planes, id_col, vec_col, table=t
        ).withColumnRenamed(id_col, "cid")
        qb = hyperplane_buckets(
            queries.select(F.col("qid").alias(id_col), F.col("qv").alias(vec_col)),
            n_planes,
            id_col,
            vec_col,
            table=t,
        ).select(F.col(id_col).alias("qid"), "bucket")
        pairs = (
            cb.join(F.broadcast(qb), "bucket")
            .where(F.col("cid") != F.col("qid"))
            .select("qid", "cid", F.col(vec_col))
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.dropDuplicates(["qid", "cid"])
    q_side = queries.select(
        "qid", F.col("qv"), F.expr(_NORM.format(c="qv")).alias("qn")
    )
    scored = cand.withColumn("cn", F.expr(_NORM.format(c=vec_col))).join(
        F.broadcast(q_side), "qid"
    )
    sim = (F.expr(_DOT) / (F.col("qn") * F.col("cn"))).alias("sim_raw")
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
    return (
        scored.select("qid", "cid", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "cid", F.round("sim_raw", 6).alias("sim"))
        .orderBy("qid", "rank")
    )


_DOT12 = "aggregate(zip_with(v1, v2, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "v",
    use_buckets: bool = False,
    n_planes: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1, id2, sim) with
    id1 < id2 and sim > threshold (exclusive, canonical order as in
    load_gexf_to_neo4j.py:201-202's pair canonicalization).

    Exact mode is the all-pairs baseline (broadcast nested-loop on the
    smaller side) — quadratic, only for modest corpora / within-block
    verification. With use_buckets=True, candidates are restricted to
    pairs sharing a random-hyperplane LSH bucket (hyperplane_buckets),
    then exactly verified: the 100 TB path, where the bucket equi-join
    replaces the cross product and recall is tuned by n_planes (fewer
    planes -> bigger buckets -> higher recall, more verify work).
    """
    c1 = corpus.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        F.expr(_NORM.format(c=vec_col)).alias("n1"),
    )
    c2 = corpus.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        F.expr(_NORM.format(c=vec_col)).alias("n2"),
    )
    if use_buckets:
        # one bucketing pass feeds both join sides directly (no join
        # back by id). The verify cost rides on the PROBE side of the
        # (broadcast) bucket join — per probe row x bucket-mates x dim
        # interpreted lambda evals — and a small corpus arrives as ONE
        # parquet file = one partition, serializing the whole verify in
        # a single task. Round-robin repartition the probe side to the
        # session's shuffle-partition count first (same treatment as
        # shingles_df); when the corpus outgrows the broadcast threshold
        # the planner shuffles both sides on `bucket` anyway and AQE's
        # skew-join splitting handles hot sign patterns.
        wb = hyperplane_buckets(corpus, n_planes, id_col, vec_col)
        base = wb.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(_NORM.format(c=vec_col)).alias("n"),
            "bucket",
        )
        par = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        left = base.repartition(par).select(
            F.col(id_col).alias("id1"),
            F.col(vec_col).alias("v1"),
            F.col("n").alias("n1"),
            F.col("bucket").alias("b1"),
        )
        right = base.select(
            F.col(id_col).alias("id2"),
            F.col(vec_col).alias("v2"),
            F.col("n").alias("n2"),
            F.col("bucket").alias("b2"),
        )
        pairs = left.join(
            right,
            (F.col("id1") < F.col("id2")) & (F.col("b1") == F.col("b2")),
        )
    else:
        # probe side parallelized for the same one-file-corpus reason
        # as the bucketed path above
        par = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        pairs = c1.repartition(par).join(
            F.broadcast(c2), F.col("id1") < F.col("id2")
        )
    sim = F.expr(_DOT12) / (F.col("n1") * F.col("n2"))
    return (
        pairs.select("id1", "id2", sim.alias("sim_raw"))
        .where(F.col("sim_raw") > threshold)
        .select("id1", "id2", F.round("sim_raw", 6).alias("sim"))
        .orderBy("id1", "id2")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids by cosine.

    Output: (id_col, vec_col, cell, cell_rank). cell_rank=1 is the home
    cell; queries probe ranks 1..nprobe. Centroids (cent_id, cv) are
    broadcast — the coarse codebook is small by construction.
    """
    from pyspark.sql import Window

    cent = centroids.select(
        "cent_id", F.col("cv").alias("v2"), F.expr(_NORM.format(c="cv")).alias("n2")
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.col(vec_col).alias("v1"),
        F.expr(_NORM.format(c=vec_col)).alias("n1"),
    )
    sim = F.expr(_DOT12) / (F.col("n1") * F.col("n2"))
    w = Window.partitionBy(id_col).orderBy(F.desc("cell_sim"), "cell")
    return (
        c.join(F.broadcast(cent))
        .select(id_col, vec_col, F.col("cent_id").alias("cell"), sim.alias("cell_sim"))
        .withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= nprobe)
        .select(id_col, vec_col, "cell", "cell_rank")
    )


def rerank_probed_cells(
    cellsv: DataFrame, probes: DataFrame, k: int
) -> DataFrame:
    """Exact cosine re-rank of probed IVF cells — the shared terminal
    of :func:`ivf_topk` / :func:`ivf_topk_from_cells`, exposed (r13) so
    callers that hold ONE precomputed assignment (``cellsv``: cid, v2,
    cell) and ONE probe table (``probes``: qid, v1, cell) can evaluate
    several probe depths without re-deriving the coarse quantizer per
    depth (q_ivf_tuning's audited plan carried 60 parquet scans).
    Identical expression tree to the previous inline form."""
    from pyspark.sql import Window

    sim = F.expr(_DOT12) / (
        F.expr(_NORM.format(c="v1")) * F.expr(_NORM.format(c="v2"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
    return (
        cellsv.join(F.broadcast(probes), "cell")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", sim.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "cid", F.round("sim_raw", 6).alias("sim"))
        .orderBy("qid", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into cells,
    probe each query's nprobe nearest cells, exact re-rank inside.

    The codebook here is deterministic — the first n_centroids corpus
    vectors (by id) — so the whole index is reproducible in ANSI SQL;
    a trained KMeans codebook is a drop-in replacement (same assign /
    probe plan). Corpus cells are the partition-pruning key at scale:
    store the corpus bucketed by `cell` and a probe touches nprobe/C of
    the data. Output schema matches brute_force_topk; with
    nprobe == n_centroids the result IS the exact answer (tested).
    """
    centroids = corpus.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )
    cells = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("v2"), "cell"
    )
    probes = ivf_assign(
        queries.select(F.col("qid").alias(id_col), F.col("qv").alias(vec_col)),
        centroids,
        id_col,
        vec_col,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("qid"), F.col(vec_col).alias("v1"), "cell")
    return rerank_probed_cells(cells, probes, k)


def write_ivf_corpus(
    corpus: DataFrame,
    centroids: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Materialize the corpus partitioned by its IVF home cell.

    This is the at-rest layout the probe path assumes at scale: a query
    that probes nprobe cells reads nprobe directories (partition
    pruning), i.e. nprobe/C of the data, instead of scanning the full
    corpus. Pair with ivf_topk by loading the pruned cells as the
    candidate set.
    """
    ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(
        id_col, vec_col, "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(out_dir)


def ivf_topk_from_cells(
    cells: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF probe + exact re-rank against a PRECOMPUTED home-cell
    assignment ``cells`` (id_col, cell) — the read side of
    :func:`write_ivf_corpus`'s at-rest layout and of the streaming
    assign drain (streaming/ivf.py). Identical output contract to
    :func:`ivf_topk`, and — because the home-cell assignment is a
    deterministic argmax to the same frozen codebook — identical
    RESULTS when ``cells`` came from any chopping of the same corpus
    (multibatch equality pinned in tests). Probes are broadcast; the
    candidate join is the cell equi-join, nprobe/C of the corpus at
    rest."""
    cellsv = (
        cells.select(id_col, "cell")
        .join(corpus.select(id_col, vec_col), id_col)
        .select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("v2"), "cell"
        )
    )
    probes = ivf_assign(
        queries.select(F.col("qid").alias(id_col), F.col("qv").alias(vec_col)),
        centroids,
        id_col,
        vec_col,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("qid"), F.col(vec_col).alias("v1"), "cell")
    return rerank_probed_cells(cellsv, probes, k)


def pandas_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Arrow-vectorized variant of brute_force_topk via mapInPandas.

    The query matrix is tiny and rides into the UDF closure; each Arrow
    batch of corpus vectors becomes one numpy matmul — the pattern for
    when the scoring math outgrows SQL expressions (learned ranking,
    quantized distance). Same output contract as brute_force_topk; the
    JVM expression path remains the default (equivalence is tested).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select("qid", "qv").collect()  # few rows by contract
    q_ids = np.array([r.qid for r in q_rows])
    q_mat = np.array([r.qv for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):  # noqa: ANN001
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ q_mat.T  # (batch, n_queries)
            out = pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, len(pdf)),
                    "cid": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                    "sim_raw": sims.T.reshape(-1),
                }
            )
            yield out[out.qid != out.cid]

    pairs = corpus.select(id_col, vec_col).mapInPandas(
        score, "qid long, cid long, sim_raw double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "cid", F.round("sim_raw", 6).alias("sim"))
        .orderBy("qid", "rank")
    )


# -------------------------------------------------------------- k-means


def kmeans_fixed(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Fixed-round Lloyd k-means over an embedding column, fully
    declarative: returns (id_col, cluster) after `n_iter` centroid
    updates + one final assignment.

    Design for scale (and for the SQL oracle):

    - **Deterministic, model-free**: centroids initialize from the k
      smallest ids and run a FIXED number of rounds — no RNG, no
      convergence action, no stored model, so a DuckDB oracle replays
      the whole fit and the driver hash-checks it. (Convergence-looped
      variants exist in the iterative-graph family; bounded rounds is
      also the production choice for a preprocessing pass.)
    - **Assignment is map-only**: the k centroids are collapsed into
      ONE array<struct> row, broadcast, and each corpus row takes
      array_min over per-centroid (distance, cid) structs — O(n·k·d)
      JVM work with NO shuffle of the corpus (the window/groupBy argmin
      forms shuffle n·k rows per round; at 100 TB that dominates).
    - **Update** posexplodes assigned vectors to (cluster, pos, x) and
      averages per (cluster, pos) — map-side combined, shuffle volume
      k·d, then rebuilds the centroid arrays with a sort-by-position
      collect. Centroid components and distances round at 1e-9 so
      cross-engine/partition-order float drift cannot flip an argmin.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    base = corpus.select(F.col(id_col), F.col(vec_col).alias("_kv"))
    cent = (
        base.orderBy(id_col)
        .limit(k)
        .withColumn(
            "cid", F.row_number().over(Window.orderBy(id_col)).cast("long")
        )
        .select("cid", F.col("_kv").alias("_cv"))
    )
    # per-centroid (rounded squared distance, cid) struct; array_min's
    # lexicographic struct ordering IS argmin-with-cid-tiebreak
    best = (
        "array_min(transform(cents, c -> struct("
        "round(aggregate(zip_with(_kv, c._cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 9) AS d2, "
        "c.cid AS cid)))"
    )

    def assign(c: DataFrame) -> DataFrame:
        cents = c.agg(F.collect_list(F.struct("cid", "_cv")).alias("cents"))
        return (
            base.crossJoin(F.broadcast(cents))
            .select(id_col, "_kv", F.expr(best).alias("_best"))
            .select(id_col, "_kv", F.col("_best.cid").alias("cid"))
        )

    def lloyd(c: DataFrame, _r: int) -> DataFrame:
        return (
            assign(c)
            .select("cid", F.posexplode("_kv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
                ).alias("_cv")
            )
        )

    # r14 (VERDICT r13 #6): checkpoint the k-row centroid table per
    # Lloyd round. Without the cut, round i's broadcast build
    # re-executes every prior round's assign (map-only over the corpus
    # — no Exchange for ReuseExchange to dedup), so the job chain
    # re-scans the corpus O(n_iter^2) times; with it each round is
    # exactly one corpus pass. k x 2 narrow columns — the textbook hub.
    cent = supersteps(cent, lloyd, n_iter, barrier="hub")[0][-1]
    return assign(cent).select(id_col, F.col("cid").alias("cluster"))


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with
    :func:`kmeans_fixed`, then WITHIN each cluster drop any vector that
    has a lower-id cluster-mate with cosine similarity above
    `threshold` (deterministic earliest-id survivor — the SQL-stable
    form of SemDeDup's keep-one-per-near-dup-group rule).

    The scale point is the clustering: candidate pairs come from a
    cluster equi-join, so pair work is bounded by cluster occupancy
    (~(n/k)² per cluster), not |corpus|² — the same bucket-join
    discipline as the LSH dedup family, but driven by learned global
    structure instead of random hyperplanes.

    Sizing k at scale: the pair join shuffles on `cluster`, which has
    exactly k distinct values — k must comfortably exceed the shuffle
    parallelism AND keep per-cluster pair work bounded. Production
    SemDeDup uses k ≈ n / (desired cluster size ~1-10k docs); the k=8
    registry default is sized to the 500-vector test corpus, not a
    recommendation.

    Returns (id_col, cluster, keep) for every corpus vector.
    """
    # the (id, cluster) assignment feeds BOTH sides of the pair join
    # and the final keep join; Spark has no common-subplan reuse across
    # DataFrame references, so without materialization the entire
    # multi-round Lloyd lineage (scan + k assignments + centroid
    # updates) executes once per reference. localCheckpoint, not
    # persist(): CacheManager matches persist() by canonical plan, so
    # repeated invocations silently shared one InMemoryRelation until
    # the ContextCleaner dropped it on a GC — making wall time BIMODAL
    # (cache-hit ~1 s vs recompute ~3 s at sf0.1, flipping with driver
    # GC timing; diagnosed round 10, SCALE.md). localCheckpoint gives
    # every invocation its own materialization: deterministic cost,
    # no cross-invocation coupling.
    assign = kmeans_fixed(corpus, k, n_iter, id_col, vec_col).transform(
        checkpoint_hub
    )
    withv = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(_NORM.format(c=vec_col)).alias("_n"),
    ).join(assign, id_col)
    # probe side of the pair join carries the cosine-verify work; a
    # one-file corpus would otherwise run it in ONE task (same fix as
    # cosine_near_dup_pairs' bucketed path)
    par = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a1 = withv.repartition(par).select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        F.col("_n").alias("n1"),
        "cluster",
    )
    a2 = withv.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        F.col("_n").alias("n2"),
        F.col("cluster").alias("c2"),
    )
    sim = F.expr(_DOT12) / (F.col("n1") * F.col("n2"))
    dropped = (
        a1.join(
            a2, (F.col("cluster") == F.col("c2")) & (F.col("id1") < F.col("id2"))
        )
        .where(sim > threshold)
        .select(F.col("id2").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assign.join(dropped, id_col, "left")
        .select(id_col, "cluster", F.col("_dup").isNull().alias("keep"))
        .orderBy(id_col)
    )


def pca_top_component(
    emb: DataFrame,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Top principal component of an embedding corpus via distributed
    covariance + power iteration: ``(dim, loading, eigenvalue,
    var_ratio)``, one row per dimension.

    The 100 TB decomposition (the RowMatrix-gramian shape, public
    Spark MLlib pattern):

    - per-dim MEAN: posexplode -> groupBy(dim) avg — d rows out, map-side
      partial agg, then broadcast back as one ordered array;
    - centered GRAM matrix: each row contributes its d x d outer product
      via a flattened JVM transform -> explode -> groupBy(i, j) SUM.
      Shuffle volume is d^2 keys per partition (partial agg), never
      corpus-scale; the corpus is read ONCE;
    - POWER ITERATION on the d^2-row gram table: n_iter rounds of
      matvec (hash join on the contraction index + groupBy sum) and
      normalization (1-row norm broadcast). All DataFrames end-to-end,
      localCheckpoint per round (the k-core lineage pattern); no
      driver-side numerics, so a SQL oracle can replay the fit exactly;
    - eigenvalue = v'Gv after the last round; var_ratio = lambda /
      trace(G).

    Deterministic: init vector is all-ones (sign of the result follows
    from <v0, e1> under identical arithmetic in any replaying engine);
    exported doubles are rounded by the CALLER per the cross-engine
    rule.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    u = emb.select(id_col, F.posexplode(vec_col).alias("i", "x"))
    mean_arr = (
        u.groupBy("i")
        .agg(F.avg("x").alias("m"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm"))
        .select(F.transform("sm", lambda s: s["m"]).alias("mv"))
    )
    cent = emb.crossJoin(F.broadcast(mean_arr)).select(
        id_col, F.zip_with(vec_col, "mv", lambda a, b: a - b).alias("c")
    )
    gram = (
        cent.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(c) - 1), "
                    "i -> transform(sequence(0, size(c) - 1), "
                    "j -> struct(i AS i, j AS j, c[i] * c[j] AS p))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").alias("g"))
        .transform(checkpoint_hub)
    )
    vec = gram.select("i").distinct().select(
        F.col("i").alias("j"), F.lit(1.0).alias("val")
    )

    def power(vec: DataFrame, _r: int) -> DataFrame:
        mv = (
            gram.join(vec, "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("val")).alias("val"))
        )
        nrm = mv.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("n"))
        return mv.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            (F.col("val") / F.col("n")).alias("val"),
        )

    vec = supersteps(vec, power, n_iter)[0][-1]
    gv = (
        gram.join(vec, "j")
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("val")).alias("gval"))
    )
    lam = (
        vec.join(gv, vec["j"] == gv["i"])
        .agg(F.sum(F.col("val") * F.col("gval")).alias("lam"))
    )
    trace = gram.where(F.col("i") == F.col("j")).agg(
        F.sum("g").alias("tr")
    )
    return (
        vec.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("j").cast("int").alias("dim"),
            F.round("val", 6).alias("loading"),
            F.round("lam", 6).alias("eigenvalue"),
            F.round(F.col("lam") / F.col("tr"), 6).alias("var_ratio"),
        )
        .orderBy("dim")
    )


def knn_label_accuracy(
    corpus: DataFrame,
    queries: DataFrame,
    labels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """k-NN majority-vote label prediction for a FIXED anchor set —
    the label-quality / embedding-quality grading query of a training
    pipeline (does the embedding space cluster by label?): each anchor
    vector's label is predicted as the most frequent label among its k
    exact-cosine nearest neighbors (ties -> smaller label), then
    checked against its true label.

    Inputs: ``corpus`` (vec_id, v), ``queries`` (qid, qv) — a
    CONSTANT-size anchor set, broadcast, so the scoring pass is one
    linear corpus scan regardless of SF — and ``labels``
    (vec_id, label).

    Scale shape: brute_force_topk's broadcast scan + a qid-keyed rank
    window (|Q| keys), one broadcast label join on the k·|Q| neighbor
    rows, one vote count, one argmax window — everything after the
    scan is O(k·|Q|), driver-free.

    Columns: vec_id, true_label, pred_label, n_votes, correct.
    """
    from pyspark.sql import Window

    nn = brute_force_topk(corpus, queries, k=k)
    # broadcast the O(k·|Q|) neighbor set INTO the corpus-sized label
    # table (never the reverse): one more linear scan, no big build side
    votes = (
        labels.select(F.col("vec_id").alias("cid"), "label")
        .join(F.broadcast(nn), "cid")
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("label").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
    )
    return (
        labels.withColumnRenamed("label", "true_label")
        .join(F.broadcast(pred), "vec_id")
        .select(
            "vec_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    labels: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k nearest-by-cosine candidates whose label DIFFERS from the
    anchor's — the negatives that sit closest to the decision boundary
    and carry the most gradient signal (in-batch-negatives literature,
    e.g. DPR/SimCLR practice). Same-label neighbors are excluded
    BEFORE ranking, so rank r is "r-th hardest negative".

    Inputs: ``corpus`` (vec_id, v), ``queries`` (qid, qv) — constant
    anchor set, broadcast — ``labels`` (vec_id, label).

    Scale shape: labels attach to the corpus by the vec_id key (column
    projection, no second scan table); the anchor side carries its own
    label in the broadcast closure; one linear scan scores and
    filters, then a qid-keyed rank window over the surviving rows.

    Columns: qid, anchor_label, rank, cid, neg_label, sim.
    """
    from pyspark.sql import Window

    q = (
        queries.join(
            labels.select(
                F.col("vec_id").alias("qid"),
                F.col("label").alias("anchor_label"),
            ),
            "qid",
        )
        .select("qid", "qv", "anchor_label", F.expr(_NORM.format(c="qv")).alias("qn"))
    )
    c = corpus.join(labels, "vec_id").select(
        F.col("vec_id").alias("cid"),
        F.col("v"),
        F.col("label").alias("neg_label"),
        F.expr(_NORM.format(c="v")).alias("cn"),
    )
    sim = (F.expr(_DOT) / (F.col("qn") * F.col("cn"))).alias("sim_raw")
    pairs = c.join(
        F.broadcast(q),
        (F.col("cid") != F.col("qid"))
        & (F.col("neg_label") != F.col("anchor_label")),
    ).select("qid", "anchor_label", "cid", "neg_label", sim)
    w = Window.partitionBy("qid").orderBy(F.desc("sim_raw"), "cid")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "anchor_label",
            "rank",
            "cid",
            "neg_label",
            F.round("sim_raw", 6).alias("sim"),
        )
        .orderBy("qid", "rank")
    )


def cooccurrence_topk(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_co: int = 2,
    k: int = 30,
) -> DataFrame:
    """Item-item co-occurrence cosine similarity over basket data —
    the bipartite-projection primitive behind "customers who bought X
    also bought Y" and, in a training-data pipeline, behind grouping
    documents that co-occur in the same session/crawl.

    cosine(i, j) = n(i, j) / sqrt(n(i) * n(j)) over DISTINCT
    basket membership.

    Scale shape: the self-join is keyed on the basket id, so the pair
    stream is sum-of-squared-basket-sizes — LINEAR when basket sizes
    are bounded (TPC-H orders hold ~4 lineitems; real carts are
    bounded by policy caps). Per-item marginals are an item-dimension
    table whose cardinality grows with the data (l_partkey ∝ SF), so
    the re-attach join carries NO forced broadcast hint — AQE
    broadcasts it when small and shuffles otherwise. Nothing is
    quadratic in the item or basket count.

    Columns: item1, item2 (item1 < item2), n_co, cosine (round 6).
    """
    # r13: m feeds the marginals and both pair-join sides, marg both
    # item dimensions — checkpoint each once so the basket scan +
    # distinct runs once, not four times (guide §1.2 step 1)
    m = (
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("item")
        )
        .distinct()
        .transform(checkpoint_hub)
    )
    marg = (
        m.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(checkpoint_hub)
    )
    a = m.alias("a")
    bdf = m.alias("b")
    co = (
        a.join(bdf, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item1"), F.col("b.item").alias("item2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .where(F.col("n_co") >= min_co)
    )
    # No forced broadcast hint: the marginal table is ITEM-cardinality
    # (TPC-H l_partkey grows linearly with SF — billions of items at
    # 100 TB), and a forced hint overrides the planner's size check, so
    # it would fail at the driver instead of degrading. AQE broadcasts
    # it when it is actually small and falls back to a shuffled hash
    # join otherwise.
    out = (
        co.join(marg.withColumnRenamed("n", "n1"),
                co.item1 == F.col("item"))
        .drop("item")
        .join(marg.withColumnRenamed("n", "n2"),
              F.col("item2") == F.col("item"))
        .drop("item")
        .select(
            "item1",
            "item2",
            "n_co",
            F.round(
                F.col("n_co")
                / F.sqrt(F.col("n1").cast("double") * F.col("n2")),
                6,
            ).alias("cosine"),
        )
    )
    return out.orderBy(F.desc("cosine"), "item1", "item2").limit(k)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 2,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each d-dim vector
    into ``m`` contiguous subvectors and train an independent k-means
    codebook per subspace — the vector-compression half of the IVF-PQ
    index that makes billion-scale ANN fit in memory (m log2(k) bits
    per vector instead of 4d bytes).

    Same determinism contract as :func:`kmeans_fixed` (which this
    generalizes to per-subspace grouped Lloyd): init from the k
    smallest ids PER SUBSPACE, a FIXED number of rounds, every centroid
    component and distance rounded at 1e-9 — no RNG, no convergence
    action, no stored model, so an ANSI-SQL oracle replays the whole
    fit and the driver hash-checks it.

    Scale shape: the subvector table is m rows per vector (narrow
    explode — no shuffle); per round, assignment joins the broadcast
    (j -> centroid list) map and takes array_min per row (map-only,
    O(n·m·k·d/m) = O(n·k·d) JVM work), and the update shuffles only
    (j, cid, pos) partial sums — volume m·k·d/m = k·d, corpus-size-
    independent. Requires d % m == 0 (raises otherwise — checked
    lazily per row so the contract also holds for ragged inputs).

    Output: (j, cid, cv) — subspace index 0..m-1, centroid id 1..k,
    centroid subvector.
    """
    if m <= 0 or k <= 0:
        raise ValueError("m and k must be positive")
    from pyspark.sql import Window

    sub = (
        corpus.select(
            F.col(id_col),
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("j"),
            F.col(vec_col).alias("_fv"),
        )
        .select(
            id_col,
            "j",
            F.expr(
                f"CASE WHEN size(_fv) % {m} != 0 THEN "
                f"raise_error('pq: dim not divisible by m={m}') "
                f"ELSE slice(_fv, j * (size(_fv) DIV {m}) + 1, "
                f"size(_fv) DIV {m}) END"
            ).alias("_sv"),
        )
    )
    w = Window.partitionBy("j").orderBy(id_col)
    cent = (
        sub.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("j", F.col("rn").cast("long").alias("cid"), F.col("_sv").alias("_cv"))
    )
    best = (
        "array_min(transform(cents, c -> struct("
        "round(aggregate(zip_with(_sv, c._cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 9) AS d2, "
        "c.cid AS cid)))"
    )

    def assign(c: DataFrame) -> DataFrame:
        cents = c.groupBy("j").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(cid, _cv))), "
                "s -> struct(s.cid AS cid, s._cv AS _cv))"
            ).alias("cents")
        )
        return (
            sub.join(F.broadcast(cents), "j")
            .select(id_col, "j", "_sv", F.expr(best).alias("_best"))
            .select(id_col, "j", "_sv", F.col("_best.cid").alias("cid"))
        )

    def lloyd(c: DataFrame, _r: int) -> DataFrame:
        return (
            assign(c)
            .select("j", "cid", F.posexplode("_sv").alias("pos", "x"))
            .groupBy("j", "cid", "pos")
            .agg(F.round(F.avg("x"), 9).alias("mu"))
            .groupBy("j", "cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)"
                ).alias("_cv")
            )
        )

    # r13: m*k rows — without the per-round cut, round i's assign
    # embeds round i-1's whole plan and every CONSUMER of the returned
    # books (encode + the ADC table, i.e. two references in each pq
    # consumer) re-executes the entire unrolled training (q_pq_recall's
    # audited plan carried 44 parquet scans)
    cent = supersteps(cent, lloyd, n_iter)[0][-1]
    return cent.select("j", "cid", F.col("_cv").alias("cv"))


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """PQ-encode every vector against trained codebooks: each row of
    the output is one (vector, subspace, nearest-centroid) triple —
    the row form of the m-byte PQ code. Assignment is map-only against
    the broadcast (j -> centroid list) map, distances rounded 1e-9
    with cid as the deterministic tie-break (identical to training
    assignment, so re-encoding the training set is idempotent).
    """
    sub = corpus.select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("j"),
        F.col(vec_col).alias("_fv"),
    ).select(
        id_col,
        "j",
        F.expr(
            f"slice(_fv, j * (size(_fv) DIV {m}) + 1, size(_fv) DIV {m})"
        ).alias("_sv"),
    )
    cents = codebooks.groupBy("j").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(cid, cv))), "
            "s -> struct(s.cid AS cid, s.cv AS _cv))"
        ).alias("cents")
    )
    best = (
        "array_min(transform(cents, c -> struct("
        "round(aggregate(zip_with(_sv, c._cv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 9) AS d2, "
        "c.cid AS cid)))"
    )
    return (
        sub.join(F.broadcast(cents), "j")
        .select(id_col, "j", F.expr(best).alias("_best"))
        .select(id_col, "j", F.col("_best.cid").alias("cid"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    m: int = 2,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes: the
    query keeps its EXACT subvectors; each corpus vector is represented
    only by its m centroid ids, and the approximate squared distance is
    the sum of m table lookups d2(q_j, centroid[j, code_j]).

    ``codebooks`` (r13): pass a pre-trained pq_codebooks frame to skip
    the in-place training — lets a caller evaluating several PQ
    consumers over ONE corpus (q_pq_recall's flat + IVF-PQ pair) train
    once instead of per consumer. None keeps the self-training shape.
    ``codes`` (r13): likewise a pre-encoded pq_encode frame
    (id_col, j, cid) so the corpus encode pass is shared too; must
    have been produced with the SAME codebooks/m.

    This is the read-path shape that matters at 100 TB: after encoding,
    a query never touches corpus FLOATS — it scans the m-int code table
    (32x smaller than float32 vectors at m=8/k=256) and sums
    pre-computed per-(j, cid) distances, i.e. one broadcast of an
    m·k-row table per query batch and a map-side lookup-join keyed on
    (j, cid). The final top-k is a per-query window over the summed
    codes — TakeOrdered-sized, never corpus-sized output.

    Output: (qid, rank, cid, adc_d2) — rank 1..topk by ascending
    approximate distance (ties by cid); adc_d2 rounded 1e-6 for the
    cross-engine export (per-cell distances round at 1e-9 first,
    matching the training arithmetic).
    """
    from pyspark.sql import Window

    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            corpus, m=m, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    )
    if codes is None:
        codes = pq_encode(corpus, books, m=m, id_col=id_col, vec_col=vec_col)
    qsub = queries.select(
        F.col("qid"),
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("j"),
        F.col("qv").alias("_fv"),
    ).select(
        "qid",
        "j",
        F.expr(
            f"slice(_fv, j * (size(_fv) DIV {m}) + 1, size(_fv) DIV {m})"
        ).alias("_sv"),
    )
    # per-(query, j, cid) distance table: m*k rows per query, broadcast
    table = qsub.join(F.broadcast(books), "j").select(
        "qid",
        "j",
        "cid",
        F.round(
            F.expr(
                "aggregate(zip_with(_sv, cv, (x, y) -> (x - y) * (x - y)), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ),
            9,
        ).alias("d2"),
    )
    w = Window.partitionBy("qid").orderBy("adc_raw", "cid")
    return (
        codes.join(F.broadcast(table), ["j", "cid"])
        .where(F.col(id_col) != F.col("qid"))
        .groupBy("qid", F.col(id_col).alias("cid"))
        .agg(F.sum("d2").alias("adc_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("qid", "rank", "cid", F.round("adc_raw", 6).alias("adc_d2"))
        .orderBy("qid", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    m: int = 2,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition that IS the
    billion-scale ANN index layout (FAISS's IVFADC, Jégou et al. 2011
    §V): a coarse IVF quantizer prunes the search to ``nprobe`` of
    ``n_centroids`` cells (at rest: partition pruning — a probe reads
    nprobe/C of the data), and within the probed cells candidates are
    scored by PQ asymmetric distance over their m-int codes (in
    flight: the scan touches compressed codes, never corpus floats).

    Both codebooks are deterministic (IVF: the first n_centroids
    corpus vectors, as ivf_topk; PQ: the grouped-Lloyd fit of
    pq_codebooks), so the ENTIRE index — coarse assign, probe set,
    code assignment, ADC arithmetic — replays in ANSI SQL and
    hash-checks cross-engine.

    Scale shape: cell assignment and probing are map-only against the
    broadcast coarse codebook; the candidate set is one equi-join on
    the cell key (pre-partition the corpus by cell at rest and it is
    co-located); scoring is a broadcast (qid, j, cid)->d2 lookup join
    plus an m-row sum per candidate; the top-k is a per-query window.
    Output: (qid, rank, cid, adc_d2) — as pq_adc_topk, but scanning
    only the probed cells.
    """
    from pyspark.sql import Window

    centroids = corpus.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )
    cells = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("cand_id"), "cell"
    )
    probes = ivf_assign(
        queries.select(F.col("qid").alias(id_col), F.col("qv").alias(vec_col)),
        centroids,
        id_col,
        vec_col,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("qid"), "cell")
    # r13: same pre-trained codebooks / pre-encoded codes escape as
    # pq_adc_topk (one training + one encode shared across the flat +
    # IVF-PQ consumers)
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            corpus, m=m, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    )
    if codes is None:
        codes = pq_encode(corpus, books, m=m, id_col=id_col, vec_col=vec_col)
    qsub = queries.select(
        F.col("qid"),
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("j"),
        F.col("qv").alias("_fv"),
    ).select(
        "qid",
        "j",
        F.expr(
            f"slice(_fv, j * (size(_fv) DIV {m}) + 1, size(_fv) DIV {m})"
        ).alias("_sv"),
    )
    table = qsub.join(F.broadcast(books), "j").select(
        "qid",
        "j",
        "cid",
        F.round(
            F.expr(
                "aggregate(zip_with(_sv, cv, (x, y) -> (x - y) * (x - y)), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ),
            9,
        ).alias("d2"),
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("cand_id") != F.col("qid"))
        .select("qid", "cand_id")
    )
    w = Window.partitionBy("qid").orderBy("adc_raw", "cid")
    return (
        cand.join(codes, cand.cand_id == codes[id_col])
        .join(F.broadcast(table), ["qid", "j", "cid"])
        .groupBy("qid", F.col("cand_id").alias("cid"))
        .agg(F.sum("d2").alias("adc_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("qid", "rank", "cid", F.round("adc_raw", 6).alias("adc_d2"))
        .orderBy("qid", "rank")
    )


# 8-bit scalar quantization: 256 levels per dimension
SQ_LEVELS = 255


def sq_stats_row(corpus: DataFrame, vec_col: str = "v") -> DataFrame:
    """One-row per-dimension (min, max) calibration for scalar
    quantization: the d-row dimension aggregate collapsed into two
    dim-aligned arrays (``mns``, ``mxs``) so the downstream encode and
    ADC scans attach it as a broadcast of ONE row. The posexplode pass
    is the only corpus-sized work; the groupBy key space is d (the
    vector dimensionality), so the shuffle is d rows."""
    dims = corpus.select(F.posexplode(vec_col).alias("i", "x"))
    st = dims.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return st.agg(
        F.sort_array(F.collect_list(F.struct("i", "mn", "mx"))).alias("s")
    ).select(
        F.expr("transform(s, e -> e.mn)").alias("mns"),
        F.expr("transform(s, e -> e.mx)").alias("mxs"),
    )


_SQ_CODE_EXPR = (
    f"transform({{v}}, (x, i) -> CASE WHEN mxs[i] = mns[i] THEN 0 "
    f"ELSE CAST(least({SQ_LEVELS}.0, greatest(0.0, "
    f"floor((x - mns[i]) * {SQ_LEVELS}.0 / (mxs[i] - mns[i]) + 0.5))) AS INT) "
    "END)"
)

# reconstructed value of code c at dimension i (0-based), given the
# broadcast mns/mxs arrays -- shared by the ADC distance below
_SQ_RECON = f"(mns[i] + CAST(c AS DOUBLE) * (mxs[i] - mns[i]) / {SQ_LEVELS}.0)"


def sq_encode(
    corpus: DataFrame,
    stats_row: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Encode each vector to an array of 8-bit codes (stored as INT):
    code = floor((x - min_d) * 255 / (max_d - min_d) + 0.5), clamped to
    [0, 255]; constant dimensions encode to 0. Map-only against the
    broadcast one-row calibration -- 4x smaller than float32 at rest,
    and (like PQ) the compressed table is what the scan reads."""
    return corpus.join(F.broadcast(stats_row)).select(
        id_col, F.expr(_SQ_CODE_EXPR.format(v=vec_col)).alias("codes")
    )


def sq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Asymmetric-distance top-k over 8-bit scalar-quantized codes: the
    query keeps exact floats, each corpus vector is reconstructed
    per-dimension from its int8 code and the broadcast (min, max)
    calibration row -- the middle point of the compression-accuracy
    curve between exact floats (1x) and PQ (32x).

    Scale shape: one scan of the int8 code table (4x smaller than
    float32), the calibration row and the query set both broadcast, the
    per-candidate distance a single array fold in codegen, and the
    top-k a per-query window -- TakeOrdered-sized output. Output:
    (qid, rank, cid, sq_d2), rank ascending by reconstructed squared
    L2 (rounded 1e-9 pre-rank for cross-engine rank stability; exported
    at 1e-6), ties by cid.
    """
    from pyspark.sql import Window

    # r13: the one-row calibration aggregate is broadcast twice
    # (encode + reconstruction) — checkpoint it so the corpus-wide
    # min/max pass runs once, not twice
    stats = sq_stats_row(corpus, vec_col).transform(checkpoint_hub)
    codes = sq_encode(corpus, stats, id_col, vec_col)
    d2 = F.round(
        F.expr(
            "aggregate(transform(codes, (c, i) -> "
            f"(qv[i] - {_SQ_RECON}) * (qv[i] - {_SQ_RECON})), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ),
        9,
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    return (
        codes.join(F.broadcast(stats))
        .join(F.broadcast(queries), F.col(id_col) != F.col("qid"))
        .select(F.col("qid"), F.col(id_col).alias("cid"), d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("qid", "rank", "cid", F.round("d2", 6).alias("sq_d2"))
        .orderBy("qid", "rank")
    )


def mf_rank1(
    ratings: DataFrame,
    steps: int = 8,
    lr: float = 0.5,
    reg: float = 0.01,
) -> tuple[DataFrame, DataFrame]:
    """Rank-1 matrix factorization by full-batch gradient descent —
    the FACTORIZATION recommender beside the neighborhood method
    (copurchase cosine): learn per-customer u and per-item v
    minimizing sum over RATED pairs of (r_n - u_c v_p)^2 + L2, with
    r_n = r / max(r) (the global max rides as one broadcast row).
    Jacobi-style simultaneous updates from the previous step's
    factors keep every step a pure function of the last (the unrolled
    oracle replays each):

        u'_c = u_c + lr * (avg_p e * v_p - reg * u_c)

    (avg not sum, so the step size is degree-invariant — a
    1000-rating customer and a 3-rating one move on the same scale;
    the same mean-gradient convention as the trained quality probe).
    Each step is ONE join of the rating table with both factor
    vectors and two grouped aggregates — linear in ratings, state
    O(|custs| + |parts|), every factor localCheckpointed per step.
    The mean gradient is an exact 1e-9-grid integer sum (see inline
    comment) so the fitted factors are bit-identical across
    partitionings and engines. Returns (u, v): (cust, u) and
    (part, v), floats unrounded (the query terminal rounds).
    """
    from pyspark.sql.functions import broadcast

    r = ratings.select("cust", "part", F.col("r").cast("double"))
    rmax = r.agg(F.max("r").alias("rmax"))
    rn = (
        r.crossJoin(broadcast(rmax))
        .select("cust", "part", (F.col("r") / F.col("rmax")).alias("rn"))
        .transform(materialize)
    )
    u = rn.select("cust").distinct().select(
        "cust", F.lit(0.1).cast("double").alias("u")
    ).transform(materialize)
    v = rn.select("part").distinct().select(
        "part", F.lit(0.1).cast("double").alias("v")
    ).transform(materialize)

    def gd(vu: tuple, _r: int) -> tuple[DataFrame, DataFrame]:
        v, u = vu
        j = (
            rn.join(u, "cust")
            .join(v, "part")
            .select(
                "cust",
                "part",
                "u",
                "v",
                (F.col("rn") - F.col("u") * F.col("v")).alias("e"),
            )
        )
        # mean gradient as an EXACT integer sum on the 1e-9 grid
        # (round-boundary safety, the DoReMi r12 convention): a float
        # avg sums in partition/morsel order, so Spark and DuckDB can
        # drift by an ULP per step and compound over 8 steps; integer
        # partials make every step a single-valued function of the
        # previous factors whatever the partitioning.
        def _grad(x: str) -> F.Column:
            return F.sum(
                F.round(F.col("e") * F.col(x) * F.lit(1e9))
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double") / (F.count(F.lit(1)) * F.lit(1e9))

        un = (
            j.groupBy("cust")
            .agg(_grad("v").alias("g"), F.first("u").alias("u_old"))
            .select(
                "cust",
                (
                    F.col("u_old")
                    + F.lit(lr)
                    * (F.col("g") - F.lit(reg) * F.col("u_old"))
                ).alias("u"),
            )
            .transform(materialize)
        )
        vn = (
            j.groupBy("part")
            .agg(_grad("u").alias("g"), F.first("v").alias("v_old"))
            .select(
                "part",
                (
                    F.col("v_old")
                    + F.lit(lr)
                    * (F.col("g") - F.lit(reg) * F.col("v_old"))
                ).alias("v"),
            )
        )
        # the driver cuts vn after the step's own cut of un
        return vn, un

    v, u = supersteps((v, u), gd, steps)[0][-1]
    return u, v
