"""Graph query operators over the star schema (SURVEY.md §2.3).

These re-express the reference's Cypher pattern-match queries
(cypher_query_timing.py:53-212) as DataFrame joins. The central
convention: interactions are undirected and stored canonically
(actor1 < actor2), so every neighbor-style operator symmetrizes first
(union of both orientations) — Cypher's undirected `-[]-` match has no
direct Spark analogue and getting this wrong silently halves/doubles
counts (SURVEY.md §7.3).

Scale notes:
- symmetrize() doubles the edge list with a union of projections — a
  narrow transformation, no shuffle.
- neighbors-of-one-actor pushes the anchor predicate into the scan
  (partition/row-group pruning on a columnar edge table).
- triangles() broadcasts the time-pruned edge set: after restricting to
  one frame/hour the edge set is small even at 100 TB total data, which
  turns a 3-way shuffle self-join into two broadcast joins. The staged
  dropDuplicates between expansions mirrors the reference's
  `WITH DISTINCT` stages (cypher_query_timing.py:163-198) and is
  required to cap intermediate cardinality (X5 in SURVEY.md §4).

Shared loops: six iterative rounds are written once each, and their
callers differ only in the inputs they pass. Three fixpoint loops are
keyed: an analysis over every frame, day, source or lane at once
carries that dimension in its join and group-by keys (empty for the
global form) rather than looping over it on the driver:
- :func:`_arrival_rounds` — earliest-arrival delta rounds, used by
  temporal closeness (keyed by source) and the SI family (global, or
  keyed by beta / removal-policy lane);
- :func:`_min_label_rounds` — min-label + pointer-jump components,
  used by connected_components (global) and
  connected_components_per_frame (keyed by frame);
- :func:`_wl_rounds` — 1-WL color rounds, used by wl_refinement
  (global) and wl_day_similarity (keyed by day).
Three more take their variation as columns or a round function:
- :func:`_power_rounds` — the PageRank power method over a
  degree-annotated adjacency, used by pagerank (unit weights, uniform
  teleport), pagerank_weighted (edge weights) and
  personalized_pagerank (seed teleport);
- :func:`_l1_rounds` — L1-normalized propagation hops, used by
  eigenvector_centrality (one hop per round) and hits_bipartite (two);
- :func:`_peel_rounds` — peel to a fixpoint on counted barriers, used
  by k_core and k_core_rounds (:func:`_core_peel_round`) and k_truss
  and k_truss_rounds (:func:`_truss_peel_round`).
Each caller keeps its own set-up (symmetrize, coin filter, seeds, lane
grid) and terminal — the PageRank family shares its rank terminal —
and a loop branches on its inputs only.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import broadcast

from neo4j_dynagraph_spark.operators.hub import checkpoint_hub


def _materialize(
    df: DataFrame, spill_dir: str | None, name: str
) -> DataFrame:
    """Truncate lineage on a DATA-SIZED intermediate. spill_dir=None ->
    localCheckpoint (fast, but stores deserialized MEMORY_AND_DISK
    blocks that pin the unified memory region — fine up to ~1e8 rows
    on the 16g default heap). A spill_dir switches to write-parquet-
    read-back: bit-identical, columnar on disk, the reliable-checkpoint
    analogue a real cluster would use. This is the temporal_walks
    spill_dir contract (SCALE.md sf10 walk postmortem) extended to the
    whole iterative-graph family: at sf10 the saturated day graph's
    ~4e9-row symmetrized edge set OOMs localCheckpoint, measured —
    every operator whose materialized state is E-sized takes the knob.
    Per-round callers must pass distinct names (the read-back leaves
    an open handle on the previous round's files)."""
    if spill_dir is None:
        return df.localCheckpoint()
    import os as _os

    path = _os.path.join(spill_dir, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _counted_barrier(df: DataFrame) -> tuple[DataFrame, int]:
    """Loop barrier that reports what it materialized: ``(frame, rows)``.

    A lazy localCheckpoint materialized by counting its internal RDD —
    the one job an eager localCheckpoint runs anyway, but the row count
    comes back to the caller, so a loop can stop on an empty frontier
    without a second action. The checkpointed frame keeps the
    optimizer's static size estimate of its lineage (a self-join
    product: GiBs for a few thousand rows), which plans every later
    join on it as a shuffle; when the MEASURED size, ``rows *
    (columns + 1) * 8`` bytes, fits the session's own
    ``spark.sql.autoBroadcastJoinThreshold``, the frame comes back
    broadcast-hinted instead. Narrow loop state only (ids, counts,
    hashes): the 8-byte cell estimate assumes no payload columns."""
    ck = df.localCheckpoint(eager=False)
    rows = ck._jdf.queryExecution().toRdd().count()
    limit = (
        df.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    if rows * (len(ck.columns) + 1) * 8 <= limit:
        ck = broadcast(ck)
    return ck, rows


def _arrival_rounds(
    trans: DataFrame, state: DataFrame, keys: list[str], max_hops: int
) -> DataFrame:
    """Earliest-arrival delta rounds over a time-respecting contact
    stream, keyed by ``keys`` (empty for one global state row per
    node). ``state`` holds (*keys, v, t), t = -1 for a depart-any-time
    seed; ``trans`` holds (frame_id, src, dst) plus whichever keys it
    is replicated over (an SI lane), and every round joins on those
    keys and v = src. Returns the merged state after the rounds.

    Only arrivals that IMPROVED last round expand: an earlier arrival
    can ride every contact a later one can, so the min-merged state
    after round h is exactly the <= h-hop earliest arrival and the
    min-arrival frontier dominates every other path prefix (the
    full-state re-expansion joined ~frontier x frame-degree x H rows
    and was 2x slower at sf0.1 even vs the fixpoint form). Exactly
    ``max_hops`` join+min rounds, no data-dependent actions: per round
    one eager checkpoint of the merged state and a lazy one of the
    frontier. State is O(V * key values)."""
    on = [k for k in keys if k in trans.columns] + ["src"]
    frontier = state
    for _ in range(max_hops):
        # rename on the frontier side: the E-sized contact stream
        # reaches its shuffle unprojected
        cand = (
            frontier.withColumnRenamed("v", "src")
            .join(trans, on)
            .where(F.col("frame_id") >= F.col("t"))
            .groupBy(*keys, F.col("dst").alias("v"))
            .agg(F.min("frame_id").cast("long").alias("t"))
        )
        merged = (
            state.unionByName(cand)
            .groupBy(*keys, "v")
            .agg(F.min("t").alias("t"))
            .localCheckpoint()
        )
        prev = state.select(*keys, "v", F.col("t").alias("t_old"))
        frontier = (
            merged.join(prev, [*keys, "v"], "left")
            .where(
                F.col("t_old").isNull() | (F.col("t") < F.col("t_old"))
            )
            .select(*keys, "v", "t")
            .localCheckpoint(eager=False)
        )
        state = merged
    return state


def _min_label_rounds(
    sym: DataFrame, keys: list[str], max_iterations: int
) -> DataFrame:
    """Min-label + pointer-jump component rounds over symmetrized
    edges (*keys, src, dst), keyed by ``keys`` (empty for one global
    graph): every node starts labeled with its own id, each round
    takes the min of its own and its neighbors' labels and then jumps
    label <- label(label) (path halving), so rounds are O(log n)
    rather than O(diameter). Two shuffles per round whatever the
    number of key values. Returns (*keys, actor, label).

    Each round's labels are an eager localCheckpoint (lineage would
    otherwise double per round); the changed flag rides inside the
    round's plan (old_label is already in flight), so convergence is a
    bare scan of that checkpoint rather than a re-join of new vs old
    labels."""
    labels = (
        sym.select(*keys, F.col("src").alias("actor"))
        .distinct()
        .withColumn("label", F.col("actor"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        # rename on the edge side: the labels scan stays unprojected,
        # so AQE reuses its shuffle in the stepped join (one job fewer
        # per round than renaming the labels side)
        nbr_min = (
            sym.withColumnRenamed("dst", "actor")
            .join(labels, [*keys, "actor"])
            .groupBy(*keys, F.col("src").alias("actor"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, [*keys, "actor"], "left").select(
            *keys,
            "actor",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # labels are node ids, so the pointer jump is a self-join
        # against the round's label map
        lmap = stepped.select(
            *keys,
            F.col("actor").alias("label"),
            F.col("label").alias("l_label"),
        )
        jumped = F.coalesce(F.col("l_label"), F.col("label"))
        new_labels = (
            stepped.join(lmap, [*keys, "label"], "left")
            .select(
                *keys,
                "actor",
                jumped.alias("label"),
                (jumped != F.col("old_label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.where("chg").count()
        labels = new_labels.select(*keys, "actor", "label")
        if changed == 0:
            break
    return labels


# two co-prime 31-bit moduli: each neighbor color folds to two
# independent residues whose SUMS are the commutative multiset
# fingerprint — sum of V terms < 2^31 stays < 2^54 for V < 2^23-per-
# class x deg, far inside BIGINT in both engines
_WL_P1 = 2147483647
_WL_P2 = 1073741789


def _wl_rounds(sym: DataFrame, keys: list[str], rounds: int) -> DataFrame:
    """1-WL color rounds over symmetrized edges (*keys, src, dst),
    keyed by ``keys`` (empty for one global graph). Round 0 colors
    each node hash64('wl0:'deg); round r recolors it
    hash64('wl<r>:'color':'s1':'s2':'deg) from its own color and the
    commutative fingerprint of its neighbors' color multiset (two
    residue sums and the count, see :func:`wl_refinement`). Exactly
    ``rounds`` rounds; every round's colors pass through
    :func:`_counted_barrier` (one counted job, broadcast-hinted when
    small). Returns (*keys, actor, color)."""
    from neo4j_dynagraph_spark import functions as dfn

    colors, _ = _counted_barrier(
        sym.groupBy(*keys, F.col("src").alias("actor"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            *keys,
            "actor",
            dfn.hash64(
                F.concat(F.lit("wl0:"), F.col("deg").cast("string"))
            ).alias("color"),
        )
    )
    for r in range(1, rounds + 1):
        nb = (
            sym.join(
                colors.select(
                    *keys,
                    F.col("actor").alias("dst"),
                    F.col("color").alias("nb_color"),
                ),
                [*keys, "dst"],
            )
            .groupBy(*keys, F.col("src").alias("actor"))
            .agg(
                F.sum(F.col("nb_color") % _WL_P1).alias("s1"),
                F.sum(F.col("nb_color") % _WL_P2).alias("s2"),
                F.count(F.lit(1)).alias("deg"),
            )
        )
        colors, _ = _counted_barrier(
            nb.join(colors, [*keys, "actor"]).select(
                *keys,
                "actor",
                dfn.hash64(
                    F.concat(
                        F.lit(f"wl{r}:"),
                        F.col("color").cast("string"),
                        F.lit(":"),
                        F.col("s1").cast("string"),
                        F.lit(":"),
                        F.col("s2").cast("string"),
                        F.lit(":"),
                        F.col("deg").cast("string"),
                    )
                ).alias("color"),
            )
        )
    return colors


def _power_rounds(
    edges: DataFrame,
    weight: Column,
    teleport: Column | None,
    damping: float,
    iterations: int,
    spill_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration power method over canonical ``edges``:
    rank_{i+1}(v) = tele(v) + d * sum_{u~v} rank_i(u) * w(u,v) / W(u),
    W(u) = sum of u's weights (a unit weight gives rank * 1 / W,
    bit-equal to rank / deg). ``teleport`` is a per-node distribution
    t over ``actor``: rank_0 = t, tele = (1-d) * t; None is uniform,
    rank_0 = 1/n and the single constant tele = (1-d)/n. The
    symmetrized and degree-annotated adjacencies are materialized once
    (``spill_dir``); each round is one join + one group-by, ranks
    eagerly checkpointed. Every node is some edge's dst, so each round
    carries the whole node vector (no dangling mass; an unreached node
    sums exact 0.0 contributions). Columns: actor, rank (1e-6, desc)."""
    sym = _materialize(symmetrize(edges), spill_dir, "pr_sym")
    adj = _materialize(
        sym.join(sym.groupBy("src").agg(F.sum(weight).alias("wdeg")), "src"),
        spill_dir,
        "pr_adj",
    )
    nodes = adj.select(F.col("src").alias("actor")).distinct()
    if teleport is None:
        n = nodes.count()
        rank0, tele = F.lit(1.0 / n), F.lit((1.0 - damping) / n)
    else:
        rank0, tele = teleport, F.lit(1.0 - damping) * teleport
    ranks = nodes.select("actor", rank0.alias("rank")).localCheckpoint()
    for _ in range(iterations):
        ranks = (
            adj.join(ranks, adj.src == ranks.actor)
            .select(
                "dst", (F.col("rank") * weight / F.col("wdeg")).alias("contrib")
            )
            .groupBy(F.col("dst").alias("actor"))
            .agg(F.sum("contrib").alias("mass"))
            .select("actor", (tele + F.lit(damping) * F.col("mass")).alias("rank"))
            .localCheckpoint()
        )
    return ranks.select("actor", F.round("rank", 6).alias("rank")).orderBy(
        F.desc("rank"), "actor"
    )


def _l1_rounds(
    hops: list[tuple[DataFrame, str, Column, str]],
    scores: DataFrame,
    rounds: int,
) -> list[DataFrame]:
    """L1-normalized propagation rounds over the vector ``scores`` (key,
    value). Each round applies every hop (edges, on, by, out) in turn:
    join the vector to ``edges`` on ``on``, sum its value by ``by``,
    divide by the broadcast 1-row total, checkpoint as (by, out) — the
    next hop's input. One double division is the only nonlinearity, so
    an unrolled oracle hash-matches. Returns each hop's last vector
    (zero rounds: the input vector for every hop)."""
    last = [scores] * len(hops)
    for _ in range(rounds):
        last = []
        for edges, on, by, out in hops:
            raw = (
                edges.join(scores, on)
                .groupBy(by)
                .agg(F.sum(scores.columns[1]).alias("raw"))
            )
            total = raw.agg(F.sum("raw").alias("t"))
            scores = (
                raw.crossJoin(broadcast(total))
                .select(raw.columns[0], (F.col("raw") / F.col("t")).alias(out))
                .localCheckpoint()
            )
            last.append(scores)
    return last


def _peel_rounds(
    e: DataFrame,
    peel: Callable[[DataFrame, int], DataFrame],
    k: int,
    max_rounds: int,
    spill_dir: str | None = None,
) -> tuple[DataFrame, bool]:
    """Peel rounds toward a unique fixpoint (k-core, k-truss): ``peel(e,
    k)`` keeps a subset of ``e``, so a round that removes nothing has
    reached the fixpoint and every later round is the identity. The
    input and each round pass :func:`_counted_barrier`, whose one job
    also returns the row count; the loop stops after the first round
    that keeps every row, or after ``max_rounds``, and returns (edges,
    converged). A ``spill_dir`` writes parquet instead
    (:func:`_materialize`): no count, all rounds run, not converged."""

    def barrier(df: DataFrame, name: str) -> tuple[DataFrame, int | None]:
        if spill_dir is None:
            return _counted_barrier(df)
        return _materialize(df, spill_dir, name), None

    e, rows = barrier(e, "peel_in")
    for r in range(max_rounds):
        e, n = barrier(peel(e, k), f"peel_r{r}")
        if n is not None and n == rows:
            return e, True
        rows = n
    return e, False


def symmetrize(edges: DataFrame, a1: str = "actor1", a2: str = "actor2") -> DataFrame:
    """Canonical undirected edges -> both orientations (src, dst).

    Keeps all other columns. Equivalent of Cypher's `-[]-` undirected
    expansion (e.g. cypher_query_timing.py:119).

    The union evaluates the INPUT subtree once per branch (Spark does
    no cross-branch CSE), and a downstream consumer that references
    the result k times multiplies that again — so every iterative
    caller in this module checkpoints the symmetrized set immediately
    (measured: LPA at sf1 halved, 30.8 -> 14.3 s). For one-shot
    endpoint flattening prefer a single explode(array(..)) generator
    (see `degree`), which scans the subtree once.
    """
    rest = [c for c in edges.columns if c not in (a1, a2)]
    fwd = edges.select(F.col(a1).alias("src"), F.col(a2).alias("dst"), *rest)
    rev = edges.select(F.col(a2).alias("src"), F.col(a1).alias("dst"), *rest)
    return fwd.unionByName(rev)


def neighbors(edges: DataFrame, actor: int) -> DataFrame:
    """Distinct neighbors of one actor (QUERY7, cypher_query_timing.py:117-121).

    One column: ``actor``. The OR-anchor filter is pushed into the scan.
    """
    return (
        edges.where((F.col("actor1") == actor) | (F.col("actor2") == actor))
        .select(
            F.when(F.col("actor1") == actor, F.col("actor2"))
            .otherwise(F.col("actor1"))
            .alias("actor")
        )
        .distinct()
    )


def co_present(presence: DataFrame, actor: int) -> DataFrame:
    """Neighbors of one actor computed directly from the frame_actors
    fact — semantically identical to neighbors(edges-from-presence, a)
    but never materializes the pairwise co-presence explosion: the
    anchor's frames are a tiny broadcast semi-join probe.

    At 100 TB this is the difference between scanning the fact table
    once (this) and building the full O(sum k^2) edge set first (the
    generic path). Equivalence to the edge formulation is a tested
    invariant. One column: ``actor``.
    """
    frames_a = presence.where(F.col("actor") == actor).select("frame_id").distinct()
    return (
        presence.join(broadcast(frames_a), "frame_id", "semi")
        .where(F.col("actor") != actor)
        .select("actor")
        .distinct()
    )


def common_neighbors(edges: DataFrame, actor_a: int, actor_b: int) -> DataFrame:
    """Common neighbors of two actors (QUERY9/9b,
    cypher_query_timing.py:134-148) — semi-join form of the reference's
    COLLECT + IN formulation."""
    return neighbors(edges, actor_a).join(
        neighbors(edges, actor_b), "actor", "semi"
    )


def degree(edges: DataFrame) -> DataFrame:
    """Distinct-partner degree per actor (QUERY10,
    cypher_query_timing.py:151-155). Columns: actor, degree (desc).

    Endpoints are emitted with ONE explode generator instead of a
    union of two projections: a union makes Spark evaluate the whole
    distinct-edges subtree once per branch (no cross-branch CSE),
    doubling the upstream join work — measured 2x on the sf0.1 bench.
    """
    return (
        edges.select("actor1", "actor2")
        .distinct()
        .select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "actor")
    )


def _core_peel_round(e: DataFrame, k: int) -> DataFrame:
    """One degree-peel round on symmetrized edges ``e`` (src, dst): a
    degree aggregation, then a double broadcast semi-join keeping the
    edges whose endpoints both have degree >= k."""
    keep = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
        .select("src")
    )
    return e.join(broadcast(keep), "src", "semi").join(
        broadcast(keep.withColumnRenamed("src", "dst")), "dst", "semi"
    )


def k_core(edges: DataFrame, k: int = 2, max_iterations: int = 50) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree >= k
    within the subgraph. Iterative peeling — drop nodes below k,
    recompute degrees on the surviving edges, repeat to the (unique)
    fixpoint. Columns: actor, core_degree (its degree inside the core).

    One degree aggregation + one double semi-join filter per round
    (:func:`_core_peel_round`); rounds bounded by the longest peel
    cascade. The unique fixpoint makes the result deterministic
    regardless of peel order — which is what makes the operator
    testable without an oracle. The rounds are :func:`_peel_rounds`,
    whose counted barriers end the loop on the first round that peels
    nothing, with no action of their own.
    """
    e, _ = _peel_rounds(
        symmetrize(edges.select("actor1", "actor2").distinct()),
        _core_peel_round,
        k,
        max_iterations,
    )
    return (
        e.groupBy(F.col("src").alias("actor"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("actor")
    )


def k_core_rounds(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 2,
    spill_dir: str | None = None,
) -> DataFrame:
    """At most `rounds` degree-peel rounds toward the k-core — the
    deterministic bounded form of :func:`k_core`, the node-level twin
    of :func:`k_truss_rounds`.

    The result is that of a fixed composition of `rounds` (degree-agg
    -> keep -> double semi-join) peels, so an independent engine can
    replay it as an unrolled CTE and the surviving (actor, degree) set
    compares bit-for-bit (the unrolled-iteration oracle pattern of
    ``k_truss_rounds`` / ``_kmeans_cte``). It stops once a round
    removes nothing (same result: a peel at its fixpoint is the
    identity), seen in its barrier's own count (:func:`_peel_rounds`),
    so it runs no convergence action; with a ``spill_dir`` all
    `rounds` rounds run. The result is a superset of the k-core that
    equals it whenever the cascade converges within `rounds`; use
    :func:`k_core` when fixpoint semantics are required. Output
    columns (actor, degree) — `degree` is the node's degree in the
    r-round survivor subgraph, NOT necessarily its core degree.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e, _ = _peel_rounds(
        symmetrize(edges.select("actor1", "actor2").distinct()),
        _core_peel_round,
        k,
        rounds,
        spill_dir,
    )
    return (
        e.groupBy(F.col("src").alias("actor"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy("actor")
    )


def temporal_reachability(
    edges: DataFrame, source: int, max_iterations: int = 30
) -> DataFrame:
    """Earliest-arrival time-respecting reachability from `source`:
    actor X is reachable iff there is a path whose edge frames are
    non-decreasing (you cannot ride an interaction that happened before
    you arrived). Returns (actor, arrival_frame) — the minimum frame at
    which each reachable actor can first be reached; the source itself
    carries arrival_frame -1.

    This is THE query class that makes a graph "temporal" (reachability
    differs from the static graph's, and is asymmetric even on
    undirected edges: A-B@1, B-C@2 reaches A->C but not C->A). Iterative
    relaxation: one join + min-agg per round, O(temporal diameter)
    rounds, lineage truncated per round like connected_components.
    """
    sym = symmetrize(
        edges.select("frame_id", "actor1", "actor2").distinct()
    ).localCheckpoint()
    spark = edges.sparkSession
    arrival = spark.createDataFrame(
        [(int(source), -1)], "actor long, t long"
    ).localCheckpoint()
    for _ in range(max_iterations):
        cand = (
            sym.join(arrival, sym.src == arrival.actor)
            .where(F.col("frame_id") >= F.col("t"))
            .select(
                F.col("dst").alias("actor"),
                F.col("frame_id").alias("t"),
                F.lit(False).alias("is_old"),
            )
        )
        # the old arrival rides through the same min-aggregate tagged
        # is_old, so convergence (new min differs from the old row, or
        # the actor is new) is decided inline — no separate new-vs-old
        # join job per round
        new_arrival = (
            arrival.select("actor", "t", F.lit(True).alias("is_old"))
            .unionByName(cand)
            .groupBy("actor")
            .agg(
                F.min("t").alias("t"),
                F.min(F.when(F.col("is_old"), F.col("t"))).alias("old_t"),
            )
            .localCheckpoint()
        )
        changed = new_arrival.where(
            F.col("old_t").isNull() | (F.col("t") != F.col("old_t"))
        ).count()
        arrival = new_arrival.select("actor", "t")
        if changed == 0:
            break
    return arrival.select("actor", F.col("t").alias("arrival_frame")).orderBy("actor")


def connected_components(edges: DataFrame, max_iterations: int = 30) -> DataFrame:
    """Connected components of the undirected interaction graph by
    min-label propagation: every node starts labeled with its own id;
    each round takes the min of its own and its neighbors' labels,
    until a fixpoint (component id = smallest actor id reachable).

    This is the GraphX-analytics shape (BASELINE.json's stated
    approach) expressed as iterative DataFrame joins. Plain min-label
    propagation needs O(diameter) rounds — a 1M-hop chain would never
    finish — so each round adds a pointer-jumping step (label <-
    label's label, path halving), giving O(log n) rounds like the
    large-star/small-star algorithm. The rounds are
    :func:`_min_label_rounds` with no keys. At cluster scale use
    checkpoint() on reliable storage instead, and pre-partition `sym`
    and `labels` on the join key so rounds reuse the partitioning.
    Columns: actor, component.
    """
    sym = symmetrize(edges.select("actor1", "actor2").distinct()).localCheckpoint()
    labels = _min_label_rounds(sym, [], max_iterations)
    return labels.select("actor", F.col("label").alias("component")).orderBy("actor")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    spill_dir: str | None = None,
) -> DataFrame:
    """PageRank over the undirected interaction graph, fixed-iteration
    power method (deterministic — no convergence test, so two engines
    running the same formula agree).

    rank_0 = 1/n;  rank_{i+1}(v) = (1-d)/n + d * sum_{u~v} rank_i(u)/deg(u)

    Every node in `edges` has degree >= 1 after symmetrization, so
    there is no dangling mass. :func:`_power_rounds` with unit weights
    and the uniform teleport: one join + one groupBy shuffle per
    iteration over an adjacency materialized once (``spill_dir``),
    which at cluster scale should be pre-partitioned on src so each
    round's join is co-located. Columns: actor, rank (1e-6, desc).
    """
    return _power_rounds(
        edges.select("actor1", "actor2").distinct(),
        F.lit(1),
        None,
        damping,
        iterations,
        spill_dir,
    )


def degree_cap_subgraph(edges: DataFrame, max_degree: int) -> DataFrame:
    """Subgraph induced by vertices of degree <= ``max_degree``: an
    edge survives only when BOTH endpoints clear the cap (degree
    counted on the distinct canonical edge set, both orientations).

    This is the SEMANTIC hub guardrail for the whole triangle /
    clustering / truss enumeration family (GDS ``maxDegree`` parity,
    the node-level twin of ``_wedge_pairs``'s ``max_center_degree``):
    a hub vertex h with d_in edges arriving as actor2 and d_out
    leaving as actor1 produces d_in * d_out INTERMEDIATE rows in the
    wedge-shaped join e1=(a,h) x e2=(h,c) before the closing semi-join
    filters them — quadratic OUTPUT from linear INPUT, which AQE's
    skew split never engages on (OptimizeSkewedJoin keys on shuffle
    INPUT bytes; the planted-hub stress in SCALE.md measured the
    whole C(H,2) wedge landing in ONE task). Capping bounds every
    vertex's intermediate contribution by max_degree², making the
    enumeration Σ min(deg, cap)² — linear in |V| for fixed cap.
    Two degree-bounded aggregates + two broadcast-able semi-joins;
    no new shuffle shape.
    """
    # r13: d feeds the degree build AND the semi-join chain, keep both
    # endpoint filters, and every CONSUMER of the returned subgraph
    # (triangles + degree in the clustering rows) re-referenced the
    # whole derivation — checkpoint the window-scoped pair set and the
    # V-row keep list once (guide §1.2 step 1)
    d = edges.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    keep = (
        d.select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .where(F.col("_deg") <= max_degree)
        .select("actor")
        .transform(checkpoint_hub)
    )
    return (
        d.join(keep.withColumnRenamed("actor", "actor1"), "actor1", "semi")
        .join(keep.withColumnRenamed("actor", "actor2"), "actor2", "semi")
        .select("actor1", "actor2")
    )


def triangles(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Enumerate triangles a < b < c in an (already time-restricted)
    canonical edge set (QUERY11a/b/c, cypher_query_timing.py:158-203).

    Because edges are canonical (actor1 < actor2), each triangle is
    found exactly once by joining e1=(a,b), e2=(b,c), e3=(a,c) — no
    post-hoc distinct over permutations needed, but we dedup the edge
    set itself first (staged DISTINCT, X5).

    The edge set is broadcast: time-restriction makes it small relative
    to the full fact table, so both joins are broadcast-hash joins and
    the only shuffle is the final sort.

    ``max_degree`` is the documented hub guardrail (SEMANTIC, like
    ``_wedge_pairs``'s ``max_center_degree`` — it changes the result):
    triangles are enumerated on the subgraph induced by vertices of
    degree <= max_degree (:func:`degree_cap_subgraph`), bounding the
    quadratic d_in*d_out intermediate of the b-keyed join that AQE's
    input-bytes-keyed skew split provably never rescues.
    """
    e = edges.select("actor1", "actor2").distinct()
    if max_degree is not None:
        e = degree_cap_subgraph(e, max_degree)
    # r13: e1/e2/e3 are THREE references to the deduped edge set —
    # without a checkpoint the time-restricted presence -> pair
    # subtree (scan + self-join + distinct) executed once per
    # reference (q11_anchored's audited plan carried 24 scans / 68
    # Exchanges). The set is small by the time-restriction contract —
    # the join below broadcasts it twice already.
    e = checkpoint_hub(e)
    e1 = e.select(F.col("actor1").alias("a"), F.col("actor2").alias("b"))
    e2 = e.select(F.col("actor1").alias("b"), F.col("actor2").alias("c"))
    e3 = e.select(F.col("actor1").alias("a"), F.col("actor2").alias("c"))
    return (
        e1.join(broadcast(e2), "b")
        .join(broadcast(e3), ["a", "c"], "semi")
        .select("a", "b", "c")
        .orderBy("a", "b", "c")
    )


def intercontact_gaps(frame_edges: DataFrame) -> DataFrame:
    """Per-pair inter-contact gap statistics (frames between consecutive
    co-presences of the same canonical pair) — the SocioPatterns
    burstiness statistic over the reference's frame model.

    Input: (frame_id, actor1, actor2); duplicates per frame are deduped
    here. The lag window and the groupBy hash on the same pair key, so
    Spark plans ONE exchange shared by both (verified in plans_audit).
    Columns: actor1, actor2, n_gaps, min_gap, max_gap, sum_gap
    (exact integers), avg_gap (round 6).
    """
    from pyspark.sql import Window

    e = frame_edges.select("frame_id", "actor1", "actor2").distinct()
    w = Window.partitionBy("actor1", "actor2").orderBy("frame_id")
    gaps = e.withColumn(
        "gap", F.col("frame_id") - F.lag("frame_id").over(w)
    ).where(F.col("gap").isNotNull())
    return gaps.groupBy("actor1", "actor2").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
        F.sum("gap").alias("sum_gap"),
        F.round(F.avg("gap"), 6).alias("avg_gap"),
    )


def edge_lifetime_histogram(frame_edges: DataFrame) -> DataFrame:
    """Contact-duration histogram: lengths of maximal runs of
    consecutive frames per pair (gaps-and-islands: frame_id −
    row_number is constant within a run), then a global run-length
    histogram. Recovers the spell lengths the reference's DELTAT
    discretization encodes (load_gexf_to_neo4j.py:69-71).
    Columns: run_len, n_runs.
    """
    from pyspark.sql import Window

    e = frame_edges.select("frame_id", "actor1", "actor2").distinct()
    w = Window.partitionBy("actor1", "actor2").orderBy("frame_id")
    runs = (
        e.withColumn("grp", F.col("frame_id") - F.row_number().over(w))
        .groupBy("actor1", "actor2", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("run_len").agg(F.count(F.lit(1)).alias("n_runs"))


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman's r): Pearson correlation of
    endpoint degrees over directed edge instances (each undirected
    edge in both orientations — the standard estimator).

    Because the directed instance set is symmetric, x and y have
    identical marginals, and every moment reduces to a sum over the
    CANONICAL edges only: Σx = Σ(da+db), Σx² = Σ(da²+db²),
    Σxy = 2Σ(da·db), N = 2|E|. So the plan is one streaming pass —
    the edge set joined twice against the broadcast node-sized degree
    table, then exact BIGINT partial sums — no symmetrize union, no
    multi-branch reuse, no caching (an earlier localCheckpoint variant
    pinned the 112M-row sf1 edge set and starved execution memory in
    a 16 GB single JVM; this form runs q10-sized work instead).

    The degree build re-evaluates the distinct-edge subtree once more
    (two evaluations total); at petabyte scale materialize the edge
    set to a parquet sink first and feed that here. Moments are exact
    integers; one double formula at the end, identical in the oracle,
    so the rounded r is bit-deterministic across engines. Zero degree
    variance (regular graph) yields NULL.
    Columns: assortativity (round 6), n_directed_edges.
    """
    e = edges.select("actor1", "actor2").distinct()
    # r13: deg is broadcast to BOTH endpoint joins — without the cut
    # each broadcast re-derived e (three edge-subtree executions, not
    # the docstring's two). Node-sized (V rows of two longs), so the
    # checkpoint avoids the sf1 memory hazard that ruled out
    # checkpointing the 112M-row e itself.
    deg = degree(e).transform(checkpoint_hub)
    j = (
        e.join(
            broadcast(
                deg.select(F.col("actor").alias("actor1"), F.col("degree").alias("da"))
            ),
            "actor1",
        )
        .join(
            broadcast(
                deg.select(F.col("actor").alias("actor2"), F.col("degree").alias("db"))
            ),
            "actor2",
        )
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("da") + F.col("db")).alias("sx"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db")).alias("sxx"),
        F.sum(F.col("da") * F.col("db")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    num = F.lit(2.0) * n * (F.lit(2.0) * sxy) - sx * sx
    den = F.lit(2.0) * n * sxx - sx * sx
    return s.select(
        F.round(F.when(den != 0.0, num / den), 6).alias("assortativity"),
        (F.col("n") * F.lit(2)).cast("long").alias("n_directed_edges"),
    )


def burstiness(frame_edges: DataFrame) -> DataFrame:
    """Per-pair burstiness coefficient B = (sigma - mu) / (sigma + mu)
    of the inter-contact gap distribution (Goh & Barabasi's B statistic,
    the standard SocioPatterns temporal-heterogeneity measure): B -> 1
    for bursty trains, 0 for Poisson, -1 for periodic contact.

    Moments come from exact integer sums (n, sum gap, sum gap^2) in ONE
    aggregation after the per-pair lag window — same single shared
    exchange as intercontact_gaps; population sigma via
    sqrt(max(E[g^2] - mu^2, 0)). Pairs need >= 2 gaps (a single gap has
    sigma = 0 and pins B = -1, pure noise). The expression shape is
    replayed verbatim by the SQL oracle so the rounded double matches
    bit-for-bit.
    """
    from pyspark.sql import Window

    e = frame_edges.select("frame_id", "actor1", "actor2").distinct()
    w = Window.partitionBy("actor1", "actor2").orderBy("frame_id")
    gaps = e.withColumn(
        "gap", F.col("frame_id") - F.lag("frame_id").over(w)
    ).where(F.col("gap").isNotNull())
    agg = gaps.groupBy("actor1", "actor2").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("_s1"),
        F.sum(F.col("gap") * F.col("gap")).alias("_s2"),
    )
    mu = F.col("_s1") / F.col("n_gaps")
    sig = F.sqrt(
        F.greatest(F.col("_s2") / F.col("n_gaps") - mu * mu, F.lit(0.0))
    )
    return (
        agg.where(F.col("n_gaps") >= 2)
        .select(
            "actor1",
            "actor2",
            "n_gaps",
            F.round((sig - mu) / (sig + mu), 6).alias("burstiness"),
        )
    )


def label_propagation(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """Deterministic fixed-round synchronous label propagation over an
    undirected edge set: labels initialize to the node id; each round
    every node adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label. Returns (actor, community).

    Same design stance as kmeans_fixed: no RNG, no convergence action,
    a FIXED number of rounds — so a SQL oracle replays the entire
    propagation round-for-round and the driver hash-checks the
    community assignment itself, not a summary. (Classic async LPA is
    order-dependent and unverifiable; the synchronous min-tie-break
    form is the determinized variant.)

    Scale shape per round: one hash join labels-on-neighbors (labels
    are 2 narrow columns; the join shuffles on the node key), one
    map-side-combined count, one argmax window partitioned by node.
    State between rounds is O(nodes). Label oscillation (bipartite
    flip-flop) is inherent to synchronous LPA — run an odd/even n_iter
    pair and compare, or treat n_iter as the analysis horizon.
    """
    from pyspark.sql import Window

    if n_iter < 0:
        raise ValueError("n_iter must be non-negative")
    # checkpoint the symmetrized edge list once: every round joins it,
    # and without truncation each round's plan re-derives the whole
    # upstream distinct/symmetrize subtree (n_iter-deep nesting)
    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("actor"))
        .distinct()
        .withColumn("community", F.col("actor"))
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("n"), F.asc("community")
    )
    for _ in range(n_iter):
        nbr = sym.join(
            labels, sym["dst"] == labels["actor"], "inner"
        ).select("src", "community")
        cnt = nbr.groupBy("src", "community").agg(
            F.count(F.lit(1)).alias("n")
        )
        labels = (
            cnt.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("src").alias("actor"), "community")
        )
    return labels


def _truss_peel_round(e: DataFrame, k: int) -> DataFrame:
    """One support-peel round: enumerate triangles on the canonical
    edge set `e` (the triangles() three-way broadcast join), count
    per-edge support by exploding each triangle into its three edges
    (map-side combined), and semi-join the edges clearing k-2."""
    e1 = e.select(F.col("actor1").alias("a"), F.col("actor2").alias("b"))
    e2 = e.select(F.col("actor1").alias("b"), F.col("actor2").alias("c"))
    e3 = e.select(F.col("actor1").alias("a"), F.col("actor2").alias("c"))
    tri = e1.join(broadcast(e2), "b").join(broadcast(e3), ["a", "c"], "semi")
    sup = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("actor1"), F.col("b").alias("actor2")),
                    F.struct(F.col("a").alias("actor1"), F.col("c").alias("actor2")),
                    F.struct(F.col("b").alias("actor1"), F.col("c").alias("actor2")),
                )
            ).alias("ed")
        )
        .select("ed.actor1", "ed.actor2")
        .groupBy("actor1", "actor2")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return e.join(
        sup.where(F.col("support") >= k - 2).select("actor1", "actor2"),
        ["actor1", "actor2"],
        "semi",
    )


def k_truss_rounds(edges: DataFrame, k: int = 4, rounds: int = 2) -> DataFrame:
    """At most `rounds` support-peel rounds toward the k-truss — the
    deterministic bounded form of :func:`k_truss`.

    The result is that of a fixed composition of `rounds` peel rounds,
    so an independent engine can replay it as an unrolled CTE and the
    two results compare bit-for-bit (the same unrolled-iteration
    oracle pattern as the SemDeDup k-means fit). It stops once a round
    removes nothing (same result: a peel at its fixpoint is the
    identity), seen in its barrier's own count (:func:`_peel_rounds`),
    so it runs no convergence action. The result is a superset of the k-truss that
    equals it whenever the peel converges within `rounds` (always true
    on graphs whose cascade depth is short, e.g. after k_truss has
    been profiled once); use :func:`k_truss` when fixpoint semantics
    are required.
    """
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = edges.select("actor1", "actor2").distinct()
    if k > 2:
        e, _ = _peel_rounds(e, _truss_peel_round, k, rounds)
    return e.orderBy("actor1", "actor2")


def k_truss(edges: DataFrame, k: int = 4, max_iterations: int = 30) -> DataFrame:
    """The k-truss: the maximal subgraph whose every edge participates
    in >= k-2 triangles within the subgraph — the edge-level
    cohesion analogue of k_core (node-level), and a standard
    contact-network community core. Returns the surviving canonical
    edge set (actor1, actor2).

    Iterative support peeling (:func:`_truss_peel_round`): enumerate
    triangles on the surviving canonical edges (the same three-way
    broadcast join as :func:`triangles`), count per-edge support by
    exploding each triangle into its three edges (map-side combined),
    semi-join the edges that clear k-2, repeat to the unique fixpoint.
    The rounds are :func:`_peel_rounds`: convergence (an unchanged
    edge count == nothing peeled == fixpoint, since the support
    computation is deterministic) rides on each round's counted
    barrier, so it costs no action of its own.

    If the peel has not reached the fixpoint when ``max_iterations``
    runs out (long cascades peel one layer per round, so worst-case
    rounds grow with graph diameter), the surviving set is a SUPERSET
    of the k-truss — that is detected from the already-computed round
    counts and raised as ``RuntimeError`` rather than returned
    silently; raise ``max_iterations`` to proceed.
    """
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    e = edges.select("actor1", "actor2").distinct()
    # every edge is trivially in the 2-truss; the support semi-join
    # would wrongly drop triangle-free edges (no support row)
    if k > 2:
        e, converged = _peel_rounds(e, _truss_peel_round, k, max_iterations)
        if not converged:
            raise RuntimeError(
                f"k_truss did not converge within max_iterations={max_iterations}: "
                "the surviving edge set is a superset of the k-truss. "
                "Increase max_iterations."
            )
    return e.orderBy("actor1", "actor2")


def temporal_path_counts(
    frame_edges: DataFrame, max_gap_frames: int = 2
) -> DataFrame:
    """Time-respecting 2-hop path counts: for every ordered actor pair
    (src, dst), the number of paths src -> mid -> dst whose second
    contact happens STRICTLY after the first but within
    ``max_gap_frames`` frames — the transmission-route primitive of
    the reference's domain (who could have infected whom via one
    intermediary; the bounded-hop sibling of
    :func:`temporal_reachability`'s full fixpoint; ref:
    README.md dynamic-network motivation).

    Distributed shape: the time window is folded INTO the equi-join
    key — the first hop is replicated once per allowed gap d in
    [1, max_gap_frames] (a bounded constant) with key
    (mid, frame_id + d), the second hop keyed (mid, frame_id), so the
    plan is a pure hash equi-join on (actor, frame) with NO inequality
    residual and no hot-actor band scan: a hot mid-actor's rows still
    spread over all its frames. Edges are distinct-ed per frame first
    so parallel contact events within one frame count once; both
    orientations via one struct-explode pass (no union re-scan of the
    co-presence subtree per branch — see :func:`symmetrize`'s cost
    note).

    Columns: src, dst, n_paths, earliest_arrival (frame id of the
    soonest completing second hop).
    """
    paths = _temporal_2hop_paths(frame_edges, max_gap_frames)
    return paths.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.min("f2").alias("earliest_arrival"),
    )


def _temporal_2hop_paths(
    frame_edges: DataFrame, max_gap_frames: int
) -> DataFrame:
    """Shared time-respecting 2-hop path stream (src, mid, dst, f1,
    f2): the window-in-join-key construction documented on
    :func:`temporal_path_counts`; consumed by it and by
    :func:`broker_counts`."""
    # r13: sym feeds BOTH hop sides of the path join — checkpoint the
    # day-scoped distinct edge set once so the presence -> pair
    # derivation runs once, not twice (guide §1.2 step 1)
    e = (
        frame_edges.select("frame_id", "actor1", "actor2")
        .distinct()
        .localCheckpoint()
    )
    sym = e.select(
        "frame_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("actor1").alias("a"), F.col("actor2").alias("b")
                ),
                F.struct(
                    F.col("actor2").alias("a"), F.col("actor1").alias("b")
                ),
            )
        ).alias("s"),
    ).select("frame_id", F.col("s.a").alias("a"), F.col("s.b").alias("b"))
    hop1 = (
        sym.select(
            F.col("a").alias("src"),
            F.col("b").alias("mid"),
            F.col("frame_id").alias("f1"),
        )
        .withColumn(
            "_d",
            F.explode(
                F.array(
                    *[F.lit(i) for i in range(1, max_gap_frames + 1)]
                )
            ),
        )
        .withColumn("f2", F.col("f1") + F.col("_d"))
    )
    hop2 = sym.select(
        F.col("a").alias("mid"),
        F.col("b").alias("dst"),
        F.col("frame_id").alias("f2"),
    )
    return hop1.join(hop2, ["mid", "f2"]).where(
        F.col("src") != F.col("dst")
    )


def broker_counts(
    frame_edges: DataFrame, max_gap_frames: int = 2
) -> DataFrame:
    """Temporal brokerage centrality: for each actor, how many
    time-respecting 2-hop transmission paths pass THROUGH it as the
    intermediary, and how many distinct (src, dst) routes those paths
    realize — the bounded, exactly-countable core of betweenness on a
    temporal contact graph (who sits on the corridors; the
    reference's epidemiology framing asks exactly this of hubs).
    Same window-in-join-key plan as :func:`temporal_path_counts` —
    pure hash equi-join on (actor, frame), no inequality residual —
    with the aggregate keyed by the intermediary instead of the
    endpoint pair.

    Columns: actor (the broker), n_paths, n_routes (distinct
    src->dst pairs brokered).
    """
    paths = _temporal_2hop_paths(frame_edges, max_gap_frames)
    return paths.groupBy(F.col("mid").alias("actor")).agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.count_distinct(F.struct("src", "dst")).cast("long").alias("n_routes"),
    )


def widest_paths(
    weighted_edges: DataFrame, anchor: int, hops: int = 3
) -> DataFrame:
    """Bounded widest-path (max-bottleneck) search from one anchor:
    for every actor reachable within ``hops`` undirected hops, the
    maximum over paths of the MINIMUM edge weight along the path — the
    "how strong is the strongest corridor" question (epidemic/bandwidth
    framing of the reference's contact graph; the weighted sibling of
    :func:`temporal_path_counts`'s unweighted hop search). Input is the
    canonical per-pair aggregated graph (actor1, actor2, weight) with
    an INTEGER weight (e.g. co-present frame count), so the min/max
    algebra is exact in every engine — no float relaxation drift.

    Correctness of the pruned frontier: widths compose only through
    least(width, edge_w), which is monotone in width — so keeping just
    the per-node MAX width at each ring dominates every extension any
    discarded width could make. The frontier is therefore O(nodes)
    per round, never O(paths).

    Scale shape per round: one hash equi-join of the O(nodes) frontier
    against the symmetrized edge table on the node key, one map-side-
    combined max-aggregate. The edge table is localCheckpointed once
    (symmetrize's union re-derives its subtree per reference
    otherwise); a ``hops``-round search is ``hops`` joins, no
    fixpoint, so an unrolled SQL CTE replays it exactly.

    Columns: actor, width (bottleneck weight of the best path),
    anchor excluded.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    sym = symmetrize(weighted_edges).localCheckpoint()
    frontier = (
        sym.where(F.col("src") == anchor)
        .groupBy(F.col("dst").alias("actor"))
        .agg(F.max("weight").alias("width"))
    )
    best = frontier
    for _ in range(hops - 1):
        nxt = (
            frontier.join(sym, frontier["actor"] == sym["src"])
            .select(
                F.col("dst").alias("actor"),
                F.least(F.col("width"), F.col("weight")).alias("width"),
            )
            .groupBy("actor")
            .agg(F.max("width").alias("width"))
        )
        frontier = nxt
        best = (
            best.unionByName(nxt)
            .groupBy("actor")
            .agg(F.max("width").alias("width"))
        )
    return best.where(F.col("actor") != anchor)


def triadic_closure(e1: DataFrame, e2: DataFrame) -> DataFrame:
    """Temporal triadic closure: of the OPEN wedges in snapshot 1
    (pairs with a common neighbor but no direct edge), what fraction
    are edges in snapshot 2 — the link-prediction baseline and the
    classic tie-formation statistic of dynamic social networks
    (the process the reference's frame chain exists to expose,
    BaseTimeline.java's next-frame walk).

    Inputs are canonical (actor1 < actor2) edge snapshots. The wedge
    stream is generated per CENTER via the symmetrized self-join, kept
    as DISTINCT endpoint pairs (map-side combine collapses the
    per-center duplication before the shuffle), then one anti-join
    (open = not already an edge) and one semi-join (closed = edge in
    snapshot 2). Output is a single row — n_open_wedges, n_closed,
    closure_rate — so the terminal is O(1) at any scale.

    Dense-regime boundary: wedge volume is Σ_b deg(b)²/2. On the
    generator's SATURATED sf1 hour graph (SCALE.md's dense-graph
    boundary note) that is ~1.3e9 generated rows before the combine —
    the same Θ as one k-truss support round, and like it, linear-time
    degree/k-core analyses are the right tool past that density.
    """
    # r13: d1 feeds the symmetrized self-join (x2) and the openness
    # anti-join — checkpoint the window-scoped set once
    d1 = e1.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    # explode both orientations once (single scan), like `degree`
    sym = d1.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("actor1").alias("src"), F.col("actor2").alias("dst")
                ),
                F.struct(
                    F.col("actor2").alias("src"), F.col("actor1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    wedges = (
        s1.join(s2, F.col("s1.src") == F.col("s2.src"))
        .where(F.col("s1.dst") < F.col("s2.dst"))
        .select(
            F.col("s1.dst").alias("actor1"), F.col("s2.dst").alias("actor2")
        )
        .distinct()
    )
    open_w = wedges.join(d1, ["actor1", "actor2"], "left_anti")
    closed = open_w.join(
        e2.select("actor1", "actor2").distinct(),
        ["actor1", "actor2"],
        "left_semi",
    )
    n_open = open_w.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_open_wedges")
    )
    n_closed = closed.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_closed")
    )
    return (
        n_open.crossJoin(n_closed)
        .select(
            F.col("n_open_wedges").cast("long"),
            F.col("n_closed").cast("long"),
            F.round(
                F.col("n_closed")
                / F.greatest(F.col("n_open_wedges"), F.lit(1)).cast("double"),
                6,
            ).alias("closure_rate"),
        )
    )


def negative_edges(
    edges: DataFrame, n_seeds: int = 2, k: int = 100
) -> DataFrame:
    """Deterministic negative-edge sampling for link-prediction
    training: for every node, ``n_seeds`` pseudo-random partners drawn
    by the portable hash over the node-index space, minus any pair
    that IS an edge — the non-edge side of a (positive, negative)
    contrastive training set, reproducible bit-for-bit in any engine
    (no RNG state, no rejection loop).

    Scale shape: the node index is the TWO-PHASE rank over the actor
    dimension (operators/rank.py — no one-partition window even when
    the node table is data-sized); candidate partners come from one
    equi-join against that index on the hashed position — NO forced
    broadcast hint, since the index is O(V) and data-sized, so AQE
    broadcasts only when V is actually small; the known-edge exclusion
    is a single anti-join on the canonical pair key. Everything is
    node- or edge-linear.

    Columns: actor1, actor2 (canonical, deduped, proven non-edges),
    first k by (actor1, actor2).
    """
    from neo4j_dynagraph_spark import functions as dfn
    from neo4j_dynagraph_spark.operators.rank import two_phase_rank

    d = edges.select("actor1", "actor2").distinct()
    actors = (
        d.select(
            F.explode(F.array("actor1", "actor2")).alias("actor")
        ).distinct()
    )
    # r13: idx is the fan-out hub (both seed draws + the target side +
    # the row count) and two_phase_rank itself references its input
    # twice — without the checkpoint the edges -> actors -> rank
    # subtree executed ~6x (36 parquet scans in the audited plan).
    # V-row frame of two longs: always checkpoint-sized.
    idx = (
        two_phase_rank(
            actors,
            bucket=F.floor(F.col("actor") / 1024),
            order_cols=[F.col("actor")],
            rank_col="rank",
        )
        .select("actor", (F.col("rank") - 1).alias("idx"))
        .transform(checkpoint_hub)
    )
    # one row per actor by construction, so counting idx IS counting
    # actors — and it reads the checkpoint instead of re-deriving d
    nrow = idx.agg(F.count(F.lit(1)).alias("n_actors"))
    cands = None
    src = idx.crossJoin(F.broadcast(nrow))
    for s in range(n_seeds):
        c = src.select(
            F.col("actor").alias("a"),
            F.pmod(
                dfn.hash64(
                    F.concat(F.lit(f"neg{s}:"), F.col("actor").cast("string"))
                ),
                F.col("n_actors"),
            ).alias("j"),
        )
        cands = c if cands is None else cands.unionByName(c)
    # tgt is the FULL node index — O(V), data-cardinality-bound — so no
    # forced broadcast hint; the join is a plain equi-join on the dense
    # index j and AQE broadcasts only when V is actually small.
    tgt = idx.select(F.col("actor").alias("b"), F.col("idx").alias("j"))
    pairs = (
        cands.join(tgt, "j")
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("actor1"),
            F.greatest("a", "b").alias("actor2"),
        )
        .distinct()
    )
    return (
        pairs.join(d, ["actor1", "actor2"], "left_anti")
        .orderBy("actor1", "actor2")
        .limit(k)
    )


def _wedge_pairs(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Per-center ordered wedge stream (center, actor1 < actor2) from a
    canonical edge set — the shared generator for triadic closure,
    Adamic-Adar, and neighbor-set Jaccard.

    ``max_center_degree`` is the GDS ``upperDegreeCutoff`` SEMANTIC
    knob (it changes scores, it is not an optimizer hint): centers
    with degree above the cap contribute NO wedges. On a saturated
    contact graph the wedge count is Σ_c deg(c)², so a handful of hub
    centers dominate the 10⁹-wedge stream while contributing near-zero
    information per pair (1/ln(deg) -> 0 in Adamic-Adar; union-size
    blowup in Jaccard); capping makes the stream Σ min(deg, cap)² —
    linear in |V| for fixed cap (measured at sf1 in SCALE.md).

    Input contract (r13): ``edges`` must ALREADY be the canonical
    DISTINCT pair set — every caller passes its deduped (and usually
    checkpointed) ``d``, and the old internal ``.distinct()`` here was
    a full second shuffle of data already unique (guide §2.4).

    r14 (VERDICT r13 #4): the contract is CHECKED, not comment-only —
    under ``SPARK_GRAFT_CHECK_INVARIANTS=1`` (set by the test gate;
    never in timed paths, the check is two extra actions) a duplicated
    input raises instead of silently double-counting wedges."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_CHECK_INVARIANTS"):
        n = edges.count()
        nd = edges.select("actor1", "actor2").distinct().count()
        if n != nd:
            raise AssertionError(
                f"_wedge_pairs input contract violated: {n} edge rows but "
                f"only {nd} distinct (actor1, actor2) pairs — the caller "
                "must pass the canonical deduped pair set (see r13 "
                "contract above); a duplicated input double-counts wedges"
            )
    d = edges.select("actor1", "actor2")
    sym = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("actor1").alias("src"), F.col("actor2").alias("dst")
                ),
                F.struct(
                    F.col("actor2").alias("src"), F.col("actor1").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    if max_center_degree is not None:
        keep = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .where(F.col("_deg") <= max_center_degree)
            .select("src")
        )
        sym = sym.join(keep, "src")
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    return (
        s1.join(s2, F.col("s1.src") == F.col("s2.src"))
        .where(F.col("s1.dst") < F.col("s2.dst"))
        .select(
            F.col("s1.src").alias("center"),
            F.col("s1.dst").alias("actor1"),
            F.col("s2.dst").alias("actor2"),
        )
    )


def adamic_adar(
    edges: DataFrame, k: int = 30, max_center_degree: int | None = None
) -> DataFrame:
    """Adamic–Adar link prediction (Neo4j GDS
    `gds.alpha.linkprediction.adamicAdar` parity): for NON-edge pairs
    sharing neighbors, score = Σ_z 1/ln(deg(z)) over common neighbors
    z — rare mutual friends count more. Wedge centers always have
    degree >= 2, so ln(deg) >= ln 2 (no division hazard).

    Shape: the wedge stream joins the broadcast degree dimension on
    the CENTER key, aggregates per endpoint pair (map-side combined),
    anti-joins the known edges, and terminates in TakeOrderedAndProject.
    Columns: actor1, actor2, n_common, aa_score (round 6), top k.
    """
    # r13: d fans out into degree, the wedge stream (x2 via the
    # self-join) and the anti-join — checkpointed so the hour-scoped
    # scan+distinct subtree executes once, not 4x (guide §1.2)
    d = edges.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    deg = degree(d).select(
        F.col("actor").alias("center"), F.col("degree").alias("cdeg")
    )
    w = _wedge_pairs(d, max_center_degree=max_center_degree).join(
        F.broadcast(deg), "center"
    )
    scores = (
        w.groupBy("actor1", "actor2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("cdeg").cast("double"))), 6
            ).alias("aa_score"),
        )
        .join(d, ["actor1", "actor2"], "left_anti")
    )
    return scores.orderBy(
        F.desc("aa_score"), "actor1", "actor2"
    ).limit(k)


def neighbor_jaccard(
    edges: DataFrame,
    k: int = 30,
    min_common: int = 2,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighbor-set Jaccard similarity (Neo4j GDS `gds.nodeSimilarity`
    parity): J(a, b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for pairs sharing
    at least ``min_common`` neighbors — structural role similarity
    over the contact graph. The intersection count is the wedge-pair
    aggregate; union size = deg(a) + deg(b) − common (no second pass);
    degrees re-attach by broadcast. Includes pairs that are themselves
    edges (GDS semantics — similarity, not link prediction).
    Columns: actor1, actor2, n_common, jaccard (round 6), top k.
    """
    # r13: d feeds degree + the wedge self-join, deg feeds both
    # endpoint dimensions — checkpoint the V/E-bounded frames once
    d = edges.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    deg = degree(d).transform(checkpoint_hub)
    common = (
        _wedge_pairs(d, max_center_degree=max_center_degree)
        .groupBy("actor1", "actor2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    d1 = deg.select(F.col("actor").alias("actor1"), F.col("degree").alias("deg1"))
    d2 = deg.select(F.col("actor").alias("actor2"), F.col("degree").alias("deg2"))
    return (
        common.join(F.broadcast(d1), "actor1")
        .join(F.broadcast(d2), "actor2")
        .select(
            "actor1",
            "actor2",
            "n_common",
            F.round(
                F.col("n_common")
                / (
                    F.col("deg1") + F.col("deg2") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "actor1", "actor2")
        .limit(k)
    )


def link_scores(
    edges: DataFrame,
    k: int = 30,
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar AND neighbor-Jaccard from ONE wedge pass — the
    combined form for products that want both link-prediction scores
    (VERDICT r9 task 3: at sf1 the two separate queries each paid the
    2.6x10⁹-wedge stream; this aggregates it once, and
    ``max_center_degree`` caps the hub centers that dominate it — see
    _wedge_pairs for the semantic contract).

    One groupBy computes both aggregates (count + Σ 1/ln(deg(center)));
    degrees re-attach by broadcast. NOTE the scope difference from the
    single-score operators: adamic_adar anti-joins known edges
    (prediction) while neighbor_jaccard keeps them (similarity) — this
    combined form keeps every pair with >= min_common shared neighbors
    and exposes ``is_edge`` so callers slice either view. Top-k by
    aa_score. Columns: actor1, actor2, n_common, aa_score, jaccard,
    is_edge.
    """
    # r13: d fans out 5 ways (degree, wedge self-join x2, is_edge,
    # and deg fans into cdeg/d1/d2) — checkpoint both once; the edge
    # set is time-restricted by every caller (triangles() precedent)
    d = edges.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    deg = degree(d).transform(checkpoint_hub)
    cdeg = deg.select(
        F.col("actor").alias("center"), F.col("degree").alias("cdeg")
    )
    scores = (
        _wedge_pairs(d, max_center_degree=max_center_degree)
        .join(F.broadcast(cdeg), "center")
        .groupBy("actor1", "actor2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("cdeg").cast("double"))), 6
            ).alias("aa_score"),
        )
        .where(F.col("n_common") >= min_common)
    )
    d1 = deg.select(F.col("actor").alias("actor1"), F.col("degree").alias("deg1"))
    d2 = deg.select(F.col("actor").alias("actor2"), F.col("degree").alias("deg2"))
    e = d.withColumn("is_edge", F.lit(True))
    return (
        scores.join(F.broadcast(d1), "actor1")
        .join(F.broadcast(d2), "actor2")
        .join(e, ["actor1", "actor2"], "left")
        .select(
            "actor1",
            "actor2",
            "n_common",
            "aa_score",
            F.round(
                F.col("n_common")
                / (
                    F.col("deg1") + F.col("deg2") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
            F.coalesce(F.col("is_edge"), F.lit(False)).alias("is_edge"),
        )
        .orderBy(F.desc("aa_score"), "actor1", "actor2")
        .limit(k)
    )


def triangle_formation_spans(frame_edges: DataFrame) -> DataFrame:
    """Temporal-motif analysis of triangle FORMATION (the undirected
    form of Paranjape et al. 2017's delta-temporal triangle motifs):
    for every triangle a < b < c in an (already time-restricted) frame
    edge stream, take each pair's FIRST co-presence frame; triangles
    whose three first-frames are pairwise distinct have a well-defined
    formation order, and their formation span (last first-frame minus
    first first-frame, in frames) is the closure-delay statistic —
    how many frames a wedge stays open before the third edge arrives.

    Input: (frame_id, actor1, actor2) canonical per-frame edges.
    Output: one row per span value — (span, n_triangles), plus span
    -1 counting the degenerate triangles (two or three pairs first
    seen in the same frame: cliques born whole), so the rows partition
    the full triangle set and the terminal is O(window frames). The
    sentinel is -1 rather than NULL so exported rows stay totally
    orderable in any cross-engine comparator.

    Scale shape: the pair stream reduces to FIRST-frame-per-pair with
    one map-side-combined min aggregate (|pairs| rows, never the raw
    stream through the joins); the three-way join is QUERY11's
    canonical a<b<c shape on that reduced set, with no forced
    broadcast hint — the window-restricted pair set is small at test
    SFs (AQE broadcasts it) and the joins degrade to shuffled hash
    joins on the pair keys when a window is genuinely huge. The span
    histogram is a frames-bounded aggregate.
    """
    # r13: fp feeds all three triangle-join dimensions — checkpoint
    # the |pairs|-row first-frame table once instead of re-running the
    # windowed min-aggregate per dimension (guide §1.2 step 1)
    fp = (
        frame_edges.groupBy("actor1", "actor2")
        .agg(F.min("frame_id").alias("f"))
        .transform(checkpoint_hub)
    )
    e1 = fp.select(
        F.col("actor1").alias("a"), F.col("actor2").alias("b"),
        F.col("f").alias("fab"),
    )
    e2 = fp.select(
        F.col("actor1").alias("b"), F.col("actor2").alias("c"),
        F.col("f").alias("fbc"),
    )
    e3 = fp.select(
        F.col("actor1").alias("a"), F.col("actor2").alias("c"),
        F.col("f").alias("fac"),
    )
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.expr("array(fab, fbc, fac)").alias("fs"),
        )
        .select(
            F.when(
                F.expr("size(array_distinct(fs))") == 3,
                F.expr("array_max(fs) - array_min(fs)"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("span")
        )
    )
    return (
        tri.groupBy("span")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("span")
    )


def random_walks(
    edges: DataFrame, n_steps: int = 4, seed: str = "walk"
) -> DataFrame:
    """Deterministic random-walk corpus over an undirected edge list —
    DeepWalk-style walk generation (Perozzi et al. 2014), the
    graph-embedding training-data operator: one walk per node,
    ``n_steps`` hops, each hop choosing the neighbor at index
    hash64('{seed}:' walk_id ':' step) mod degree. No RNG state, no
    rejection loop — the walk corpus is a pure function of the graph
    and the seed string, which is what lets a SQL oracle replay every
    hop and what makes re-runs (or re-tried tasks) reproduce the
    identical corpus at 100 TB.

    Scale shape: the adjacency gets a per-source neighbor rank (a
    window PARTITIONed by src — bounded by max degree, the same bound
    the adjacency list itself already carries), and each hop is ONE
    equi-join of the frontier against (src, rank) — co-partitionable
    by src at rest, n_steps joins total, no per-walk driver loop.
    Output: (walk_id, step, node), step 0 = the seed node.
    """
    if n_steps < 1:
        raise ValueError("n_steps must be >= 1")
    from neo4j_dynagraph_spark import functions as dfn

    # Per-node SORTED neighbor arrays, checkpointed ONCE (r13
    # optimization; the LPA/PageRank checkpoint precedent still
    # applies). The old shape ranked the adjacency with a per-src
    # window and ran TWO equi-joins per hop (degree lookup + the
    # (src, rnk) == (node, idx) pick); the dst-sorted array carries
    # rank AND degree implicitly, so each hop is ONE small join plus
    # an in-row element_at — per hop: 2 joins -> 1, and the ranked-
    # window build disappears (guide §2.4). array_sort(collect_list)
    # over the distinct adjacency is exactly the old window's ORDER BY
    # dst, so the drawn corpus is bit-identical.
    adj_arr = (
        edges.select(F.col("actor1").alias("src"), F.col("actor2").alias("dst"))
        .unionByName(
            edges.select(
                F.col("actor2").alias("src"), F.col("actor1").alias("dst")
            )
        )
        .distinct()
        .groupBy("src")
        .agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint()
    )
    cur = adj_arr.select(
        F.col("src").alias("walk_id"), F.lit(0).alias("step"),
        F.col("src").alias("node"),
    )
    out = cur
    for i in range(1, n_steps + 1):
        idx = (
            F.pmod(
                dfn.hash64(
                    F.concat(
                        F.lit(f"{seed}:"),
                        F.col("walk_id").cast("string"),
                        F.lit(f":{i}"),
                    )
                ),
                F.size("nbrs").cast("long"),
            )
            + 1
        ).cast("int")
        cur = (
            cur.join(adj_arr, adj_arr.src == F.col("node"))
            .select(
                "walk_id",
                F.lit(i).alias("step"),
                F.element_at("nbrs", idx).alias("node"),
            )
            # frontier checkpoint: without it hop i re-executes hops
            # 1..i-1 inside BOTH the next hop's lineage and the final
            # union (Spark has no cross-branch CSE), making the walk
            # O(n_steps^2) joins; with it, exactly n_steps joins run
            # over an O(walks)-row frontier (LPA/PageRank precedent).
            # LAZY (eager=False): the first consumer materializes it,
            # so no extra per-hop blocking action on the driver
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(cur)
    return out


def sgns_negatives(
    edges: DataFrame,
    pairs: DataFrame,
    k: int = 2,
    n_buckets: int = 1024,
    seed: str = "neg",
) -> DataFrame:
    """Deterministic NEGATIVE sampling for skip-gram training over a
    graph (word2vec's SGNS noise distribution adapted to nodes, Mikolov
    et al. 2013): for each (center, context) pair, draw ``k`` noise
    nodes from the degree^0.75 distribution via inverse-CDF lookup on
    the portable hash — no RNG state, so the negative table is a pure
    function of the graph and seed and replays identically on retry.

    Scale shape: the noise CDF is built over the NODE table (bounded by
    |V|) with a TWO-PHASE prefix sum (order-aligned src buckets +
    broadcast offsets — no one-partition window even at billions of
    nodes); each node's [lo, hi) weight interval explodes into the
    fixed-width grid cells it overlaps, so the draw -> node lookup is
    an EQUI-join on the cell index with an exact range re-check —
    never a broadcast nested-loop range join.

    EXACTNESS: weights are FIXED-POINT longs (round(deg^0.75 * 2^20),
    floored at 1), so every prefix sum, bound, and comparison is exact
    integer arithmetic — intervals partition [0, total) with no FP
    boundary gaps/overlaps, the summation order can't perturb bounds,
    and the draw ``target = hash64(...) mod total`` always lands in
    exactly one interval (no u == 1.0 edge). The mod introduces a
    <= total/2^60 selection bias — vanishing for any real vocabulary,
    and a constant of the (graph, seed), so replays stay bit-identical.

    Output: (center, context, j, neg) — j in 1..k. Self-collisions
    (neg == center/context) are kept, as in reference SGNS samplers.
    """
    if k < 1 or n_buckets < 1:
        raise ValueError("k and n_buckets must be >= 1")
    from pyspark.sql import Window

    from neo4j_dynagraph_spark import functions as dfn

    adj0 = (
        edges.select(F.col("actor1").alias("src"), F.col("actor2").alias("dst"))
        .unionByName(
            edges.select(
                F.col("actor2").alias("src"), F.col("actor1").alias("dst")
            )
        )
        .distinct()
    )
    deg = adj0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # fixed-point weight: 20 fractional bits keeps deg^0.75 resolution
    # to ~1e-6 while total stays < 2^63 for any realistic |V| x deg
    w = F.greatest(
        F.lit(1).cast("long"),
        F.round(
            F.pow(F.col("deg").cast("double"), F.lit(0.75)) * F.lit(1 << 20)
        ).cast("long"),
    )
    # two-phase prefix sum of w over src order: per-bucket local running
    # sum + broadcast exclusive bucket offsets (pack_sequences' shape)
    d = deg.withColumn("w", w).withColumn("_b", F.floor(F.col("src") / 1024))
    wl = (
        Window.partitionBy("_b")
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("hi_local", F.sum("w").over(wl))
    bsum = d.groupBy("_b").agg(F.sum("w").alias("_bw"))
    woff = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    off = bsum.withColumn(
        "_off", F.coalesce(F.sum("_bw").over(woff), F.lit(0).cast("long"))
    ).select("_b", "_off")
    # r13: cdf is the fan-out hub (total, the grid explode, and the
    # final interval probe all read it) and its own two-phase build
    # references d twice — without the checkpoint the edges -> adj ->
    # deg subtree executed once per reference (48 parquet scans / 188
    # Exchanges in the audited plan). V rows of three longs.
    cdf = (
        d.join(F.broadcast(off), "_b")
        .select(
            "src",
            (F.col("hi_local") + F.col("_off") - F.col("w")).alias("lo"),
            (F.col("hi_local") + F.col("_off")).alias("hi"),
        )
        .localCheckpoint()
    )
    # one-row (total, cell width) broadcast; cw = ceil(total/n_buckets)
    # in INTEGER arithmetic (div), so both sides compute identical cells
    total = cdf.agg(F.max("hi").alias("total")).select(
        "total",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(total + {n_buckets - 1}) div {n_buckets}"),
        ).alias("cw"),
    )
    # explode each interval into the grid cells it overlaps — exact
    # cover: lo div cw .. (hi-1) div cw, <= w/cw + 1 cells per node
    grid = (
        cdf.join(F.broadcast(total))
        .select(
            "src",
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.expr("lo div cw"), F.expr("(hi - 1) div cw")
                )
            ).alias("b"),
        )
    )
    draws = pairs.select("center", "context").withColumn(
        "j", F.explode(F.expr(f"sequence(1, {k})"))
    )
    target = F.pmod(
        dfn.hash64(
            F.concat(
                F.lit(f"{seed}:"),
                F.col("center").cast("string"),
                F.lit(":"),
                F.col("context").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        ),
        F.col("total"),
    )
    draws = (
        draws.join(F.broadcast(total))
        .withColumn("target", target)
        .withColumn("b", F.expr("target div cw"))
        .drop("total", "cw")
    )
    return (
        draws.join(grid, "b")
        .where((F.col("lo") <= F.col("target")) & (F.col("target") < F.col("hi")))
        .select("center", "context", "j", F.col("src").alias("neg"))
    )


def node2vec_walks(
    edges: DataFrame,
    n_steps: int = 3,
    w_back: int = 1,
    w_same: int = 4,
    w_fwd: int = 16,
    seed: str = "n2v",
) -> DataFrame:
    """Deterministic node2vec walks (Grover & Leskovec 2016): the
    SECOND-ORDER biased walk that completes the embedding-walk family
    beside uniform DeepWalk (:func:`random_walks`) and time-respecting
    CTDNE (:func:`temporal_walks`). Hop i from ``cur`` (having arrived
    from ``prev``) weights each neighbor d of cur by its distance to
    prev — return (d == prev, weight 1/p), stay (d adjacent to prev,
    weight 1), explore (else, weight 1/q) — so the walk interpolates
    between BFS-like (structural roles) and DFS-like (communities)
    neighborhoods, which is the entire point of node2vec over DeepWalk.

    EXACT INTEGER weights instead of float 1/p, 1, 1/q: callers pass
    the weight TRIPLE directly (defaults (1, 4, 16) == p=4, q=1/4 —
    the exploratory preset), every per-neighborhood prefix sum is a
    long, and the draw is hash64('{seed}:' walk ':' i) mod total — the
    same no-FP-boundary, no-RNG-state contract as sgns_negatives, so
    re-runs and the SQL oracle replay every hop bit-for-bit.

    Scale shape: hop 1 is uniform (no prev yet — the standard
    node2vec start), each later hop is ONE equi-join of the frontier
    on cur's adjacency plus ONE edge-existence left join on the
    canonical (prev, d) pair, then a per-WALK window (bounded by
    cur's degree) for the integer prefix-sum CDF. Frontiers are
    lazily checkpointed per hop (linear in hops, not quadratic — the
    random_walks precedent). Walks all have n_steps hops (connected
    neighborhoods always offer a candidate: prev itself).
    Output: (walk_id, step, node), step 0 = the seed node.
    """
    if n_steps < 1:
        raise ValueError("n_steps must be >= 1")
    if w_back < 1 or min(w_same, w_fwd) < 0:
        # w_back >= 1 backs the docstring guarantee that walks always
        # complete n_steps hops: at a degree-1 node the only candidate
        # is prev, and a zero return-weight would make the CDF total 0
        # and silently truncate the walk (pmod by 0 is null).
        raise ValueError(
            "w_back must be >= 1 (walks must always be able to return) "
            "and w_same/w_fwd non-negative"
        )
    from pyspark.sql import Window

    from neo4j_dynagraph_spark import functions as dfn

    d0 = edges.select("actor1", "actor2").distinct()
    adj = (
        d0.select(F.col("actor1").alias("src"), F.col("actor2").alias("dst"))
        .unionByName(
            d0.select(F.col("actor2").alias("src"), F.col("actor1").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
        .select(F.col("src").alias("asrc"), "dst")
    )
    # canonical orientation (least, greatest) so the distance-1 probe
    # below — which joins on least(prev, dst) = e1 AND
    # greatest(prev, dst) = e2 — matches edges however the caller
    # oriented them; without this an edge supplied only as (b, a) with
    # b > a would silently score as 'explore' instead of 'stay'
    canon = (
        d0.select(
            F.least("actor1", "actor2").alias("e1"),
            F.greatest("actor1", "actor2").alias("e2"),
        )
        .distinct()
        .localCheckpoint()
        .withColumn("_adj", F.lit(True))
    )
    deg = adj.groupBy("asrc").agg(F.count(F.lit(1)).alias("deg"))
    rnk = adj.withColumn(
        "rnk", F.row_number().over(Window.partitionBy("asrc").orderBy("dst"))
    )
    # hop 1: uniform over the seed's neighbors (hash mod degree)
    seeds = deg.select(F.col("asrc").alias("walk_id"))
    idx1 = (
        F.pmod(
            dfn.hash64(
                F.concat(
                    F.lit(f"{seed}:"), F.col("walk_id").cast("string"),
                    F.lit(":1"),
                )
            ),
            F.col("deg"),
        )
        + 1
    )
    cur = (
        seeds.join(deg, F.col("asrc") == F.col("walk_id"))
        .withColumn("_i", idx1)
        .join(
            rnk.select(
                F.col("asrc").alias("rsrc"), F.col("dst"), F.col("rnk")
            ),
            (F.col("rsrc") == F.col("walk_id")) & (F.col("rnk") == F.col("_i")),
        )
        .select(
            "walk_id",
            F.col("walk_id").alias("prev"),
            F.col("dst").alias("node"),
        )
        .localCheckpoint(eager=False)
    )
    out = seeds.select(
        "walk_id", F.lit(0).alias("step"), F.col("walk_id").alias("node")
    ).unionByName(
        cur.select("walk_id", F.lit(1).alias("step"), "node")
    )
    w = Window.partitionBy("walk_id").orderBy("dst")
    wtot = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    for i in range(2, n_steps + 1):
        cand = (
            cur.join(adj, F.col("asrc") == F.col("node"))
            .join(
                canon,
                (F.least("prev", "dst") == F.col("e1"))
                & (F.greatest("prev", "dst") == F.col("e2")),
                "left",
            )
            .withColumn(
                "wgt",
                F.when(F.col("dst") == F.col("prev"), F.lit(w_back))
                .when(F.col("_adj"), F.lit(w_same))
                .otherwise(F.lit(w_fwd))
                .cast("long"),
            )
            .withColumn("cum", F.sum("wgt").over(w))
            .withColumn("total", F.sum("wgt").over(wtot))
        )
        draw = F.pmod(
            dfn.hash64(
                F.concat(
                    F.lit(f"{seed}:"), F.col("walk_id").cast("string"),
                    F.lit(f":{i}"),
                )
            ),
            F.col("total"),
        )
        cur = (
            cand.withColumn("_d", draw)
            .where(
                (F.col("cum") - F.col("wgt") <= F.col("_d"))
                & (F.col("_d") < F.col("cum"))
            )
            .select(
                "walk_id",
                F.col("node").alias("prev"),
                F.col("dst").alias("node"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            cur.select("walk_id", F.lit(i).alias("step"), "node")
        )
    return out


def temporal_walks(
    frame_edges: DataFrame,
    n_steps: int = 3,
    seed: str = "twalk",
    max_gap: int | None = None,
    spill_dir: str | None = None,
) -> DataFrame:
    """Deterministic TIME-RESPECTING random walks (CTDNE, Nguyen et al.
    2018): each hop may only traverse an edge in a STRICTLY LATER frame
    than the one that brought the walk here — so every walk is a
    plausible transmission/influence path, which is what makes
    temporal-graph embeddings causally meaningful where static DeepWalk
    walks are not. One walk per node (start time -inf), hop i choosing
    candidate hash64('{seed}:' walk_id ':' i) mod n among the node's
    later-frame edges ordered by (frame, dst); walks with no later edge
    terminate early (variable length, like real temporal paths).

    Scale shape: each hop is one equi-join of the frontier on src with
    the frame bound as a residual, then a per-WALK window (bounded by
    the node's temporal degree) for the rank + count — n_steps joins,
    no per-walk loop, no RNG state, every hop oracle-replayable.
    Output: (walk_id, step, node, t) — t is the arrival frame, -1 for
    the seed row.

    ``max_gap`` is the bounded-temporal-neighborhood contract (the
    standard CTDNE practice, and the SEMANTIC guardrail this family's
    sf10 stress motivated — SCALE.md round 11): each hop may only
    use frames in (t, t + max_gap], and seeds start at (node's first
    active frame - 1) so the bound applies uniformly from hop 1.
    Without it a seed's candidate set is its ENTIRE remaining temporal
    adjacency — on a saturated co-presence graph that is frames x
    near-clique partners PER WALK (the sf10 run spilled > 78 GiB and
    died on disk); with it, candidates per hop are bounded by the
    node's activity inside max_gap frames. None preserves the original
    unbounded semantics exactly.

    ``spill_dir`` switches the temporal-adjacency materialization from
    ``localCheckpoint`` (deserialized MEMORY_AND_DISK blocks — at sf3+
    the day adjacency's hundreds of millions of rows pin the unified
    region and starve execution memory) to write-parquet-and-read-back
    — the cluster-correct reliable-checkpoint analogue, O(columnar
    disk) instead of O(deserialized heap), and lineage-free for the
    n_steps self-referencing hops. Purely physical: the result is
    bit-identical either way (test-pinned).
    """
    if n_steps < 1:
        raise ValueError("n_steps must be >= 1")
    from neo4j_dynagraph_spark import functions as dfn

    # Per-node SORTED temporal adjacency arrays (r13 optimization):
    # the hop used to explode every walk's full candidate set —
    # frontier x later-frame edges — through an Exchange plus a
    # per-walk sort window just to pick ONE ranked row. The candidate
    # rank/count live inside the node's (frame_id, dst)-sorted array
    # instead: each hop is a V-row equi-join on the node plus an O(deg)
    # in-row array filter (JVM codegen, no shuffle of candidates, no
    # sort) — guide §2.4 'remove shuffles outright'. Semantics are
    # byte-identical: array_sort on struct(frame_id, dst) is exactly
    # the old window's ORDER BY frame_id, dst; filter preserves order;
    # element_at(flt, pmod(hash, size)+1) is the same rk == idx draw.
    # Skew note: a hub's whole candidate array sits in one row, but the
    # old per-walk window funneled the identical rows into one task —
    # same bound, fewer moves.
    adj = (
        frame_edges.select(
            "frame_id", F.col("actor1").alias("src"), F.col("actor2").alias("dst")
        )
        .unionByName(
            frame_edges.select(
                "frame_id",
                F.col("actor2").alias("src"),
                F.col("actor1").alias("dst"),
            )
        )
        .distinct()
    )
    adj_arr = adj.groupBy("src").agg(
        F.array_sort(F.collect_list(F.struct("frame_id", "dst"))).alias("nbrs")
    )
    adj_arr = _materialize(adj_arr, spill_dir, "twalk_adj")
    if max_gap is None:
        cur = adj_arr.select(
            F.col("src").alias("walk_id"),
            F.lit(0).alias("step"),
            F.col("src").alias("node"),
            F.lit(-1).cast("long").alias("t"),
        )
    else:
        if max_gap < 1:
            raise ValueError("max_gap must be >= 1")
        # nbrs is sorted by frame_id: the node's first active frame is
        # element 1 — the old separate min(frame_id) aggregate, free
        cur = adj_arr.select(
            F.col("src").alias("walk_id"),
            F.lit(0).alias("step"),
            F.col("src").alias("node"),
            (F.element_at("nbrs", 1).getField("frame_id") - 1)
            .cast("long")
            .alias("t"),
        )
    out = cur
    for i in range(1, n_steps + 1):
        if max_gap is None:
            flt = F.filter(
                F.col("nbrs"), lambda x: x.getField("frame_id") > F.col("t")
            )
        else:
            flt = F.filter(
                F.col("nbrs"),
                lambda x: (x.getField("frame_id") > F.col("t"))
                & (x.getField("frame_id") <= F.col("t") + F.lit(max_gap)),
            )
        idx = (
            F.pmod(
                dfn.hash64(
                    F.concat(
                        F.lit(f"{seed}:"),
                        F.col("walk_id").cast("string"),
                        F.lit(f":{i}"),
                    )
                ),
                F.size("flt").cast("long"),
            )
            + 1
        ).cast("int")
        cur = (
            cur.join(adj_arr, adj_arr.src == cur.node)
            .withColumn("flt", flt)
            .where(F.size("flt") >= 1)
            .withColumn("pick", F.element_at("flt", idx))
            .select(
                "walk_id",
                F.lit(i).alias("step"),
                F.col("pick").getField("dst").alias("node"),
                F.col("pick").getField("frame_id").alias("t"),
            )
            .localCheckpoint(eager=False)  # frontier checkpoint — see random_walks
        )
        out = out.unionByName(cur)
    return out


def connected_components_per_frame(
    frame_edges: DataFrame, max_iterations: int = 30
) -> DataFrame:
    """Connected components of EVERY frame's snapshot graph at once:
    min-label propagation keyed by (frame_id, actor) instead of actor,
    so one distributed iteration advances all frames simultaneously —
    the per-frame twin of :func:`connected_components` and the input
    to :func:`component_lifecycle` (the dynamic-graph evolution
    analysis the reference's frame-indexed timeline exists to serve,
    BaseTimeline.java's per-frame subgraph walk).

    NOT a driver loop over frames: a for-frame-in-frames loop would
    serialize 24 (or at 100 TB, millions of) tiny jobs and bottleneck
    on the driver. Here frame_id is the key of
    :func:`_min_label_rounds`, so every round is two shuffles TOTAL
    regardless of frame count, and rounds are bounded by the largest
    single-frame component's diameter (pointer jumping halves paths
    per round, so O(log n)). Columns: frame_id, actor, component.
    """
    e = frame_edges.select("frame_id", "actor1", "actor2").distinct()
    sym = e.select(
        "frame_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("actor1").alias("src"), F.col("actor2").alias("dst")
                ),
                F.struct(
                    F.col("actor2").alias("src"), F.col("actor1").alias("dst")
                ),
            )
        ).alias("p"),
    ).select("frame_id", "p.src", "p.dst").localCheckpoint()
    labels = _min_label_rounds(sym, ["frame_id"], max_iterations)
    return labels.select("frame_id", "actor", F.col("label").alias("component"))


def component_lifecycle(frame_labels: DataFrame) -> DataFrame:
    """Group-evolution classification over per-frame components (the
    Palla/Barabasi community-lifecycle taxonomy, the canonical
    dynamic-network analysis on SocioPatterns data): for each
    (frame_id, component), count the DISTINCT predecessor components
    (frame_id - 1) and successor components (frame_id + 1) that share
    at least one member, then classify

        event (vs predecessors): birth (0) / continue (1) / merge (>=2)
        fate  (vs successors):   dissolve (0) / persist (1) / split (>=2)

    Input is :func:`connected_components_per_frame` output. Members
    are edge-endpoint actors only (singleton actors are not
    components, matching q_connected_components). Three aggregations,
    each an equi-join on (frame +- 1, actor) — no window over the
    whole timeline, so the shape is shuffle-on-(frame, actor) and
    scales with member-rows, not frames x components.
    Columns: frame_id, component, n_members, n_pred, n_succ, event, fate.
    """
    c = frame_labels.select("frame_id", "actor", "component")
    prev = c.select(
        (F.col("frame_id") + 1).alias("frame_id"),
        "actor",
        F.col("component").alias("pred_component"),
    )
    nxt = c.select(
        (F.col("frame_id") - 1).alias("frame_id"),
        "actor",
        F.col("component").alias("succ_component"),
    )
    pred = (
        c.join(prev, ["frame_id", "actor"], "left")
        .groupBy("frame_id", "component")
        .agg(F.countDistinct("pred_component").alias("n_pred"))
    )
    succ = (
        c.join(nxt, ["frame_id", "actor"], "left")
        .groupBy("frame_id", "component")
        .agg(F.countDistinct("succ_component").alias("n_succ"))
    )
    sizes = c.groupBy("frame_id", "component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        sizes.join(pred, ["frame_id", "component"])
        .join(succ, ["frame_id", "component"])
        .select(
            "frame_id",
            "component",
            "n_members",
            "n_pred",
            "n_succ",
            F.when(F.col("n_pred") == 0, F.lit("birth"))
            .when(F.col("n_pred") >= 2, F.lit("merge"))
            .otherwise(F.lit("continue"))
            .alias("event"),
            F.when(F.col("n_succ") == 0, F.lit("dissolve"))
            .when(F.col("n_succ") >= 2, F.lit("split"))
            .otherwise(F.lit("persist"))
            .alias("fate"),
        )
        .orderBy("frame_id", "component")
    )


def temporal_motifs(
    frame_edges: DataFrame,
    delta: int,
    max_degree: int | None = None,
    structure_edges: DataFrame | None = None,
) -> DataFrame:
    """Delta-windowed temporal triangle census (the Paranjape/Benson/
    Leskovec delta-temporal-motif family restricted to the triangle
    motif): count triples of frame-edges covering the three pairs of a
    triangle {a<b<c} whose frame span (max - min) is <= ``delta``
    frames, grouped by span — the contact-sequence statistic that
    distinguishes a bursty triad closing within one hour from a triad
    smeared over a day.

    Structure first, time second: the static triangle set (via
    :func:`triangles`, inheriting its canonical-orientation dedup and
    the ``max_degree`` hub guardrail) is broadcast against the
    per-pair frame lists with three equi-joins; the span predicate
    filters combinations. Per-triangle cost is the product of the
    three pairs' frame multiplicities — bounded by the time
    restriction of the input (and by ``delta`` itself), and the
    output is an O(delta)-row census, never an enumeration.

    ``structure_edges`` decouples WHICH triads are counted from WHEN:
    when given, triangle structure comes from it (e.g. one anchor
    hour's graph, the reference QUERY11 shape — whose density is
    bounded by the hour restriction at any corpus scale) while spans
    are still measured over ``frame_edges``' full frame lists. Without
    it, structure derives from ``frame_edges`` itself, where a
    day-wide graph needs the ``max_degree`` guardrail at density.
    Columns: span, n_motifs.
    """
    # r13: ab/bc/ac below are THREE references to this frame-edge
    # stream (plus a fourth for structure when structure_edges is
    # None) — without the checkpoint the presence -> pair-expansion
    # subtree executed once per reference (guide §1.2)
    e = (
        frame_edges.select("frame_id", "actor1", "actor2")
        .distinct()
        .localCheckpoint()
    )
    struct_src = structure_edges if structure_edges is not None else e
    tri = triangles(
        struct_src.select("actor1", "actor2"), max_degree=max_degree
    )
    ab = e.select(
        F.col("actor1").alias("a"),
        F.col("actor2").alias("b"),
        F.col("frame_id").alias("f_ab"),
    )
    bc = e.select(
        F.col("actor1").alias("b"),
        F.col("actor2").alias("c"),
        F.col("frame_id").alias("f_bc"),
    )
    ac = e.select(
        F.col("actor1").alias("a"),
        F.col("actor2").alias("c"),
        F.col("frame_id").alias("f_ac"),
    )
    span = F.greatest("f_ab", "f_bc", "f_ac") - F.least("f_ab", "f_bc", "f_ac")
    return (
        broadcast(tri)
        .join(ab, ["a", "b"])
        .join(bc, ["b", "c"])
        .join(ac, ["a", "c"])
        .where(span <= delta)
        .select(span.alias("span"))
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_motifs"))
        .orderBy("span")
    )


def burst_windows(
    presence: DataFrame,
    window: int = 24,
    min_obs: int = 12,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Per-actor activity-burst detection: flag frames whose event
    count is >= ``z_thresh`` population standard deviations above the
    actor's trailing ``window``-frame mean (the rate-anomaly twin of
    the Goh-Barabasi :func:`burstiness` coefficient — B characterizes
    a pair's whole gap distribution; this localizes WHEN an actor's
    activity spikes).

    The trailing window is RANGE BETWEEN window PRECEDING AND 1
    PRECEDING on frame_id — a gap frame (actor inactive) simply isn't
    an observation, so baselines need >= ``min_obs`` observed frames
    (sparse actors produce no verdict rather than a noisy one).
    Moments come from exact integer sums (n, sum, sum of squares) in
    ONE window pass; all arithmetic after the window is on exact
    integers, so the rounded z-score is bit-reproducible cross-engine.
    One shuffle (partition by actor). Columns: frame_id, actor,
    n_events, n_obs, z, rounded to 6.
    """
    from pyspark.sql import Window

    p = presence.select("frame_id", "actor", "n_events")
    w = (
        Window.partitionBy("actor")
        .orderBy("frame_id")
        .rangeBetween(-window, -1)
    )
    stats = p.select(
        "frame_id",
        "actor",
        "n_events",
        F.count(F.lit(1)).over(w).alias("n_obs"),
        F.sum("n_events").over(w).alias("_s1"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("_s2"),
    )
    mu = F.col("_s1") / F.col("n_obs")
    sig = F.sqrt(
        F.greatest(F.col("_s2") / F.col("n_obs") - mu * mu, F.lit(0.0))
    )
    z = (F.col("n_events") - mu) / sig
    return (
        stats.where(F.col("n_obs") >= min_obs)
        .where(sig > 0)
        .withColumn("z", F.round(z, 6))
        .where(F.col("z") >= z_thresh)
        .select("frame_id", "actor", "n_events", "n_obs", "z")
        .orderBy("frame_id", "actor")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a seed set —
    the GDS pageRank `sourceNodes` variant, the standard seed-centric
    relevance measure): teleport mass goes to the seeds instead of
    uniformly, so ranks measure proximity to the seed set.

        rank_0(v)    = tele(v) = 1/|S| if v in S else 0
        rank_{i+1}(v)= (1-d) * tele(v) + d * sum_{u~v} rank_i(u)/deg(u)

    Fixed-iteration deterministic power method like :func:`pagerank`
    (:func:`_power_rounds` with unit weights and the seed teleport:
    the same checkpointed degree-annotated adjacency, one join + one
    groupBy per round). Every round carries the full node vector, so
    unreached nodes hold an exact 0.0 — both engines sum the identical
    zero contributions and the rounded vector hash-matches. Columns:
    actor, rank (rounded 1e-6, desc).
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    tele = F.when(F.col("actor").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(
        F.lit(0.0)
    )
    return _power_rounds(
        edges.select("actor1", "actor2").distinct(),
        F.lit(1),
        tele,
        damping,
        iterations,
    )


def eigenvector_centrality(
    edges: DataFrame, iterations: int = 10
) -> DataFrame:
    """Eigenvector centrality by sum-normalized power iteration (the
    GDS eigenvector algorithm; on an undirected graph this is also
    HITS' hub == authority score): start uniform, each round every
    node takes the SUM of its neighbors' scores, then the vector is
    normalized to total mass 1 (L1 — a plain double division, chosen
    over the conventional L2 so the only nonlinearity cross-engine is
    one divide, not a sqrt of a sum of squares).

    Fixed-iteration and deterministic like :func:`pagerank`: the
    rounds are :func:`_l1_rounds` with one hop over the checkpointed
    symmetrized adjacency (one join + one groupBy + one scalar
    cross-join per round). Columns: actor, score (rounded 1e-6, desc).
    """
    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    n = sym.select("src").distinct().count()
    scores = (
        sym.select(F.col("src").alias("actor"))
        .distinct()
        .withColumn("score", F.lit(1.0 / n))
        .localCheckpoint()
    )
    (scores,) = _l1_rounds(
        [
            (
                sym.withColumnRenamed("dst", "actor"),
                "actor",
                F.col("src").alias("actor"),
                "score",
            )
        ],
        scores,
        iterations,
    )
    return scores.select(
        "actor", F.round("score", 6).alias("score")
    ).orderBy(F.desc("score"), "actor")


def bounded_distances(edges: DataFrame, max_dist: int) -> DataFrame:
    """All-pairs minimum hop distances within ``max_dist`` hops, as
    (s, v, d) rows including the d=0 self rows — the shared multi-
    source-BFS core of the distance-centrality family (harmonic /
    closeness / distance distribution).

    ALL sources advance per distributed round (the
    :func:`connected_components_per_frame` pattern): each round joins
    the current frontier (rows at d == i) against the symmetrized
    adjacency, unions into the reach set, and reduces by min(d); the
    reach set is eagerly checkpointed per round so round i never
    re-executes rounds 1..i-1 (walk-frontier precedent). Distances
    are exact integers — no floats anywhere in the state.

    Cost contract: O(sum over s of |ball(s, max_dist)|) = O(V^2) on a
    dense graph; callers bound the graph (pinned-hour scope,
    :func:`degree_cap_subgraph`, or a sampled source set) rather than
    this helper hiding the cost.
    """
    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    reach = (
        sym.select(F.col("src").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("v"), F.lit(0).alias("d"))
        .localCheckpoint()
    )
    for i in range(max_dist):
        frontier = reach.where(F.col("d") == i)
        expanded = (
            frontier.join(sym, frontier.v == sym.src)
            .select("s", F.col("dst").alias("v"), F.lit(i + 1).alias("d"))
        )
        reach = (
            reach.unionByName(expanded)
            .groupBy("s", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return reach


def harmonic_centrality(
    edges: DataFrame, max_dist: int = 4
) -> DataFrame:
    """Radius-bounded harmonic centrality: sum of 1/d(s, v) over nodes
    v within ``max_dist`` hops of s (the GDS closeness/harmonic family
    — harmonic handles disconnected graphs without convention fights,
    and the radius bound makes the cost contract explicit instead of
    hiding a full APSP).

    Multi-source BFS as iterative DataFrame joins keyed by (source,
    node) — ALL sources advance per distributed round like
    :func:`connected_components_per_frame`'s frames; distances are
    exact integers (min over union per round), so the only doubles are
    the terminal 1/d sums on the 1e-6 rounding grid.

    Cost contract: the reach state is O(sum over s of |ball(s,
    max_dist)|) = O(V^2) on a dense graph — on SocioPatterns-shaped
    hour graphs the ball saturates by d=2, so this is the V^2 the
    statistic inherently costs; at 100 TB scale run it on the
    degree-capped subgraph (:func:`degree_cap_subgraph`) or a sampled
    source set, both semantic knobs. Columns: actor, n_reached,
    harmonic (rounded 1e-6, desc).
    """
    reach = bounded_distances(edges, max_dist)
    return (
        reach.where(F.col("d") > 0)
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(F.sum(F.lit(1.0) / F.col("d")), 6).alias("harmonic"),
        )
        .select(F.col("s").alias("actor"), "n_reached", "harmonic")
        .orderBy(F.desc("harmonic"), "actor")
    )


def closeness_centrality(edges: DataFrame, max_dist: int = 4) -> DataFrame:
    """Radius-bounded closeness centrality (GDS closeness parity,
    including the Wasserman-Faust component correction): for each
    source s, ``closeness = n_reached / sum(d)`` over the nodes within
    ``max_dist`` hops, and ``wf_closeness = closeness * n_reached /
    (N - 1)`` which down-weights sources that only reach a small
    component (Wasserman & Faust 1994, the variant GDS exposes as
    ``useWassermanFaust``).

    Same cost contract as :func:`harmonic_centrality` (shared
    :func:`bounded_distances` core, O(V^2) reach state on a dense
    graph — callers bound the graph). The node count N is joined in
    as a broadcast one-row aggregate, never collected. Columns:
    actor, n_reached, total_dist, closeness, wf_closeness (rounded
    1e-6, desc by closeness).
    """
    reach = bounded_distances(edges, max_dist)
    n_total = reach.where(F.col("d") == 0).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    per_src = (
        reach.where(F.col("d") > 0)
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("d").alias("total_dist"),
        )
    )
    return (
        per_src.crossJoin(broadcast(n_total))
        .select(
            F.col("s").alias("actor"),
            "n_reached",
            "total_dist",
            F.round(
                F.col("n_reached") / F.col("total_dist"), 6
            ).alias("closeness"),
            F.round(
                (F.col("n_reached") / F.col("total_dist"))
                * F.col("n_reached")
                / (F.col("n_nodes") - F.lit(1)),
                6,
            ).alias("wf_closeness"),
        )
        .orderBy(F.desc("closeness"), "actor")
    )


def distance_distribution(edges: DataFrame, max_dist: int = 4) -> DataFrame:
    """Hop-distance distribution of the graph within ``max_dist``
    hops: per distance d, the number of ordered reachable pairs and
    the cumulative fraction of all reached pairs — the neighborhood
    function N(d) whose 0.9-quantile is the effective diameter
    (HyperANF / "Four Degrees of Separation" statistic, here exact
    via the shared :func:`bounded_distances` BFS instead of
    HyperLogLog counters; the exact form is the oracle the sketched
    form would be graded against).

    The terminal histogram is at most ``max_dist`` rows, so the
    unpartitioned cumulative window is legitimate (not a data-sized
    single-partition sort). Columns: d, n_pairs (ordered pairs),
    cum_frac (rounded 1e-6).
    """
    from pyspark.sql import Window

    hist = (
        bounded_distances(edges, max_dist)
        .where(F.col("d") > 0)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        hist.select(
            "d",
            "n_pairs",
            F.round(
                F.sum("n_pairs").over(w_cum) / F.sum("n_pairs").over(w_all), 6
            ).alias("cum_frac"),
        )
        .orderBy("d")
    )


def betweenness_centrality(
    edges: DataFrame,
    max_dist: int = 4,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Exact Brandes betweenness centrality, radius-bounded: the
    number of shortest paths through each node, counting only
    geodesics of length <= ``max_dist`` (on SocioPatterns-shaped hour
    graphs the ball saturates within the bound, so this is exact
    betweenness; the bound is the explicit cost contract, as in
    :func:`harmonic_centrality`).

    Brandes' two passes (Brandes 2001), both as per-layer equi-joins:

    - forward: layered multi-source BFS where layer i+1's sigma
      (shortest-path counts) is the sum of adjacent layer-i sigmas —
      one join + aggregate per layer, new nodes found by left-anti
      join against the seen set; sigmas are exact integers.
    - backward: dependency accumulation delta(u) = sum over layer-
      (d+1) neighbors w of sigma_u/sigma_w * (1 + delta(w)) — one
      join + aggregate per layer, descending.

    betweenness(v) = sum over sources of delta(v) / 2 (undirected).
    Cost: O(V^2) state like the rest of the distance family when
    ``sources`` is None.

    Barriers: the symmetrized edges, the sources, every forward layer
    and every backward dependency frame pass through
    :func:`_counted_barrier` — one job each, which checkpoints the
    frame (so layer i never re-executes layers 1..i-1), counts its
    rows, and broadcast-hints it when the measured size fits the
    session's broadcast threshold. The forward pass stops at the
    first EMPTY layer (on a clique: at layer 2, not ``max_dist``),
    and the backward pass runs over only the layers that exist.
    Edgeless input, or a ``sources`` frame that selects no node,
    gives an empty result.

    ``sources`` (one column ``s``) restricts the forward pass to a
    source SAMPLE — the Brandes-Pich (2007) estimator and THE scale
    path at 100 TB: state drops to O(V * |S|) and the accumulated
    dependencies are scaled by V/|S|, an unbiased estimate of the
    full sum. Pass a deterministic hash-sampled node subset so the
    estimate is replayable. Columns: actor, betweenness (rounded
    1e-6, desc).
    """
    sym, _ = _counted_barrier(
        symmetrize(edges.select("actor1", "actor2").distinct())
    )
    seed_nodes = sym.select(F.col("src").alias("s")).distinct()
    if sources is not None:
        seed_nodes = seed_nodes.join(sources, "s")
    layer, n = _counted_barrier(
        seed_nodes.select(
            "s",
            F.col("s").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    layers = [layer]
    # seen is a UNION of already-checkpointed layer frames: its lineage
    # stays <= max_dist LogicalRDD scans, so re-checkpointing it each
    # layer only added an eager job per round (r13; the layer
    # checkpoints themselves stay — each layer is reused by the next
    # round's anti-join AND the backward pass)
    seen = layer.select("s", "v")
    while n and len(layers) <= max_dist:
        expanded = (
            layer.join(sym, layer.v == sym.src)
            .groupBy("s", F.col("dst").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        layer, n = _counted_barrier(
            expanded.join(seen, ["s", "v"], "left_anti")
        )
        if n:
            seen = seen.unionByName(layer.select("s", "v"))
            layers.append(layer)
    # the deepest layer that exists has no successors (the next one is
    # empty or past the radius), so its dependencies are all zero;
    # layer 0 holds the sources themselves, which earn no betweenness
    delta = layers[-1].withColumn("delta", F.lit(0.0))
    if len(layers) == 1:  # no source reached any node
        delta = delta.where(F.lit(False))
    deltas = [delta]  # kept in layer order 1..deepest
    for u_layer in reversed(layers[1:-1]):
        contrib = (
            delta.join(sym, delta.v == sym.src)
            .select(
                "s",
                F.col("dst").alias("v"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
        )
        u = u_layer.select("s", "v", F.col("sigma").alias("sigma_u"))
        acc = (
            u.join(contrib, ["s", "v"])
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sigma_u")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("acc")
            )
        )
        delta, _ = _counted_barrier(
            u_layer.join(acc, ["s", "v"], "left").select(
                "s",
                "v",
                "sigma",
                F.coalesce(F.col("acc"), F.lit(0.0)).alias("delta"),
            )
        )
        deltas.insert(0, delta)
    all_delta = deltas[0]
    for delta in deltas[1:]:
        all_delta = all_delta.unionByName(delta)
    if sources is None:
        return (
            all_delta.groupBy("v")
            .agg(F.round(F.sum("delta") / 2, 6).alias("betweenness"))
            .select(F.col("v").alias("actor"), "betweenness")
            .orderBy(F.desc("betweenness"), "actor")
        )
    vc = (
        sym.select("src")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("n_v"))
    )
    sc = seed_nodes.agg(F.count(F.lit(1)).alias("n_s"))
    return (
        all_delta.groupBy("v")
        .agg(F.sum("delta").alias("delta_sum"))
        .crossJoin(broadcast(vc))
        .crossJoin(broadcast(sc))
        .select(
            F.col("v").alias("actor"),
            F.round(
                F.col("delta_sum") * F.col("n_v") / F.col("n_s") / 2, 6
            ).alias("betweenness"),
        )
        .orderBy(F.desc("betweenness"), "actor")
    )


def rich_club(edges: DataFrame, ks: list[int]) -> DataFrame:
    """Rich-club coefficient phi(k) = 2 * E_k / (N_k * (N_k - 1)) for
    each degree threshold k in ``ks``: the edge density among the
    nodes of degree > k (Zhou & Mondragon 2004 — do the hubs of the
    contact graph preferentially interact with each other?).

    Shape: degrees by aggregation; each edge annotated with
    least(deg(a1), deg(a2)) via two equi-joins; then BOTH sides
    collapse to degree histograms (at most |distinct degrees| rows)
    before the threshold comparison, so the only non-equi join is
    literal-sized-broadcast x histogram — never data x data. k rows
    with no qualifying nodes survive with n_nodes = 0 and NULL phi
    (left joins, non-null-column counts). The normalized variant
    (phi / phi_random) needs a degree-preserving null model — out of
    scope here, documented; see q_null_model_gaps for the repo's
    null-model precedent. Columns: k, n_nodes, n_edges, phi
    (rounded 1e-6).
    """
    spark = edges.sparkSession
    e = edges.select("actor1", "actor2").distinct()
    deg = (
        symmetrize(e)
        .groupBy(F.col("src").alias("actor"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    d1 = deg.select(
        F.col("actor").alias("actor1"), F.col("degree").alias("deg1")
    )
    d2 = deg.select(
        F.col("actor").alias("actor2"), F.col("degree").alias("deg2")
    )
    edge_hist = (
        e.join(d1, "actor1")
        .join(d2, "actor2")
        .select(F.least("deg1", "deg2").alias("min_deg"))
        .groupBy("min_deg")
        .agg(F.count(F.lit(1)).alias("n_e"))
    )
    node_hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_v"))
    ks_df = spark.createDataFrame([(int(k),) for k in ks], "k int")
    nk = (
        broadcast(ks_df)
        .join(node_hist, node_hist.degree > ks_df.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n_v"), F.lit(0)).alias("n_nodes"))
    )
    ek = (
        broadcast(ks_df)
        .join(edge_hist, edge_hist.min_deg > ks_df.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n_e"), F.lit(0)).alias("n_edges"))
    )
    return (
        nk.join(ek, "k")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.col("n_edges")
                    / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
                    6,
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


def kmv_neighborhood(
    edges: DataFrame,
    k: int = 16,
    max_dist: int = 4,
    spill_dir: str | None = None,
) -> DataFrame:
    """Approximate neighborhood function N(d) via per-node KMV
    sketches — HyperANF (Boldi, Rosa & Vigna 2011) with KMV counters
    instead of HyperLogLog registers, because KMV with the repo's
    cross-engine hash is exactly replayable by an independent SQL
    engine (the q_kmv_distinct precedent) where HLL register layouts
    are not.

    This is the 100 TB scale path for :func:`distance_distribution`:
    the exact form carries O(V^2) reach state, this one O(V * k) —
    each node keeps the k smallest hashes of its ball, and one
    round of 'merge my neighbors' sketches, keep the k smallest'
    advances every ball radius by 1 (KMV merge IS union-then-prune,
    the same mergeability contract as streaming/kmv.py). Estimates
    use the standard (k-1)/u_k estimator via
    :func:`~neo4j_dynagraph_spark.operators.sketch.kmv_estimate`; on
    balls smaller than k the sketch is exact and so is the output.

    Columns: d (1..max_dist), est_pairs — estimated ORDERED reachable
    pairs within distance <= d (the cumulative neighborhood function;
    differences give per-distance shells), rounded 1e-6.

    Accuracy caveat (measured, sf0.1 day graph, 1.3k nodes): once the
    ball saturates to the giant component every node holds the SAME
    sketch, so per-node errors are fully correlated and do NOT cancel
    in the sum — one global KMV draw decides the error
    (k=16: -4% at d=1 but -26% at the saturated d=2; k=64: -4.6%
    saturated, HyperANF's 2^b >= 64 register default exists for this
    reason). Pick k for the saturated regime, not the shell regime;
    cost is one E*k-row shuffle per round.
    """
    from neo4j_dynagraph_spark import functions as dfn
    from neo4j_dynagraph_spark.operators.sketch import _TWO_60

    sym = _materialize(
        symmetrize(edges.select("actor1", "actor2").distinct()),
        spill_dir,
        "anf_sym",
    )
    u = (
        dfn.hash64(F.concat(F.lit("anf:"), F.col("v").cast("string"))) + 1
    ) / F.lit(_TWO_60)
    # ARRAY state: one row per node holding its sorted <= k smallest
    # hashes. The exploded (v, u) row form cost TWO wide shuffles per
    # round (distinct on E*k rows + the prune window's partitionBy) —
    # the array form's propagate ships E rows (each a <= k-double
    # array) through ONE groupBy whose merge (flatten -> distinct ->
    # sort -> slice k) is the identical KMV union-then-prune, and the
    # state side of the propagate join is V rows, broadcast/cheap
    # (guide §2.3 'shuffle fewer bytes', §2.4 'remove shuffles').
    state = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.array(u).alias("us"))
        .localCheckpoint()
    )
    merged_us = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("us")))),
        1,
        k,
    ).alias("us")
    # (k-1)/u_k estimator via operators.sketch.kmv_estimate semantics,
    # computed straight off the sorted array: exact (= ball size) when
    # the sketch holds fewer than k hashes. Per-node round(..., 6)
    # BEFORE the sum replays kmv_estimate's est_distinct rounding —
    # the oracle sums the rounded per-node estimates
    est = F.round(
        F.when(F.size("us") < k, F.size("us").cast("double")).otherwise(
            F.lit(k - 1) / F.element_at("us", k)
        ),
        6,
    )
    per_d = []
    for d in range(1, max_dist + 1):
        prop = state.join(sym, state.v == sym.dst).select(
            F.col("src").alias("v"), "us"
        )
        state = (
            state.unionByName(prop)
            .groupBy("v")
            .agg(merged_us)
            .localCheckpoint()
        )
        per_d.append(
            state.select(est.alias("e")).agg(
                F.lit(d).alias("d"),
                F.round(F.sum(F.col("e") - 1), 6).alias("est_pairs"),
            )
        )
    out = per_d[0]
    for frame in per_d[1:]:
        out = out.unionByName(frame)
    return out.orderBy("d")


def shortest_paths_weighted(
    edges: DataFrame, source: int, max_hops: int = 4
) -> DataFrame:
    """Single-source weighted shortest paths, bounded Bellman-Ford
    (GDS Dijkstra/sourceTarget parity with an explicit hop bound —
    ``max_hops`` relaxation rounds, so paths of more hops are out of
    scope by contract, the same bounded-cost convention as the rest
    of the distance family).

    ``edges`` must carry an integer ``cost`` column on canonical
    (actor1, actor2) rows; the graph is symmetrized here. All state
    is exact integers — one equi-join + min-aggregate per round, the
    frontier eagerly checkpointed. V-sized state, scale-safe.

    Columns: actor, cost (minimum total cost from ``source`` over
    paths of <= max_hops edges; includes the source itself at 0).
    """
    sym = symmetrize(
        edges.select("actor1", "actor2", "cost")
    ).localCheckpoint()
    dist = (
        sym.sparkSession.createDataFrame(
            [(int(source),)], "v long"
        ).select("v", F.lit(0).cast("long").alias("cost"))
    )
    for _ in range(max_hops):
        relax = dist.join(sym, dist.v == sym.src).select(
            F.col("dst").alias("v"),
            (dist.cost + sym.cost).alias("cost"),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("v")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return dist.select(F.col("v").alias("actor"), "cost").orderBy(
        "cost", "actor"
    )


def neighbor_sampling(
    edges: DataFrame,
    fanouts: list[int],
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Deterministic GraphSAGE-style neighbor sampling (Hamilton,
    Ying & Leskovec 2017): per seed, per hop, keep at most
    ``fanouts[hop]`` neighbors of each frontier node — the sampled
    computation blocks a GNN minibatch trainer consumes. This is the
    graph-side analogue of the corpus samplers in queries_ext/curate:
    at 100 TB the full 2-hop expansion of a hub is quadratic, the
    sampled block is seeds * prod(fanouts) rows BY CONSTRUCTION.

    Sampling is hash-ranked (the repo's cross-engine hash over
    'ns:<hop>:<src>:<dst>'), so the sample is deterministic,
    independent of partitioning, and exactly replayable by an
    independent SQL engine — the same draw-by-hash convention as
    :func:`random_walks`. Each hop is one equi-join + one per-
    (seed, src) top-k window; frontiers are lazily checkpointed.

    ``seeds``: one-column ``seed`` DataFrame; defaults to every node.
    Columns: seed, hop (1-based), src, dst — the sampled edges of
    each seed's block, hop h rows expanding hop h-1's frontier.
    """
    from pyspark.sql import Window

    from neo4j_dynagraph_spark import functions as dfn

    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    if seeds is None:
        seeds = sym.select(F.col("src").alias("seed")).distinct()
    frontier = seeds.select("seed", F.col("seed").alias("v"))
    sampled = []
    for hop, fo in enumerate(fanouts, start=1):
        cand = frontier.join(sym, frontier.v == sym.src).select(
            "seed",
            "src",
            "dst",
            dfn.hash64(
                F.concat(
                    F.lit(f"ns:{hop}:"),
                    F.col("src").cast("string"),
                    F.lit(":"),
                    F.col("dst").cast("string"),
                )
            ).alias("h"),
        )
        w = Window.partitionBy("seed", "src").orderBy("h", "dst")
        block = (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= fo)
            .select(
                "seed", F.lit(hop).alias("hop"), "src", "dst"
            )
            .localCheckpoint(eager=False)
        )
        sampled.append(block)
        frontier = block.select("seed", F.col("dst").alias("v")).distinct()
    out = sampled[0]
    for block in sampled[1:]:
        out = out.unionByName(block)
    return out.orderBy("seed", "hop", "src", "dst")


def temporal_closeness(
    frame_edges: DataFrame, max_hops: int = 6
) -> DataFrame:
    """All-sources temporal closeness over time-respecting paths of at
    most ``max_hops`` edges (Pan & Saramäki 2011): every source's
    earliest-arrival frame to every other node —
    :func:`temporal_reachability` advanced for ALL sources per
    distributed round (the multi-source convention of
    :func:`bounded_distances`) — then per source the harmonic sum of
    1 / (1 + arrival - W0), with W0 the graph's first frame, so
    faster-reaching sources score higher and unreachable nodes
    contribute 0 without a convention fight.

    The hop bound is the family's explicit cost contract (radius-4
    harmonic / bounded-CTDNE precedent) AND what keeps the loop free
    of data-dependent actions: exactly ``max_hops`` join+min rounds
    (:func:`_arrival_rounds` keyed by the source ``s``), no per-round
    changed-count (measured: the fixpoint variant's
    count() actions doubled the sf0.1 day-graph wall). Because an
    earlier arrival can ride every edge a later one can, the merged
    min-reduction state after round h is exactly the <=h-hop earliest
    arrival. Exact integer frames; only the terminal harmonic sum is
    a double on the 1e-6 grid. Cost: O(V^2) arrival state like the
    rest of the all-pairs family — bound the scope.
    Columns: actor, n_reached, t_closeness (rounded 1e-6, desc).
    """
    sym = symmetrize(
        frame_edges.select("frame_id", "actor1", "actor2").distinct()
    ).localCheckpoint()
    seeds = sym.select(F.col("src").alias("s")).distinct()
    # every source departs itself at any time (t = -1)
    state = seeds.select(
        "s", F.col("s").alias("v"), F.lit(-1).cast("long").alias("t")
    ).localCheckpoint()
    arrival = _arrival_rounds(sym, state, ["s"], max_hops)
    w0 = sym.agg(F.min("frame_id").cast("long").alias("w0"))
    return (
        arrival.where(F.col("v") != F.col("s"))
        .crossJoin(broadcast(w0))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(
                F.sum(
                    F.lit(1.0) / (F.lit(1) + F.col("t") - F.col("w0"))
                ),
                6,
            ).alias("t_closeness"),
        )
        .select(F.col("s").alias("actor"), "n_reached", "t_closeness")
        .orderBy(F.desc("t_closeness"), "actor")
    )


def temporal_closeness_sampled(
    frame_edges: DataFrame, sources: DataFrame, max_hops: int = 6
) -> DataFrame:
    """Source-sampled estimator of INBOUND temporal closeness — the
    Eppstein-Wang 2004 / Brandes-Pich 2007 move applied to the
    temporal family's 61 s all-sources wall: inbound closeness
    tc_in(v) = sum over sources s of 1 / (1 + arrival(s, v) - W0)
    decomposes per SOURCE, so a uniform source sample S gives the
    unbiased estimate (V / |S|) * sum over s in S — the same reason
    source sampling works for betweenness (each node's score is a sum
    of per-source dependencies). The per-source OUTBOUND table
    (:func:`temporal_closeness`) has no such estimator: a node's own
    outbound score needs its own forward pass. On time-respecting
    paths arrival is NOT symmetric, so this is genuinely the inbound
    vector, documented as such.

    ``sources`` (one column ``s``, a deterministic hash-drawn subset
    so the oracle can replay the draw) seeds the same delta-iterated
    earliest-arrival loop; state is O(V * |S|) where the exact pass
    is O(V^2). V and |S| enter as broadcast one-row aggregates — no
    driver-side scalars. Columns: actor, est_n_reaching (count of
    reaching sources scaled by V/|S|, round 6), t_closeness_in
    (scaled harmonic sum, round 6; desc)."""
    sym = symmetrize(
        frame_edges.select("frame_id", "actor1", "actor2").distinct()
    ).localCheckpoint()
    nodes = sym.select(F.col("src").alias("s")).distinct()
    seeds = nodes.join(sources, "s").localCheckpoint()
    # every source departs itself at any time (t = -1)
    state = seeds.select(
        "s", F.col("s").alias("v"), F.lit(-1).cast("long").alias("t")
    ).localCheckpoint()
    arrival = _arrival_rounds(sym, state, ["s"], max_hops)
    w0 = sym.agg(F.min("frame_id").cast("long").alias("w0"))
    nv = nodes.agg(F.count(F.lit(1)).cast("double").alias("nv"))
    ns = seeds.agg(F.count(F.lit(1)).cast("double").alias("ns"))
    return (
        arrival.where(F.col("v") != F.col("s"))
        .crossJoin(broadcast(w0))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_raw"),
            F.sum(
                F.lit(1.0) / (F.lit(1) + F.col("t") - F.col("w0"))
            ).alias("h_raw"),
        )
        .crossJoin(broadcast(nv))
        .crossJoin(broadcast(ns))
        .select(
            F.col("v").alias("actor"),
            F.round(F.col("n_raw") * F.col("nv") / F.col("ns"), 6).alias(
                "est_n_reaching"
            ),
            F.round(F.col("h_raw") * F.col("nv") / F.col("ns"), 6).alias(
                "t_closeness_in"
            ),
        )
        .orderBy(F.desc("t_closeness_in"), "actor")
    )


def node_minhash_similarity(
    edges: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = 64,
    min_common: int = 2,
) -> DataFrame:
    """MinHash-LSH node similarity — the 100 TB scale path for
    :func:`neighbor_jaccard`: instead of enumerating ALL wedge pairs
    (quadratic per hub center), each node's neighbor SET is MinHash-
    signed and banded exactly like document near-dup
    (operators/dedup.py machinery, reused verbatim with
    doc_id=node / shingle='nb:<neighbor>'), so candidate generation
    is an equi-join on band keys with the same bucket-cap skew guard,
    and only candidates pay the exact intersection verify.

    Verify stage: common-neighbor counts via two candidate-restricted
    adjacency joins (per candidate O(deg) — the dedup verify shape),
    union size by degree re-attach, exact Jaccard. Membership is
    decided by the integer ``min_common`` threshold, never a float
    compare. Columns: actor1, actor2, n_common, jaccard (round 6,
    desc) for LSH-candidate pairs sharing >= min_common neighbors.
    """
    from neo4j_dynagraph_spark.operators import dedup

    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    sh = sym.select(
        F.col("src").alias("doc_id"),
        F.concat(F.lit("nb:"), F.col("dst").cast("string")).alias(
            "shingle"
        ),
    )
    sig = dedup.minhash_signatures(sh, num_hashes=num_hashes)
    cand = dedup.lsh_candidate_pairs(
        sig, rows_per_band=rows_per_band, max_bucket=max_bucket
    )
    a1 = sym.select(F.col("src").alias("d1"), F.col("dst").alias("n"))
    a2 = sym.select(F.col("src").alias("d2"), F.col("dst").alias("n"))
    common = (
        cand.join(a1, "d1")
        .join(a2, ["d2", "n"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    deg = sym.groupBy(F.col("src").alias("actor")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    dg1 = deg.select(
        F.col("actor").alias("d1"), F.col("degree").alias("deg1")
    )
    dg2 = deg.select(
        F.col("actor").alias("d2"), F.col("degree").alias("deg2")
    )
    return (
        common.join(broadcast(dg1), "d1")
        .join(broadcast(dg2), "d2")
        .select(
            F.col("d1").alias("actor1"),
            F.col("d2").alias("actor2"),
            "n_common",
            F.round(
                F.col("n_common")
                / (
                    F.col("deg1") + F.col("deg2") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "actor1", "actor2")
    )


def luby_mis(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """Luby's maximal-independent-set algorithm (Luby 1986) with
    deterministic hash draws — THE classic O(log n)-round distributed
    symmetry breaker: each round every active node draws
    hash('mis:<round>:<v>'); a node wins (joins the MIS) iff no
    active neighbor drew a smaller-or-equal value, winners' neighbors
    become dominated, both leave the active set. Adjacent nodes can
    never both win (one of the two draws is smaller), so independence
    holds by construction; after enough rounds every node is mis or
    dominated (maximality).

    ``rounds`` is fixed (deterministic plan, replayable oracle) —
    nodes still active after the last round report 'undecided'
    honestly instead of the operator hiding an unbounded loop. Each
    round is two equi-joins + set anti-joins, frontier checkpointed.
    Hash draws are the shared cross-engine family, so the full
    mis/dominated/undecided partition replays in SQL. Columns:
    actor, status ('mis' | 'dominated' | 'undecided'), round (the
    round the status was decided; NULL for undecided).
    """
    from neo4j_dynagraph_spark import functions as dfn

    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    active = sym.select(F.col("src").alias("v")).distinct().localCheckpoint()
    decided = []
    for r in range(1, rounds + 1):
        draws = active.select(
            "v",
            dfn.hash64(
                F.concat(F.lit(f"mis:{r}:"), F.col("v").cast("string"))
            ).alias("dr"),
        ).localCheckpoint()
        d_src = draws.select(
            F.col("v").alias("src"), F.col("dr").alias("dr_src")
        )
        d_dst = draws.select(
            F.col("v").alias("dst"), F.col("dr").alias("dr_dst")
        )
        blocked = (
            sym.join(d_src, "src")
            .join(d_dst, "dst")
            .where(F.col("dr_dst") <= F.col("dr_src"))
            .select(F.col("src").alias("v"))
            .distinct()
        )
        winners = active.join(blocked, "v", "left_anti").localCheckpoint()
        dominated = (
            sym.join(winners.select(F.col("v").alias("src")), "src")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(active, "v")
            .join(winners, "v", "left_anti")
            .localCheckpoint()
        )
        decided.append(
            winners.select(
                "v", F.lit("mis").alias("status"), F.lit(r).alias("round")
            )
        )
        decided.append(
            dominated.select(
                "v",
                F.lit("dominated").alias("status"),
                F.lit(r).alias("round"),
            )
        )
        active = (
            active.join(winners, "v", "left_anti")
            .join(dominated, "v", "left_anti")
            .localCheckpoint()
        )
    out = decided[0]
    for frame in decided[1:]:
        out = out.unionByName(frame)
    out = out.unionByName(
        active.select(
            "v",
            F.lit("undecided").alias("status"),
            F.lit(None).cast("int").alias("round"),
        )
    )
    return out.select(F.col("v").alias("actor"), "status", "round").orderBy(
        "actor"
    )


def densest_subgraph(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Greedy densest-subgraph peeling (Charikar 2000 via the
    Bahmani-Kumar-Vassilvitskii 2012 distributed formulation,
    epsilon=0): each round records the remaining graph's density
    E/V, then removes every node whose degree is <= 2*E/V. The
    removal test is the INTEGER cross-multiplication
    deg * V <= 2 * E — no float compare ever decides membership, so
    the peel sequence is exact in both engines; only the reported
    density is a rounded double.

    Fully declarative: per round the (V, E) counts join back as
    broadcast one-row aggregates (no driver-side scalars), edges
    shrink by two semi-joins on the survivor set, every round
    checkpointed. Guarantee caveat: the Charikar 2-approximation
    holds only if peeling runs to EXHAUSTION; at epsilon=0 there is
    no constant-fraction-removal bound (Bahmani et al.'s O(log V)
    round bound needs epsilon > 0, removing deg <= 2(1+eps)E/V per
    round). With a fixed ``rounds`` this operator reports the best
    density SEEN — a lower bound on the optimum, not a certified
    2-approximation unless the peel empties within the budget.
    Columns: round, n_nodes, n_edges, density (round 6), is_best
    (density equals the max over emitted rounds).
    """
    e = edges.select("actor1", "actor2").distinct().localCheckpoint()
    stats = []
    for r in range(1, rounds + 1):
        deg = (
            symmetrize(e)
            .groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
        nv = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        stats.append(
            ne.crossJoin(nv).select(
                F.lit(r).alias("round"),
                "n_nodes",
                "n_edges",
                F.round(
                    F.col("n_edges") / F.col("n_nodes").cast("double"), 6
                ).alias("density"),
            )
        )
        survivors = (
            deg.crossJoin(broadcast(ne))
            .crossJoin(broadcast(nv))
            .where(
                F.col("deg") * F.col("n_nodes") > 2 * F.col("n_edges")
            )
            .select("v")
        )
        e = (
            e.join(
                survivors.select(F.col("v").alias("actor1")), "actor1"
            )
            .join(survivors.select(F.col("v").alias("actor2")), "actor2")
            .select("actor1", "actor2")
            .localCheckpoint()
        )
    out = stats[0]
    for frame in stats[1:]:
        out = out.unionByName(frame)
    out = out.where(F.col("n_nodes") > 0)
    from pyspark.sql import Window

    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        out.select(
            "round",
            "n_nodes",
            "n_edges",
            "density",
            (F.col("density") == F.max("density").over(w_all)).alias(
                "is_best"
            ),
        )
        .orderBy("round")
    )


def link_prediction_eval(
    train_edges: DataFrame,
    test_edges: DataFrame,
    k: int = 50,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Temporal link-prediction evaluation (the GDS linkPrediction
    train/test split done on time, as real dynamic-graph systems do):
    candidates are the TRAIN graph's non-edge wedge pairs scored by
    common-neighbor count; a candidate is positive iff the pair
    actually links in the TEST graph. Reports Mann-Whitney AUC and
    precision-in-top-k.

    Everything that decides the metric is an exact integer: CN scores
    (so score ties are identical in every engine — no float-order
    hazard in the midranks), tie-aware midranks from a histogram
    cumsum (the distinct-score table is tiny, so the unpartitioned
    window is legitimate), and the top-k by (score desc, pair id).
    AUC = (sum of positive midranks - P(P+1)/2) / (P*N), the rank-sum
    identity. Columns (one row): n_cand, n_pos, n_neg, auc (round 6,
    NULL when a class is empty), hits_at_k.
    """
    from pyspark.sql import Window

    # r13: d feeds the wedge self-join (x2) and the candidate
    # anti-join — checkpoint the day-window set once
    d = train_edges.select("actor1", "actor2").distinct().transform(checkpoint_hub)
    cn = (
        _wedge_pairs(d, max_center_degree=max_center_degree)
        .groupBy("actor1", "actor2")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    cand = cn.join(d, ["actor1", "actor2"], "left_anti")
    test = test_edges.select("actor1", "actor2").distinct()
    lab = cand.join(
        test.withColumn("label", F.lit(1)), ["actor1", "actor2"], "left"
    ).select(
        "actor1",
        "actor2",
        "score",
        F.coalesce(F.col("label"), F.lit(0)).cast("long").alias("label"),
    ).localCheckpoint()
    hist = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    w_asc = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hist.select(
        "score",
        "cnt",
        "pos",
        (
            F.coalesce(F.sum("cnt").over(w_asc), F.lit(0))
            + (F.col("cnt") + 1) / F.lit(2.0)
        ).alias("midrank"),
    )
    agg = ranked.agg(
        F.sum("cnt").alias("n_cand"),
        F.sum("pos").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).alias("n_neg"),
        F.sum(F.col("pos") * F.col("midrank")).alias("rank_sum"),
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k per partition, never a one-partition window over
    # the data-sized candidate set)
    hits = (
        lab.orderBy(F.desc("score"), "actor1", "actor2")
        .limit(k)
        .agg(F.sum("label").alias("hits_at_k"))
    )
    return (
        agg.crossJoin(broadcast(hits))
        .select(
            "n_cand",
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.round(
                    (
                        F.col("rank_sum")
                        - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
                    )
                    / (F.col("n_pos") * F.col("n_neg")).cast("double"),
                    6,
                ),
            ).alias("auc"),
            "hits_at_k",
        )
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank (GDS ``relationshipWeightProperty`` parity):
    transition mass splits proportionally to integer edge weights
    instead of uniformly — rank_{i+1}(v) = (1-d)/n + d * sum over
    neighbors u of rank_i(u) * w(u,v) / W(u), W(u) = sum of u's
    weights. The same :func:`_power_rounds` as :func:`pagerank`, with
    these weights; weights stay exact integers so only the rank vector
    is floating (1e-6 grid). Input: canonical (actor1, actor2,
    ``weight_col``) rows, weights pre-aggregated per pair. Columns:
    actor, rank (round 6, desc).
    """
    return _power_rounds(
        edges.select("actor1", "actor2", weight_col),
        F.col(weight_col),
        None,
        damping,
        iterations,
    )


def hits_bipartite(presence: DataFrame, iterations: int = 8) -> DataFrame:
    """HITS hubs-and-authorities over the actor x frame incidence of
    the star schema (Kleinberg 1999) — on a BIPARTITE graph the two
    HITS vectors are genuinely different objects, unlike on the
    symmetrized interaction graph where HITS degenerates to
    eigenvector centrality: hub actors are those active in
    high-authority frames, authority frames those containing
    high-hub actors.

    L1-normalized alternating power iteration (the
    :func:`eigenvector_centrality` convention — the only nonlinearity
    is a plain double division, so the unrolled oracle hash-matches):
    a(f) = sum of h(u) over u present in f, normalized; then h(u) =
    sum of a(f) over f containing u, normalized — :func:`_l1_rounds`
    with those two hops. One join + aggregate per half-step, both
    vectors checkpointed per round. Columns:
    kind ('actor' | 'frame'), id, score (round 6; desc within kind).
    """
    if iterations < 1:
        raise ValueError(
            f"hits_bipartite needs iterations >= 1 (got {iterations}): "
            "the authority vector only exists after the first half-step"
        )
    inc = presence.select("frame_id", "actor").distinct().localCheckpoint()
    n_a = inc.select("actor").distinct().count()
    hub = (
        inc.select("actor")
        .distinct()
        .withColumn("h", F.lit(1.0 / n_a))
        .localCheckpoint()
    )
    auth, hub = _l1_rounds(
        [
            (inc, "actor", F.col("frame_id"), "a"),
            (inc, "frame_id", F.col("actor"), "h"),
        ],
        hub,
        iterations,
    )
    out_h = hub.select(
        F.lit("actor").alias("kind"),
        F.col("actor").alias("id"),
        F.round("h", 6).alias("score"),
    )
    out_a = auth.select(
        F.lit("frame").alias("kind"),
        F.col("frame_id").alias("id"),
        F.round("a", 6).alias("score"),
    )
    return out_h.unionByName(out_a).orderBy(
        "kind", F.desc("score"), "id"
    )


def effective_diameter(
    edges: DataFrame, max_dist: int = 4, q: float = 0.9
) -> DataFrame:
    """Effective diameter: the interpolated hop count at which a
    fraction ``q`` of all reachable ordered pairs is within distance
    (the "Four Degrees of Separation" statistic, exact via the shared
    :func:`bounded_distances` BFS; :func:`kmv_neighborhood` is the
    sketched scale twin). Linear interpolation between the bracketing
    distances, the HyperANF convention: d-1 + (q*T - N(d-1))/(N(d) -
    N(d-1)) where N is the cumulative pair count and T the total.

    One row: eff_diameter (round 6), d_lo (the bracketing integer
    distance), n_pairs (total reached ordered pairs).
    """
    from pyspark.sql import Window

    hist = (
        bounded_distances(edges, max_dist)
        .where(F.col("d") > 0)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "d",
        F.sum("n_pairs").over(w_cum).alias("cum"),
        F.sum("n_pairs").over(w_all).alias("total"),
    )
    # the first distance whose cumulative count reaches q*total
    hit = (
        cum.where(F.col("cum") >= F.lit(q) * F.col("total"))
        .orderBy("d")
        .limit(1)
    )
    prev = cum.select(
        (F.col("d") + 1).alias("d"), F.col("cum").alias("cum_prev")
    )
    return (
        hit.join(prev, "d", "left")
        .select(
            F.round(
                F.col("d") - 1
                + (
                    F.lit(q) * F.col("total")
                    - F.coalesce(F.col("cum_prev"), F.lit(0))
                )
                / (F.col("cum") - F.coalesce(F.col("cum_prev"), F.lit(0))),
                6,
            ).alias("eff_diameter"),
            F.col("d").alias("d_lo"),
            F.col("total").alias("n_pairs"),
        )
    )


def percolation_criterion(edges: DataFrame) -> DataFrame:
    """Molloy-Reed percolation criterion of the contact graph — THE
    epidemic-threshold statistic of the SocioPatterns research domain
    (a giant component / epidemic outbreak can exist iff
    kappa = <k^2>/<k> > 2): exact integer degree moments, the
    branching factor kappa, the criterion margin, and the critical
    uniform-failure fraction f_c = 1 - 1/(kappa - 1) (Cohen et al.
    2000) — how many nodes you must remove (vaccinate) to fragment
    the network.

    One aggregate over the degree table, no iteration. Columns:
    n_nodes, n_edges, mean_deg, kappa, criterion (kappa - 2 > 0),
    f_c (round 6; NULL when kappa <= 1, i.e. no giant component to
    fragment).
    """
    # r13: one explode generator instead of the symmetrize union —
    # the union evaluated the day-pruned distinct subtree once per
    # branch (the `degree` precedent; guide §2.4)
    d = edges.select("actor1", "actor2").distinct()
    deg = (
        d.select(F.explode(F.array("actor1", "actor2")).alias("actor"))
        .groupBy("actor")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("k") / 2).cast("long").alias("n_edges"),
        F.round(F.avg("k"), 6).alias("mean_deg"),
        F.round(
            F.sum(F.col("k") * F.col("k")) / F.sum("k").cast("double"), 6
        ).alias("kappa"),
        (
            F.sum(F.col("k") * F.col("k")) / F.sum("k").cast("double")
            > F.lit(2.0)
        ).alias("criterion"),
        F.when(
            F.sum(F.col("k") * F.col("k")) / F.sum("k").cast("double")
            > F.lit(1.0),
            F.round(
                F.lit(1.0)
                - F.lit(1.0)
                / (
                    F.sum(F.col("k") * F.col("k"))
                    / F.sum("k").cast("double")
                    - F.lit(1.0)
                ),
                6,
            ),
        ).alias("f_c"),
    )


def sage_aggregate(
    blocks: DataFrame,
    features: DataFrame,
    feature_cols: list[str],
    n_hops: int = 2,
) -> DataFrame:
    """The GraphSAGE AGGREGATE step over sampled blocks (Hamilton et
    al. 2017, mean aggregator): per seed and hop, the mean of the
    sampled neighbors' feature columns — the tensor a GNN trainer
    consumes, assembled entirely relationally. Consumes
    :func:`neighbor_sampling`'s (seed, hop, src, dst) blocks and a
    per-actor feature table; means are over sampled EDGES (a hop-2
    node reached twice counts twice — the sampled-block convention).

    One equi-join (blocks x features on the dst key) + one grouped
    conditional aggregate; integer input features make every mean an
    exact rational, rounded 1e-6. Columns: seed, <feature_cols>
    (the seed's own features), then per hop h: h{h}_n,
    h{h}_mean_<col>... (NULL when the hop sampled nothing).
    """
    f = features.select(F.col("actor").alias("dst"), *feature_cols)
    j = blocks.join(f, "dst")
    aggs = []
    for h in range(1, n_hops + 1):
        aggs.append(
            F.count(F.when(F.col("hop") == h, F.lit(1))).alias(f"h{h}_n")
        )
        for c in feature_cols:
            aggs.append(
                F.round(
                    F.avg(F.when(F.col("hop") == h, F.col(c))), 6
                ).alias(f"h{h}_mean_{c}")
            )
    per_seed = j.groupBy("seed").agg(*aggs)
    own = features.select(F.col("actor").alias("seed"), *feature_cols)
    return own.join(per_seed, "seed", "left").orderBy("seed")


def _si_coin() -> Column:
    """The SI per-contact coin over (frame_id, src, dst):
    hash64('sc:'f':'u':'v) mod 10. A contact transmits under
    beta = p10/10 iff coin < p10, so the coin is monotone in beta."""
    from neo4j_dynagraph_spark import functions as dfn

    return (
        dfn.hash64(
            F.concat(
                F.lit("sc:"),
                F.col("frame_id").cast("string"),
                F.lit(":"),
                F.col("src").cast("string"),
                F.lit(":"),
                F.col("dst").cast("string"),
            )
        )
        % 10
    )


def _si_seed(seed_mod: int) -> Column:
    """The SI seed draw over ``src``: hash64('si:'src) mod seed_mod
    == 0, a deterministic 1-in-``seed_mod`` sample."""
    from neo4j_dynagraph_spark import functions as dfn

    return (
        dfn.hash64(F.concat(F.lit("si:"), F.col("src").cast("string")))
        % seed_mod
        == 0
    )


def _si_state(
    frame_edges: DataFrame,
    seed_mod: int,
    p10: int,
    max_hops: int,
    spill_dir: str | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared SI core: the coin-filtered contact stream and the
    converged (v, t) earliest-infection state — consumed by
    :func:`si_spread` (the curve) and :func:`si_offspring` (the
    who-infected-whom attribution). :func:`_arrival_rounds` with no
    keys: ONE global state row per node."""
    sym = symmetrize(
        frame_edges.select("frame_id", "actor1", "actor2").distinct()
    )
    trans = sym.where(_si_coin() < p10)
    # the coin-filtered contact stream is E-sized: the family's
    # _materialize/spill_dir contract applies (SCALE.md sf1 epidemic
    # postmortem: lingering E-sized deserialized blocks from one
    # query starve the NEXT query's heap in a shared session)
    trans = _materialize(trans, spill_dir, "si_trans")
    nodes = sym.select("src").distinct()
    state = nodes.where(_si_seed(seed_mod)).select(
        F.col("src").alias("v"), F.lit(-1).cast("long").alias("t")
    ).localCheckpoint()
    state = _arrival_rounds(trans, state, [], max_hops)
    return trans, state


def si_spread(
    frame_edges: DataFrame,
    seed_mod: int = 20,
    p10: int = 3,
    max_hops: int = 6,
    bucket_frames: int = 4,
    spill_dir: str | None = None,
) -> DataFrame:
    """Deterministic SI epidemic over time-respecting contacts — the
    SocioPatterns domain's headline simulation (the reference's data
    model exists to serve exactly this analysis; cf. the contact-
    network epidemic literature the dataset was published for).
    Seeds are the hash-drawn 1-in-``seed_mod`` actor sample; every
    directed contact (frame f, u -> v) transmits iff the per-contact
    coin hash64('sc:'f':'u':'v) mod 10 < ``p10`` (transmissibility
    beta = p10/10) — q_temporal_reach is the beta = 1 special case.
    Because the coin depends only on the contact (never on state), an
    earlier infection can ride every contact a later one can, so the
    min-merged earliest-infection state after round h is exactly the
    <= h-hop earliest infection: the same delta-iteration dominance
    argument as :func:`_arrival_rounds`, with ONE global state row
    per node — O(V) state, not the all-sources family's O(V^2).

    The coin filter lands on the symmetrized contact stream BEFORE
    the loop (one narrow map-side projection, candidate volume cut to
    ~beta of E per round); exactly ``max_hops`` join+min rounds, no
    data-dependent actions. Terminal: the epidemic curve — new and
    cumulative infections per ``bucket_frames``-frame bucket (bucket
    -1 = the seed generation, t = -1 by the depart-any-time
    convention), a <= (frames/bucket)-row table whose running sum is
    a provably bounded window. All decisions integer (hash draws and
    frame comparisons); no float compare decides membership.
    Columns: bucket, n_infected, cum_infected (ordered by bucket).
    """
    from pyspark.sql import Window

    trans, state = _si_state(frame_edges, seed_mod, p10, max_hops, spill_dir)
    curve = state.groupBy(
        F.when(F.col("t") < 0, F.lit(-1))
        .otherwise(F.floor(F.col("t") / bucket_frames))
        .cast("long")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_infected"))
    # running sum over a <= (frames/bucket)-row aggregate: the window
    # is single-partition by construction but provably bounded
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return curve.select(
        "bucket",
        "n_infected",
        F.sum("n_infected").over(w).cast("long").alias("cum_infected"),
    ).orderBy("bucket")


def wl_refinement(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement (the WL graph-
    isomorphism test; Shervashidze et al. 2011's WL subtree kernel,
    and the expressivity ceiling of message-passing GNNs, Xu et al.
    2019 / Morris et al. 2019): round 0 colors each node by degree;
    every round recolors by (own color, the MULTISET of neighbor
    colors). Stable color classes = structural roles; the color
    histogram is the graph's WL fingerprint (graph-dedup signature).

    The textbook round sorts each node's neighbor-color list — a
    per-hub O(deg log deg) array the saturated day graph turns into
    exactly the collect_list hub-killer the rest of this module
    avoids. Instead the multiset is fingerprinted COMMUTATIVELY: two
    independent 31-bit residue sums + the count, so each round is one
    E-row equi-join and one V-row aggregate of plain BIGINTs — no
    arrays, no windows, no skew sensitivity (a hub's sum is one
    combiner-friendly partial aggregate). Collisions: a pair of
    distinct multisets collides only if BOTH residue sums and the
    count agree (~2^-62 per comparison — the same birthday budget as
    the 60-bit portable hash everywhere else). Colors are hash64
    values, identical in DuckDB, so the full refinement replays in
    the oracle. Exactly ``rounds`` rounds (1-WL stabilizes in <= V,
    3 is the WL-kernel default h).

    Barriers: the symmetrized edges and every round's colors (the
    rounds are :func:`_wl_rounds` with no keys) pass through
    :func:`_counted_barrier` — one counted job per round, and the
    frame comes back broadcast-hinted when its measured size fits the
    session's broadcast threshold, so the next round's joins plan as
    broadcasts instead of shuffles sized by the static estimate. The
    round count is fixed (no convergence check).

    Columns: actor, wl_color (the round-``rounds`` color),
    class_size (nodes sharing it; 1 = structurally unique), ordered
    by actor.
    """
    sym, _ = _counted_barrier(
        symmetrize(edges.select("actor1", "actor2").distinct())
    )
    colors = _wl_rounds(sym, [], rounds)
    sizes = colors.groupBy("color").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    return (
        colors.join(sizes, "color")
        .select(F.col("actor"), F.col("color").alias("wl_color"), "class_size")
        .orderBy("actor")
    )


def si_attack_rates(
    frame_edges: DataFrame,
    seed_mod: int = 20,
    p10_grid: tuple[int, ...] = (1, 2, 3, 5, 8),
    max_hops: int = 6,
    spill_dir: str | None = None,
) -> DataFrame:
    """Attack rate vs transmissibility — the epidemic-threshold SWEEP
    completing the SI family (:func:`si_spread` is one operating
    point; :func:`percolation_criterion` the static Molloy-Reed
    prediction; THIS row measures where the outbreak actually takes
    off on the real temporal contact structure — the knob-grading
    move of q_ivf_tuning applied to epidemiology).

    One delta iteration for ALL betas at once: the per-contact coin
    hash64('sc:'f':'u':'v) mod 10 is drawn ONCE (the same coin as
    :func:`si_spread`, so the p10=3 lane reproduces its infected
    set exactly); a contact transmits under beta = p10/10 iff
    coin < p10, so the coin is MONOTONE in beta and the grid join
    replicates each contact only into the lanes it passes (expected
    volume = E * sum(p10)/10, not E * |grid|). State is keyed
    (p10, v) — O(V * |grid|), the multi-source family's shape with
    the beta lane as the source key. Terminal: per beta the seed
    count, infected count, and susceptible attack rate
    n_infected / (V - n_seeds), a |grid|-row table. All infection
    decisions integer; only the terminal rate is a double on the
    1e-6 grid. Columns: p10, n_seeds, n_infected, attack_rate
    (ordered by p10).
    """
    sym = _materialize(
        symmetrize(
            frame_edges.select("frame_id", "actor1", "actor2").distinct()
        ),
        spill_dir,
        "sit_sym",
    )
    grid = sym.sparkSession.createDataFrame(
        [(int(p),) for p in p10_grid], "p10 long"
    )
    trans = (
        sym.withColumn("coin", _si_coin())
        .crossJoin(broadcast(grid))
        .where(F.col("coin") < F.col("p10"))
        .select("p10", "frame_id", "src", "dst")
    )
    # replicated into ~sum(p10)/10 lanes: the heaviest E-sized frame
    # in the family — the spill_dir knob matters here first
    trans = _materialize(trans, spill_dir, "sit_trans")
    nodes = sym.select("src").distinct()
    seeds = nodes.where(_si_seed(seed_mod))
    state = (
        seeds.crossJoin(broadcast(grid))
        .select(
            "p10",
            F.col("src").alias("v"),
            F.lit(-1).cast("long").alias("t"),
        )
        .localCheckpoint()
    )
    state = _arrival_rounds(trans, state, ["p10"], max_hops)
    nv = nodes.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    return (
        state.groupBy("p10")
        .agg(
            F.count(F.when(F.col("t") < 0, F.lit(1)))
            .cast("long")
            .alias("n_seeds"),
            F.count(F.when(F.col("t") >= 0, F.lit(1)))
            .cast("long")
            .alias("n_infected"),
        )
        .crossJoin(broadcast(nv))
        .select(
            "p10",
            "n_seeds",
            "n_infected",
            # zero-denominator guard (every node a seed): explicit
            # NULL in both engines — Spark returns NULL on /0 but
            # DuckDB's double division may not, breaking bit-equality
            F.when(
                F.col("nv") - F.col("n_seeds") > 0,
                F.round(
                    F.col("n_infected")
                    / (F.col("nv") - F.col("n_seeds")).cast("double"),
                    6,
                ),
            ).alias("attack_rate"),
        )
        .orderBy("p10")
    )


def influence_seeds(edges: DataFrame, k: int = 8, p10: int = 3) -> DataFrame:
    """Degree-discount influence maximization (Chen, Wang & Yang, KDD
    2009) — the 'whom to target' completion of the epidemic family:
    :func:`si_spread` simulates an outbreak, :func:`si_attack_rates`
    sweeps its transmissibility, :func:`percolation_criterion` gives
    the vaccination fraction, THIS picks the k seed/immunization
    targets. Greedy: each round selects the node with the highest
    DISCOUNTED degree dd(v) = d(v) - 2 t(v) - (d(v) - t(v)) t(v) p
    (t = already-selected neighbors, p = transmission probability) —
    the cheap 1/1000th-cost stand-in for greedy IC simulation the
    paper shows within ~1-4% of it.

    Portability: with p = p10/10 every dd is a rational with
    denominator 10, so the operator ranks dd10 = 10 d - 20 t -
    (d - t) t p10 — INTEGER, no float compare decides selection; ties
    break on the smaller actor id. Each of the k rounds is one E-row
    join against the <= k-row broadcast seed set (a map-side filter),
    one V-row aggregate, and a top-1 TakeOrderedAndProject — no
    driver-side scalars; the seed set stays a DataFrame. Columns:
    round, actor, degree, dd10 (the score at selection), ordered by
    round.
    """
    sym = symmetrize(
        edges.select("actor1", "actor2").distinct()
    ).localCheckpoint()
    deg = (
        sym.groupBy(F.col("src").alias("actor"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()
    )
    chosen = deg.sparkSession.createDataFrame(
        [], "round long, actor long, degree long, dd10 long"
    )
    for r in range(1, k + 1):
        t = (
            sym.join(
                broadcast(chosen.select(F.col("actor").alias("dst"))),
                "dst",
            )
            .groupBy(F.col("src").alias("actor"))
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
        )
        dd = (
            deg.join(t, "actor", "left")
            .join(
                broadcast(chosen.select("actor")), "actor", "left_anti"
            )
            .select(
                "actor",
                "d",
                (
                    F.lit(10) * F.col("d")
                    - F.lit(20) * F.coalesce(F.col("t"), F.lit(0))
                    - (F.col("d") - F.coalesce(F.col("t"), F.lit(0)))
                    * F.coalesce(F.col("t"), F.lit(0))
                    * F.lit(p10)
                )
                .cast("long")
                .alias("dd10"),
            )
        )
        pick = (
            dd.orderBy(F.desc("dd10"), "actor")
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                "actor",
                F.col("d").alias("degree"),
                "dd10",
            )
        )
        chosen = chosen.unionByName(pick).localCheckpoint()
    return chosen.orderBy("round")


def si_offspring(
    frame_edges: DataFrame,
    seed_mod: int = 20,
    p10: int = 3,
    max_hops: int = 6,
    spill_dir: str | None = None,
) -> DataFrame:
    """Who-infected-whom attribution over the :func:`si_spread`
    outbreak: each infected node's PARENT is the smallest-id earlier-
    infected node among the coin-passing contacts at its infection
    frame (strict time order only — same-frame chains, where the
    infector's own time equals the victim's, stay honestly
    unattributed rather than risk a tie-cycle). The offspring
    histogram (how many infectors produced exactly k secondary
    infections) is the transmission-tree statistic behind R_effective
    and superspreading dispersion — the SocioPatterns contact data's
    published purpose.

    One extra equi-join pass over the converged state (contacts at
    the infection frame x the infection table twice), one bounded
    histogram terminal — no new iteration. Every attribution decision
    is integer (times and ids). Columns: n_offspring, n_actors
    (over ALL infected-or-seed nodes; k=0 rows included), ordered by
    n_offspring.
    """
    trans, state = _si_state(frame_edges, seed_mod, p10, max_hops, spill_dir)
    vt = state.select("v", "t")
    cand = (
        vt.where(F.col("t") >= 0)
        .join(
            trans,
            (trans.dst == vt.v) & (trans.frame_id == vt.t),
        )
        .select("v", "t", F.col("src").alias("u"))
    )
    ut = state.select(F.col("v").alias("u"), F.col("t").alias("tu"))
    parents = (
        cand.join(ut, "u")
        .where(F.col("tu") < F.col("t"))
        .groupBy("v")
        .agg(F.min("u").alias("parent"))
    )
    off = parents.groupBy(F.col("parent").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_off")
    )
    base = state.join(off, "v", "left").select(
        "v", F.coalesce(F.col("n_off"), F.lit(0)).alias("n_offspring")
    )
    return (
        base.groupBy(F.col("n_offspring").cast("long").alias("n_offspring"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_actors"))
        .orderBy("n_offspring")
    )


def si_immunized(
    frame_edges: DataFrame,
    k: int = 8,
    seed_mod: int = 20,
    p10: int = 3,
    max_hops: int = 6,
    spill_dir: str | None = None,
) -> DataFrame:
    """Targeted-immunization EVALUATION — the epidemic family's
    closing loop: re-run the :func:`si_spread` outbreak under three
    removal policies in ONE lane-keyed delta iteration and compare
    attack rates. Lanes: 'baseline' (nobody removed), 'random' (the
    k hash-smallest actors — the null policy, deterministic so the
    oracle replays the draw), 'targeted' (the k
    :func:`influence_seeds` degree-discount picks — the vaccination
    strategy q_percolation's f_c motivates). Removed actors neither
    seed nor transmit nor count as infected: their contacts are
    anti-joined out of each lane's transmission stream before the
    loop.

    This measures what the selection is FOR: targeted removal should
    depress the attack rate at least as much as random removal on
    hub-bearing graphs (pinned by the planted two-community test; on
    a saturated clique-like day every policy saturates — documented,
    the q_degree_powerlaw health-check flags which regime the data
    is in). Attack rate = n_infected / (V - n_removed - n_seeds),
    every count integer. Columns: policy, n_removed, n_seeds,
    n_infected, attack_rate (ordered by policy)."""
    from neo4j_dynagraph_spark import functions as dfn

    sym = _materialize(
        symmetrize(
            frame_edges.select("frame_id", "actor1", "actor2").distinct()
        ),
        spill_dir,
        "sii_sym",
    )
    nodes = sym.select("src").distinct().localCheckpoint()
    targeted = influence_seeds(frame_edges, k=k, p10=p10).select(
        F.lit("targeted").alias("policy"), F.col("actor").alias("rm")
    )
    rand = (
        nodes.orderBy(
            dfn.hash64(F.concat(F.lit("rv:"), F.col("src").cast("string"))),
            "src",
        )
        .limit(k)
        .select(F.lit("random").alias("policy"), F.col("src").alias("rm"))
    )
    removed = targeted.unionByName(rand).localCheckpoint()
    lanes = sym.sparkSession.createDataFrame(
        [("baseline",), ("random",), ("targeted",)], "policy string"
    )
    coin = sym.where(_si_coin() < p10)
    trans = (
        coin.crossJoin(broadcast(lanes))
        .join(
            broadcast(
                removed.select("policy", F.col("rm").alias("src"))
            ),
            ["policy", "src"],
            "left_anti",
        )
        .join(
            broadcast(
                removed.select("policy", F.col("rm").alias("dst"))
            ),
            ["policy", "dst"],
            "left_anti",
        )
        .select("policy", "frame_id", "src", "dst")
    )
    trans = _materialize(trans, spill_dir, "sii_trans")
    seeds = (
        nodes.where(_si_seed(seed_mod))
        .crossJoin(broadcast(lanes))
        .join(
            broadcast(removed.select("policy", F.col("rm").alias("src"))),
            ["policy", "src"],
            "left_anti",
        )
        .select(
            "policy",
            F.col("src").alias("v"),
            F.lit(-1).cast("long").alias("t"),
        )
        .localCheckpoint()
    )
    state = _arrival_rounds(trans, seeds, ["policy"], max_hops)
    nv = nodes.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    nrm = removed.groupBy("policy").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed")
    )
    per = state.groupBy("policy").agg(
        F.count(F.when(F.col("t") < 0, F.lit(1)))
        .cast("long")
        .alias("n_seeds"),
        F.count(F.when(F.col("t") >= 0, F.lit(1)))
        .cast("long")
        .alias("n_infected"),
    )
    # anchor on the lane dim: a seedless tiny-SF graph must still
    # emit all three policy rows (zero counts), matching the oracle
    return (
        lanes.join(per, "policy", "left")
        .join(broadcast(nrm), "policy", "left")
        .select(
            "policy",
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("n_seeds"), F.lit(0))
            .cast("long")
            .alias("n_seeds"),
            F.coalesce(F.col("n_infected"), F.lit(0))
            .cast("long")
            .alias("n_infected"),
        )
        .crossJoin(broadcast(nv))
        .select(
            "policy",
            "n_removed",
            "n_seeds",
            "n_infected",
            # zero-denominator guard (k ~ V removes everyone):
            # explicit NULL in both engines (si_attack_rates note)
            F.when(
                F.col("nv") - F.col("n_removed") - F.col("n_seeds") > 0,
                F.round(
                    F.col("n_infected")
                    / (
                        F.col("nv")
                        - F.col("n_removed")
                        - F.col("n_seeds")
                    ).cast("double"),
                    6,
                ),
            ).alias("attack_rate"),
        )
        .orderBy("policy")
    )


def wl_day_similarity(
    frame_edges: DataFrame,
    rounds: int = 2,
    frames_per_day: int = 24,
    spill_dir: str | None = None,
) -> DataFrame:
    """GRAPH-LEVEL near-duplicate detection across the month's daily
    contact graphs — the WL subtree kernel applied as dedup (the
    document-near-dup move lifted to whole graphs): each day's graph
    gets :func:`wl_refinement` colors (:func:`_wl_rounds` keyed by
    day, every round still ONE equi-join + one aggregate for ALL days
    at once),
    its color HISTOGRAM is the day's WL fingerprint, and day pairs
    score weighted Jaccard over histograms:

        sim(a, b) = sum_c min(n_a(c), n_b(c))
                    / sum_c max(n_a(c), n_b(c))

    with the denominator as V_a + V_b - sum(min) — so one equi-join
    on color computes everything and zero-overlap pairs survive via
    the |days|^2-bounded pair base (full outer semantics without a
    full outer join). Two structurally identical days score 1.0 even
    on disjoint actor sets (colors are structural, not identities);
    the exact-identity check is q_graph_diff's. Integer numerators/
    denominators — only the terminal ratio is a double. Columns:
    day_a, day_b, n_a, n_b, common, wl_jaccard (round 6; day pairs
    ordered)."""
    he = (
        frame_edges.select(
            F.floor(F.col("frame_id") / frames_per_day)
            .cast("long")
            .alias("day"),
            "actor1",
            "actor2",
        )
        .distinct()
    )
    # month-wide day-keyed edges are E-sized x days: the family's
    # spill_dir contract applies (at sf1 the saturated month is
    # ~1.2G sym rows — past localCheckpoint's comfortable range)
    sym = _materialize(
        symmetrize(he.select("day", "actor1", "actor2")).select(
            "day", "src", "dst"
        ),
        spill_dir,
        "wld_sym",
    )
    colors = _wl_rounds(sym, ["day"], rounds)
    hist = colors.groupBy("day", "color").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = hist.groupBy("day").agg(F.sum("n").cast("long").alias("nv"))
    ha = hist.select(
        F.col("day").alias("day_a"), "color", F.col("n").alias("na")
    )
    hb = hist.select(
        F.col("day").alias("day_b"), "color", F.col("n").alias("nb")
    )
    common = (
        ha.join(hb, "color")
        .where(F.col("day_a") < F.col("day_b"))
        .groupBy("day_a", "day_b")
        .agg(F.sum(F.least("na", "nb")).cast("long").alias("common"))
    )
    ta = tot.select(F.col("day").alias("day_a"), F.col("nv").alias("n_a"))
    tb = tot.select(F.col("day").alias("day_b"), F.col("nv").alias("n_b"))
    pairs = ta.crossJoin(tb).where(F.col("day_a") < F.col("day_b"))
    return (
        pairs.join(common, ["day_a", "day_b"], "left")
        .select(
            "day_a",
            "day_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("common"), F.lit(0))
            .cast("long")
            .alias("common"),
            F.round(
                F.coalesce(F.col("common"), F.lit(0))
                / (
                    F.col("n_a") + F.col("n_b")
                    - F.coalesce(F.col("common"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("wl_jaccard"),
        )
        .orderBy("day_a", "day_b")
    )


def temporal_pagerank(
    frame_edges: DataFrame,
    frame_ids: list[int],
    beta: float = 0.85,
) -> DataFrame:
    """TEMPORAL PageRank: mass flows only FORWARD in time (the
    Rozenshtein & Gionis 2016 temporal-walk shape, in its
    frame-synchronous form). Frames are processed in ascending order;
    at frame f every node ACTIVE in f passes a beta fraction of its
    current mass along that frame's edges (split equally), inactive
    nodes hold theirs — so rank measures where mass accumulates along
    TIME-RESPECTING paths, the centrality a static PageRank
    structurally cannot see (a->b at noon then b->c at 1pm feeds c;
    the reverse order does not — test-pinned).

    House round-boundary convention throughout: mass rides as BIGINT
    on the 1e-9 grid, the per-edge share s = round(beta*r/deg) is a
    single-valued integer function, a sender keeps EXACTLY
    r - deg*s, and receivers sum exact integers — conservation is
    exact in integers (sum(r) invariant, test-pinned) and the whole
    recursion is bit-identical across partitionings and engines
    whatever the summation order. The unrolled per-frame oracle
    replays every slot, absent frames degrading to the identity.

    Scale: one E_f-row equi-join + one V-row aggregate per frame,
    state O(V), frontier checkpointed per frame; frames are
    sequential BY SEMANTICS (time order), so wall grows with the
    slot count, not the graph — at day scope that is 24 rounds.
    ``frame_ids`` are the FIXED slots (absent ones are no-ops), so
    the plan is static and replayable. Columns: actor, tpr (round 6),
    ordered by actor.

    DEEP-LOOP SHAPE (measured, round 13): the textbook update
    r' = r LEFT JOIN sends LEFT JOIN receives is a per-round
    SELF-JOIN diamond on the checkpointed state (sends/receives
    derive from r), and Spark's self-join resolution on a 20+-round
    chain of such diamonds goes EXPONENTIAL in driver time (~2.5x
    per round past depth ~15; minimal repro in the round-13 notes —
    the 10-round power-method operators never hit it). The update is
    therefore a UNION of delta rows (+r, -deg*s per sender, +s per
    receipt) collapsed by one groupBy SUM — no state self-join
    anywhere, flat ~0.1 s/round at any depth, and the integer
    arithmetic is identical (exact sums commute).
    """
    e = (
        frame_edges.select("frame_id", "actor1", "actor2")
        .distinct()
        .localCheckpoint()
    )
    sym = (
        e.select("frame_id", F.col("actor1").alias("src"), F.col("actor2").alias("dst"))
        .unionByName(
            e.select(
                "frame_id",
                F.col("actor2").alias("src"),
                F.col("actor1").alias("dst"),
            )
        )
        .localCheckpoint()
    )
    actors = sym.select(F.col("src").alias("actor")).distinct()
    nv = actors.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    from pyspark.sql.functions import broadcast

    r = (
        actors.crossJoin(broadcast(nv))
        .select(
            "actor",
            F.round(F.lit(1e9) / F.col("nv")).cast("long").alias("r"),
        )
        .localCheckpoint()
    )
    for fid in sorted(frame_ids):
        ef = sym.where(F.col("frame_id") == fid)
        deg = ef.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
        s = r.join(deg, r.actor == deg.src).select(
            "actor",
            "deg",
            F.round(F.lit(beta) * F.col("r") / F.col("deg"))
            .cast("long")
            .alias("s"),
        )
        # delta-union update (no state self-join — docstring note):
        # +r carried, -deg*s per sender, +s per edge receipt
        sent = s.select("actor", (-F.col("deg") * F.col("s")).alias("r"))
        recv = ef.join(s, ef.src == s.actor).select(
            F.col("dst").alias("actor"), F.col("s").alias("r")
        )
        r = (
            r.unionByName(sent)
            .unionByName(recv)
            .groupBy("actor")
            .agg(F.sum("r").alias("r"))
            .localCheckpoint()
        )
    return (
        r.select("actor", F.round(F.col("r") / F.lit(1e9), 6).alias("tpr"))
        .orderBy("actor")
    )


def persistent_degree_core(
    frame_edges: DataFrame,
    frame_ids: list[int],
    k: int = 10,
    delta: int = 4,
) -> DataFrame:
    """Delta-PERSISTENT degree core: actors whose per-frame degree is
    >= k in EVERY frame of a delta-frame sliding window — temporal
    cohesion that a static day-graph k-core cannot see (an actor can
    be day-aggregate-dense yet never sustain k contacts across any
    contiguous window; span-core literature, Galimberti et al. 2018:
    this is the per-frame-degree candidate set, the standard pruning
    superset of the induced span-core, computed exactly and
    declaratively — no fixpoint).

    One per-(frame, actor) degree aggregate over the symmetrized
    frame edges, filtered to >= k BEFORE the window replication (the
    qualifying rows are the sparse survivors), then each row joins
    the <= delta window starts it can serve — a broadcast of the
    |slots| window list, each row replicated <= delta times — and a
    (window, actor) count == delta closes the ALL-frames requirement.
    Everything after the first aggregate is bounded by |qualifying
    rows| x delta; integers end to end, no float anywhere.

    ``frame_ids`` are the FIXED consecutive slots (the day's 24
    hourly frames); windows are indexed by offset 0..len-delta.
    Columns: window_start (slot offset), actor, min_deg (the actor's
    weakest frame in the window) — ordered by window_start, actor.
    """
    if delta < 1 or len(frame_ids) < delta:
        raise ValueError("need delta >= 1 and at least delta frame slots")
    base = min(frame_ids)
    # r13: one explode generator instead of the two-branch union —
    # the union evaluated the distinct frame-edge subtree twice
    # (the `degree` precedent; guide §2.4)
    e = frame_edges.select("frame_id", "actor1", "actor2").distinct()
    sym = e.select(
        "frame_id", F.explode(F.array("actor1", "actor2")).alias("actor")
    )
    from pyspark.sql.functions import broadcast

    deg = (
        sym.where(F.col("frame_id").isin([int(f) for f in frame_ids]))
        .groupBy("frame_id", "actor")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .where(F.col("deg") >= k)
        .select(
            (F.col("frame_id") - F.lit(base)).alias("i"), "actor", "deg"
        )
    )
    n_windows = len(frame_ids) - delta + 1
    spark = frame_edges.sparkSession
    wins = spark.range(n_windows).select(F.col("id").alias("w"))
    return (
        deg.join(
            broadcast(wins),
            (F.col("i") >= F.col("w"))
            & (F.col("i") <= F.col("w") + delta - 1),
        )
        .groupBy("w", "actor")
        .agg(
            F.count(F.lit(1)).alias("nf"),
            F.min("deg").alias("min_deg"),
        )
        .where(F.col("nf") == delta)
        .select(
            F.col("w").alias("window_start"), "actor", "min_deg"
        )
        .orderBy("window_start", "actor")
    )
