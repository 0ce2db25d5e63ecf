"""Checkpoint-hub contract helpers (round 14).

Round 13 made "one localCheckpoint per multiply-referenced narrow
frame" a house style (~220 sites) because Spark has no cross-branch
common-subtree reuse (guide §1.2). Two real costs were only stated in
comments (VERDICT r13 "What's wrong" #2):

- a localCheckpoint is a hard pipeline barrier: a future consumer that
  composes the operator differently silently loses cross-operator
  predicate pushdown past it (the q9 measurement);
- localCheckpoint pins deserialized MEMORY_AND_DISK blocks on the
  executors and is NOT fault-tolerant: on a real cluster an executor
  loss kills the query instead of recomputing lineage, and a
  corpus-sized stream pinned this way is an OOM/disk-pressure hazard
  at the 100 TB target.

This module turns the comment-enforced rules into checked code. Two
entry points, so the CALLER must declare which regime a frame is in —
the narrow/corpus distinction is problem knowledge the schema alone
cannot decide:

- :func:`checkpoint_hub` — for NARROW, V/E/vocab/doc-bounded hubs
  only. Enforces a column-width bound (every legitimate hub in the
  repo is 2-6 id/count/hash columns; accidentally checkpointing a
  frame that still drags the token-array/text payload along trips the
  bound). Default ``eager=False`` (ADVICE r13): materialization still
  happens exactly once, but on the first ACTION, so merely
  CONSTRUCTING an operator's DataFrame no longer launches Spark jobs
  and the operators module keeps its lazy-construction contract.
  (Correctness under laziness: the checkpointed RDD is persisted via
  ``BlockManager.getOrElseUpdate``, whose per-block lock computes each
  partition once even when two branches of the first action race.)
- :func:`stage_corpus_scale` — for corpus-sized intermediates
  (per-token / per-window streams). Write-parquet-read-back into a
  per-invocation temp dir: columnar on disk, nothing pinned in the
  unified memory region, fault-tolerant by re-read, and the barrier is
  explicit in the plan (a fresh parquet scan). Deliberately NOT
  ``persist(StorageLevel.DISK_ONLY)``: CacheManager matches persist()
  by canonical plan ACROSS invocations, which both re-introduces the
  round-10 bimodal-cache bug (SCALE.md) and would let a later bench
  invocation silently reuse an earlier one's materialization — exactly
  the cross-run caching the bench contract forbids. Every invocation
  writes and reads its own fresh staging dir.

Barrier spellings outside this module, which one materialization
policy would replace:

- raw ``DataFrame.localCheckpoint()`` calls in the operators, among
  them the lazy per-hop frontier of ``graph._walk_rounds``
  (``random_walks``, ``node2vec_walks``, ``temporal_walks``);
- ``graph._materialize(df, spill_dir, name)``: localCheckpoint, or
  :func:`stage_parquet` under a ``spill_dir``;
- ``graph._counted_barrier(df)``: a lazy localCheckpoint materialized
  by a row count that it returns, broadcast-hinted when the measured
  size fits ``spark.sql.autoBroadcastJoinThreshold`` — the loop
  barrier of ``betweenness_centrality`` (whose forward pass stops at
  the first empty layer), ``graph._wl_rounds`` (``wl_refinement``,
  ``wl_day_similarity``), ``graph._peel_rounds`` (``k_core``,
  ``k_core_rounds``, ``k_truss``, ``k_truss_rounds``; the peel stops
  on the first round whose count shows nothing removed, and
  ``k_core_rounds`` falls back to ``_materialize`` when given a
  ``spill_dir``), ``graph._relax_rounds`` (the arrival, distance,
  weighted-path and KMV frontiers; the loop stops at the first empty
  one) and ``graph._min_label_rounds`` (``connected_components``,
  ``connected_components_per_frame``; the count of changed labels
  materializes the round's lazy labels and stops the loop at 0).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

#: Conservative hub-width bound: ids/keys + a couple of counts/hashes.
#: A frame wider than this is either carrying payload columns it should
#: have projected away first (guide §2.3 "project before the exchange")
#: or is not a hub at all.
MAX_HUB_WIDTH = 8

_SPILL_ROOT: str | None = None


def _spill_root() -> str:
    """One process-scoped staging root, removed at interpreter exit.

    Subdirectories are per-call (uuid), so concurrent invocations never
    collide and no invocation can observe another's files — the staging
    is a plan barrier, not a cache.
    """
    global _SPILL_ROOT
    if _SPILL_ROOT is None:
        _SPILL_ROOT = tempfile.mkdtemp(prefix="spark_graft_hub_")
        atexit.register(shutil.rmtree, _SPILL_ROOT, ignore_errors=True)
    return _SPILL_ROOT


def checkpoint_hub(
    df: DataFrame,
    *,
    max_width: int = MAX_HUB_WIDTH,
    eager: bool = False,
) -> DataFrame:
    """Materialize-once barrier for a NARROW fan-out hub.

    Raises when the frame is wider than ``max_width`` columns — the
    checked form of the r13 rule "checkpoint only narrow V/E/vocab-
    bounded frames". Callers with a legitimately wider hub (none exist
    today) must raise the bound explicitly at the call site, which is
    the reviewable signal the comment convention lacked.
    """
    width = len(df.columns)
    if width > max_width:
        raise ValueError(
            f"checkpoint_hub: frame has {width} columns "
            f"({', '.join(df.columns[:12])}{'…' if width > 12 else ''}) — "
            f"wider than the hub bound {max_width}. Project the hub down "
            "to its key/count columns first, or use stage_corpus_scale() "
            "for data-sized intermediates."
        )
    return df.localCheckpoint(eager=eager)


def stage_parquet(df: DataFrame, root: str, name: str) -> DataFrame:
    """Write-parquet-read-back into a fresh ``<root>/<name>_<uuid>``
    directory: a later call never overwrites files that an earlier,
    still-uncollected frame reads."""
    path = os.path.join(root, f"{name}_{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def stage_corpus_scale(df: DataFrame, name: str) -> DataFrame:
    """Materialize-once barrier for a CORPUS-SIZED intermediate via
    write-parquet-read-back (the scale-safe variant of localCheckpoint:
    no executor-memory pin, survives executor loss by re-reading).

    Each call stages into its own directory under the process-scoped
    root, so results are always computed fresh from the inputs.
    """
    return stage_parquet(df, _spill_root(), name)
