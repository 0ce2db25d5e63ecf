"""The lineage-barrier policy: every checkpoint in the package goes
through :func:`materialize`, the package's only caller of
``DataFrame.localCheckpoint`` / ``DataFrame.checkpoint``.

Spark has no cross-branch common-subtree reuse, so a frame that
several branches consume (a hub), a loop's per-round state and a
data-sized intermediate are cut from their lineage and materialized
once. Where the rows of that barrier live is one decision, read from
one Spark setting, the session's checkpoint dir (Pregelix keeps all
iteration state behind one storage layer in the same way):

- **No checkpoint dir (the default):** ``localCheckpoint``. Blocks are
  stored deserialized, MEMORY_AND_DISK, on the executors. Fast, but
  not fault-tolerant: an executor loss kills the query instead of
  recomputing lineage, and a few-hundred-million-row frame pins the
  unified memory region.
- **A checkpoint dir is set** (``spark.checkpoint.dir`` at session
  build, or ``SparkContext.setCheckpointDir``): a reliable
  ``checkpoint`` into that dir. Columnar on the dir's file system,
  nothing pinned in executor memory, and it survives executor loss.
  It is always EAGER. A lazy reliable checkpoint is written by a
  second job after the first action, which runs its input's last
  stage again; an eager one costs what an eager local one costs and
  computes its input once. Measured (local[2], pyspark 4.1.2, a
  1-shuffle aggregate checkpointed, then collected): reliable eager
  and local eager 3 jobs / 4 stages, reliable lazy 3 jobs / 5
  stages, local lazy 2 jobs / 3 stages. So in this mode construction
  runs the barrier's jobs. Spark does not delete the files unless
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on.

What ``eager=False`` buys in the default mode: the barrier's result
job moves from construction into the first action's job; under AQE,
though, building the checkpoint RDD of a frame with a shuffle still
runs that shuffle's map stage at construction (in the measurement
above, local lazy ran 1 of its 2 jobs when built, local eager 2 of
3). The materialization happens once either way: the checkpointed RDD
is persisted via ``BlockManager.getOrElseUpdate``, whose per-block
lock computes each partition once even when two branches of the first
action race.

Two costs hold in both modes: a barrier stops predicate pushdown past
it (a consumer that composes the operator differently loses it), and
the checkpointed frame keeps its attribute ids (two barriers cut from
one lineage can trip AMBIGUOUS_SELF_JOIN; rename key columns after
the cut). Never ``persist()`` a frame that repeated invocations
rebuild with the same plan instead: CacheManager matches by canonical
plan, so invocations would share one materialization.

Two entry points add to :func:`materialize`:

- :func:`checkpoint_hub`, lazy by default, for NARROW hubs only: it
  checks a column-width bound, so a frame that still drags its
  token-array or text payload along is caught at construction.
- :func:`counted_barrier`, the loop barrier: it returns the row count
  from the barrier's own job, so a loop stops on an empty frontier or
  a round that removed nothing without a second action.

:func:`supersteps` is the package's only loop that runs a barrier each
round (Pregelix's one iteration operator): an operator supplies its
initial state and one round's step; the driver owns the loop, the
barrier, the stop rule and the per-round history.
``test_round_loops_use_supersteps`` fails on any other such loop.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, Literal

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.functions import broadcast
from pyspark.sql.types import ArrayType, MapType

#: Conservative hub-width bound: ids/keys + a couple of counts/hashes.
#: A frame wider than this is either carrying payload columns it should
#: have projected away first (guide §2.3 "project before the exchange")
#: or is not a hub at all.
MAX_HUB_WIDTH = 8


def _reliable(df: DataFrame) -> bool:
    """Whether the session's SparkContext has a checkpoint dir."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage and materialize its rows once: a local
    checkpoint (``eager`` as given) when the session has no checkpoint
    dir, else an eager reliable checkpoint into it."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager)


def checkpoint_hub(
    df: DataFrame,
    *,
    max_width: int = MAX_HUB_WIDTH,
    eager: bool = False,
) -> DataFrame:
    """:func:`materialize` for a NARROW fan-out hub.

    Raises when the frame is wider than ``max_width`` columns — the
    checked form of the rule "checkpoint only narrow V/E/vocab-bounded
    frames". Callers with a legitimately wider hub (none exist today)
    must raise the bound explicitly at the call site, which is the
    reviewable signal a comment convention lacks.
    """
    width = len(df.columns)
    if width > max_width:
        raise ValueError(
            f"checkpoint_hub: frame has {width} columns "
            f"({', '.join(df.columns[:12])}{'…' if width > 12 else ''}) — "
            f"wider than the hub bound {max_width}. Project the hub down "
            "to its key/count columns first, or use materialize() "
            "for data-sized intermediates."
        )
    return materialize(df, eager=eager)


def counted_barrier(df: DataFrame) -> tuple[DataFrame, int]:
    """Loop barrier that reports what it materialized: ``(frame, rows)``.

    Default mode: a lazy local checkpoint materialized by counting its
    internal RDD — the one job an eager checkpoint runs anyway, but
    the row count comes back to the caller. Reliable mode: the eager
    checkpoint's own job counts the rows through an observed metric,
    so neither mode adds a job to the barrier.

    The checkpointed frame keeps the optimizer's static size estimate
    of its lineage (a self-join product: GiBs for a few thousand
    rows), which plans every later join on it as a shuffle; when the
    MEASURED size, ``rows * (columns + 1) * 8`` bytes, fits the
    session's own ``spark.sql.autoBroadcastJoinThreshold``, the frame
    comes back broadcast-hinted instead. The 8-byte cell estimate
    holds for narrow loop state (ids, counts, hashes, short labels); a
    frame with an array or map column (a KMV sketch) is never hinted."""
    if _reliable(df):
        seen = Observation()
        ck = materialize(df.observe(seen, F.count(F.lit(1)).alias("rows")))
        rows = seen.get["rows"]
    else:
        ck = materialize(df, eager=False)
        rows = ck._jdf.queryExecution().toRdd().count()
    limit = (
        df.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    wide = any(isinstance(f.dataType, (ArrayType, MapType)) for f in ck.schema)
    if not wide and rows * (len(ck.columns) + 1) * 8 <= limit:
        ck = broadcast(ck)
    return ck, rows


def supersteps(
    state: Any,
    step: Callable[[Any, int], Any],
    rounds: int,
    *,
    barrier: Literal["eager", "lazy", "hub", "counted", "flagged"] = "eager",
    halt: Literal["empty", "fixpoint"] | None = None,
    rows: int | None = None,
) -> tuple[list[Any], list[int | None]]:
    """Run ``step(state, r)`` for r = 1..``rounds``, cutting each new
    state at a ``barrier``: ``"eager"`` / ``"lazy"`` :func:`materialize`,
    ``"hub"`` :func:`checkpoint_hub`, ``"counted"``
    :func:`counted_barrier`, or ``"flagged"``, a lazy materialize whose
    one job counts the rows of its boolean ``chg`` column (the state
    drops ``chg``). ``step`` returns a frame, or a tuple whose first
    frame is cut and whose other items ride along as they are.

    ``halt`` reads the counts: ``"empty"`` stops after a round that
    counts 0 rows, ``"fixpoint"`` after one that counts as many as the
    round before. ``rows`` is the input state's count when the caller
    has it. Returns ``(states, rows)``: the input state, then each
    round's, and their counts (None where nothing was counted)."""
    if rounds < 0:
        raise ValueError(f"round bound must be >= 0, got {rounds}")
    states, counts = [state], [rows]
    for r in range(1, rounds + 1):
        if (halt == "empty" and counts[-1] == 0) or (
            halt == "fixpoint" and len(counts) > 1 and counts[-1] == counts[-2]
        ):
            break
        out = step(state, r)
        carry = isinstance(out, tuple)
        head, *rest = out if carry else (out,)
        n = None
        if barrier == "counted":
            head, n = counted_barrier(head)
        elif barrier == "flagged":
            head = materialize(head, eager=False)
            n = head.where("chg")._jdf.queryExecution().toRdd().count()
            head = head.select(*[c for c in head.columns if c != "chg"])
        elif barrier == "hub":
            head = checkpoint_hub(head)
        else:
            head = materialize(head, eager=barrier == "eager")
        state = (head, *rest) if carry else head
        states.append(state)
        counts.append(n)
    return states, counts
