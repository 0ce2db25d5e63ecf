"""Per-layer tracing from outside the program (``--trace 1`` runs only).

Nothing inside the program is instrumented. The tracer swaps timing
and counting wrappers in for public functions of the program's
modules (every module-level alias of a function is swapped, so
``from x import f`` call sites are covered too) and reads job, stage
and task counts from ``statusTracker``. ``uninstall`` puts every
original back.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from neo4j_dynagraph_spark.operators import hub, ingest
from neo4j_dynagraph_spark.sources import tables

PACKAGE = "neo4j_dynagraph_spark"


class Tracer:
    """Accumulates one sample's wrapper metrics in ``self.sample``:
    ``<layer>_calls`` and ``<layer>_s`` per wrapped function."""

    def __init__(self, spark) -> None:  # noqa: ANN001
        self.sc = spark.sparkContext
        self.sample: dict[str, float] = defaultdict(float)
        self.paused = False
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        self._wrap_function(tables, "load_table", "sources.load_table")
        self._wrap_function(hub, "checkpoint_hub", "hub.checkpoint")
        self._wrap_function(ingest, "events_to_presence", "ingest.presence")
        self._wrap_function(ingest, "presence_to_frame_interactions", "ingest.pair")
        # raw localCheckpoint: the barrier spelled without checkpoint_hub
        # (checkpoint_hub calls it too, so hub calls are a subset)
        orig = ClassicDataFrame.__dict__["localCheckpoint"]
        self._undo.append((ClassicDataFrame, "localCheckpoint", orig))
        ClassicDataFrame.localCheckpoint = self._timed(orig, "hub.local_checkpoint")

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def start_sample(self) -> None:
        self.sample = defaultdict(float)

    def _timed(self, orig, layer: str):  # noqa: ANN001, ANN202
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):  # noqa: ANN202
            if self.paused:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.sample[f"{layer}_s"] += time.perf_counter() - t0
                self.sample[f"{layer}_calls"] += 1

        return wrapper

    def _wrap_function(self, module, name: str, layer: str) -> None:  # noqa: ANN001
        orig = getattr(module, name)
        wrapper = self._timed(orig, layer)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def job_counts(self, groups: list[str]) -> dict[str, int]:
        """Jobs, stages (skipped ones included), tasks and failed tasks
        launched under the job groups ``groups``."""
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    out["stages"] += 1
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        out["tasks"] += stage.numTasks
                        out["failed_tasks"] += stage.numFailedTasks
        return out

