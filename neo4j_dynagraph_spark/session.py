"""SparkSession factory with the engine's canonical configuration.

Design notes (100 TB scale):

- UTC session timezone: the reference used local-time calendar
  decomposition (load_gexf_to_neo4j.py:105, StructuredTimeline.java:38-39);
  we pin UTC so date-part derivation is deterministic across the
  cluster and agrees with the DuckDB oracle.
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast-join demotion are exactly the
  mitigations a 1000-executor run needs when key skew shows up.
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver testdata stores
  TIMESTAMP(NANOS) which vanilla Spark rejects; we read nanos as long
  and normalize in :mod:`neo4j_dynagraph_spark.sources.tables`.
- Arrow enabled: every Python-side operator in this engine is a
  vectorized pandas UDF / mapInPandas; Arrow batch transfer is the
  difference between 10x and 1000x slowdown vs JVM expressions.
- Codegen cache of ``CODEGEN_CACHE_ENTRIES`` (1000) generated classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). One
  pass of the paper's 14 queries (perfbench ``temporal_queries``, seed
  42) compiles 189 classes cold and visits them in a fixed cycle, so at
  100 the LRU evicted every class before its next use: each repeated
  pass recompiled 170 of them at ~10 ms each, and Janino took 21% of the
  JVM's profile samples. 1000 holds that pass about five times over, so
  a repeat compiles 0. With the class-name setting below, over 10
  alternating process pairs on 4 cores, ``op_p50_sum_s`` fell 10.68 ->
  8.14 s on seed 42 and 11.07 -> 8.72 s on seed 11, and every pair was
  won. Classes average ~2.7 KB of bytecode (max 10 KB); Metaspace after
  4 passes was 155.0 MiB against 158.2 MiB at 100. The cache holds
  compiled code only, never rows or results. It is a STATIC conf: it
  applies only when this factory starts the JVM's first session, and
  setting it at runtime raises. Sessions built elsewhere (the driver's
  vanilla session through ``__spark_entry__``) keep 100.
- ``spark.sql.codegen.useIdInClassName=false``: the cache is keyed by
  the generated source, and by default a whole-stage class is named
  after its codegen stage id. AQE numbers stages as they are
  re-planned, which depends on which shuffle finishes first, so the
  same stage under another id missed the cache (q8_neighbors_on_day
  recompiled 8 classes on about one repeat in six). Without the id,
  identical stage bodies share one class: a cold pass of the 14
  queries at sf0.001 compiles 110 classes instead of 145, and repeats
  compile 0 every time. Plans, and their ``*(n)`` stage ids, are
  unchanged; only profiler and stack-trace class names lose the id.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Generated classes Spark's codegen cache keeps (Spark's default:
#: 100); the module docstring says why 1000.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "neo4j-dynagraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var
    is set, else ``local[*]``. On a real cluster, callers pass their own
    master / rely on spark-submit and only the SQL confs below apply.

    The codegen cache size (``CODEGEN_CACHE_ENTRIES``) is a static conf:
    it applies only if this call starts the JVM's first session, and
    ``extra_conf`` can override it only then.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # a reliable checkpoint's files (hub.materialize under a
        # checkpoint dir) are deleted once its frame is garbage
        # collected, instead of outliving the query and the process
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # -Xlog:disable: JVM unified-logging warnings (gc,alloc under
        # GCLocker pressure) print to STDOUT, which corrupts harnesses
        # that parse this process's stdout (bench.py's one-JSON-line
        # contract). Driver-side only; executors inherit in local mode.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        # warehouse pinned under the system temp root: the default is
        # ./spark-warehouse relative to the LAUNCH cwd, so any
        # saveAsTable caller (write_star_bucketed) invoked from the
        # repo root would litter the source tree with run artifacts
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "dynagraph-warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
