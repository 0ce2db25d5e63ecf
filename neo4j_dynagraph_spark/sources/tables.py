"""Parquet table loading with timestamp normalization.

The driver testdata (TESTDATA.md) has stored ``events.ts`` two ways
across generations:

- parquet TIMESTAMP(NANOS): Spark cannot read natively; with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long of
  epoch-nanoseconds.
- parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads this
  as ``timestamp_ntz`` (DuckDB reads the same bytes as its naive
  TIMESTAMP, so the oracle comparison is aligned by construction).

``load_table`` normalizes both arrivals to one contract:

- ``ts``    — the event-time column, left in its stored type when it is
  already a timestamp (keeping predicates on it pushdown-eligible), or
  derived ``timestamp_micros(ts div 1000)`` from legacy long-nanos.
- ``ts_ns`` — long epoch-nanoseconds, for exact integer arithmetic
  (as-of keys, session gaps). Derived from the stored micros when the
  arrival is a timestamp; the raw stored value in the legacy path.

Scale note: these are plain ``spark.read.parquet`` scans — column
pruning and predicate pushdown flow through untouched. Time-range
predicates are expressed on the bare ``ts`` column (see
``queries._ns_range``) so they reach the parquet reader as
PushedFilters for row-group min/max pruning; ``ts_ns`` is a single
projected expression and does not block pushdown on any other column.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# columns that carry event time and get the ts/ts_ns normalization
_EVENT_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_event_ts(spark: SparkSession, df: DataFrame, col: str) -> DataFrame:
    """Normalize one event-time column to the (ts, ts_ns) contract.

    Handles every arrival type the testdata generations produce:
    long epoch-nanos (legacy nanosAsLong), timestamp_ntz (current
    TIMESTAMP_MICROS/isAdjustedToUTC=false files), and plain timestamp.
    """
    if col not in df.columns:
        return df
    # UTC session unconditionally (not just for the ntz arrival): the
    # legacy long-nanos branch also derives a session-tz-sensitive
    # TimestampType ts, and calendar-part queries (F.year/F.hour/
    # date_format) must agree with the naive DuckDB oracle on a
    # driver-provided session with a non-UTC default.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dtype = df.schema[col].dataType
    if isinstance(dtype, LongType):
        # Keep the RAW nanos long as `{col}_ns` (exact integer math),
        # and derive the timestamp. MUST be integer `div`: `/` promotes
        # to double, and epoch-nanos (~1.7e18) exceed double's 2^53
        # exact range — floor(ns/1000.0) lands on a 1024 ns grid,
        # observed as ±1 µs errors against the oracle's exact division.
        df = df.withColumn(f"{col}_ns", F.col(col))
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif isinstance(dtype, (TimestampType, TimestampNTZType)):
        # under the UTC session set above, the ntz->ltz cast below is
        # the identity mapping (the testdata's naive timestamps ARE UTC
        # instants) and matches what the DuckDB oracle computes.
        src = F.col(col)
        if isinstance(dtype, TimestampNTZType):
            src = src.cast("timestamp")
        df = df.withColumn(
            f"{col}_ns", (F.unix_micros(src) * F.lit(1000)).cast("long")
        )
    return df


def normalize_stream_ts(
    spark: SparkSession, stream: DataFrame, schema, ts_col: str = "ts"
) -> DataFrame:
    """Normalize a file-stream's raw ``ts`` to TimestampType.

    ``schema`` is the batch-read StructType the stream was declared
    with; the arrival type is derived from it (never guessed by the
    caller): legacy long epoch-nanos -> timestamp_micros(div 1000),
    timestamp_ntz -> cast under a UTC session (identity mapping — the
    naive values are UTC instants), timestamp -> unchanged. Downstream
    watermarks/windows then behave identically for every arrival.
    """
    # UTC unconditionally, for the same reason as normalize_event_ts:
    # every branch yields a session-tz-sensitive TimestampType.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dtype = schema[ts_col].dataType
    if isinstance(dtype, LongType):
        return stream.withColumn(
            ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)")
        )
    if isinstance(dtype, TimestampNTZType):
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


# Process-scoped parquet STRUCTTYPE cache, keyed by (file path, mtime
# in ns) so a file regenerated at a cached path is re-inferred (r14,
# guide §1.2 step 2 / §6). Schema inference runs a one-task Spark job
# and a footer read per spark.read.parquet call (~80 ms measured);
# with the schema supplied explicitly the read is pure plan
# construction (26 ms/5 reads, zero jobs). This caches METADATA only —
# the immutable physical schema of an input file, the same class of
# reuse as Spark's own file-listing cache
# (spark.sql.hive.filesourcePartitionFileCacheSize) — never rows,
# results, or intermediates; every query still computes from the
# parquet inputs on every invocation. A path the local filesystem
# cannot stat (a remote URI) is inferred on every read, uncached.
_SCHEMA_CACHE: dict[tuple[str, int], "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing event-time columns."""
    if name in _EVENT_TS_COLUMNS:
        # runtime-settable SQL conf: lets driver-provided sessions (built
        # without our session factory) read legacy TIMESTAMP(NANOS) parquet
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        key = None
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(sch).parquet(path)
    for col in _EVENT_TS_COLUMNS.get(name, []):
        df = normalize_event_ts(spark, df, col)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view (mirrors the DuckDB oracle setup)."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
