"""Event-table loading that survives testdata encoding drift.

``events.parquet`` has shipped with different physical encodings of
the ``ts`` column across driver data generations:

- ``TIMESTAMP(NANOS)`` — Spark's vectorized reader rejects nanos, so
  it is readable only as raw int64 via
  ``spark.sql.legacy.parquet.nanosAsLong``, then converted with EXACT
  integer division (never ``/1000`` on doubles: epoch-nanos ≈ 1.7e18
  is far above 2^53, double division silently loses microseconds).
- ``TIMESTAMP`` (micros, isAdjustedToUTC=false) — Spark reads
  ``TIMESTAMP_NTZ``.
- ``TIMESTAMP`` (micros, isAdjustedToUTC=true) — Spark reads
  session-tz ``TIMESTAMP``.

Every consumer wants ONE canonical shape: a session-tz ``TIMESTAMP``
column (the engine pins the session timezone to UTC, so the NTZ→TZ
cast is value-preserving). Batch and streaming share the same
normalization; streaming additionally needs an explicit read schema,
which we take from the parquet footer — a driver-side metadata read,
no job, no data scan, so it costs the same at 100 TB as at 100 MB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType, TimestampNTZType, TimestampType


def enable_nanos_as_long(spark: SparkSession) -> None:
    """Runtime-settable legacy conf: lets the nanos generation of the
    data be read at all (as raw int64). Harmless for the other
    generations — it only affects TIMESTAMP(NANOS) columns."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def event_ts_column(dtype: DataType) -> Column:
    """Expression normalizing a raw ``ts`` column of physical type
    ``dtype`` to a session-tz TIMESTAMP."""
    if isinstance(dtype, LongType):
        # raw epoch-nanos (nanosAsLong read) → micros, exact int division
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, TimestampNTZType):
        # value-preserving under the engine's pinned UTC session tz
        return F.col("ts").cast("timestamp")
    if isinstance(dtype, TimestampType):
        return F.col("ts")
    raise TypeError(
        f"events.ts has unsupported physical type {dtype.simpleString()}; "
        "expected int64 epoch-nanos, timestamp_ntz, or timestamp"
    )


def events_file_schema(spark: SparkSession, path: str) -> StructType:
    """Physical schema of the events parquet (footer-only read, cached
    per (path, mtime) — sources/schema_cache.py). Requires
    ``enable_nanos_as_long`` first so the nanos generation resolves
    instead of erroring."""
    from us_immigration_data_lake_spark.sources.schema_cache import parquet_schema

    return parquet_schema(spark, path)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Replace ``ts`` with its session-tz TIMESTAMP normalization,
    whatever the physical encoding was."""
    return df.withColumn("ts", event_ts_column(df.schema["ts"].dataType))


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of an events parquet path/glob, ts normalized."""
    enable_nanos_as_long(spark)
    schema = events_file_schema(spark, path)
    return normalize_event_ts(spark.read.schema(schema).parquet(path))


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read over the events table, ts normalized. A file
    stream cannot infer schema, so the batch footer schema of the same
    path is used (driver-side metadata read). The file-stream source
    requires a directory or glob — a bare file path fails with
    "Option 'basePath' must be a directory"."""
    enable_nanos_as_long(spark)
    glob = f"{sf_dir.rstrip('/')}/events*.parquet"
    schema = events_file_schema(spark, glob)
    stream = spark.readStream.schema(schema).parquet(glob)
    return normalize_event_ts(stream)
