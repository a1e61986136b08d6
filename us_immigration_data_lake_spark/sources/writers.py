"""Partition-aware parquet sink.

Generalizes the reference's writes (SURVEY.md §2.1 S6/S7):
``df.write.mode('overwrite').parquet(path)`` at etl.py:221,273,396 and
the partitioned ARRIVALDATE write at etl.py:336 — which contains a path
bug (``output_data + 's3a://…'`` concatenates two URI roots). Central
path handling here prevents that class of bug.

Scale notes:
- ``partition_by`` columns should be low-cardinality date-ish keys so
  read-side partition pruning works (etl.py:336 partitions by
  year+month — the right instinct; we keep it).
- ``target_file_partitions`` lets callers coalesce/repartition before
  writing so they don't produce millions of tiny files at 100 TB
  (small-files is the top operational failure of naive lake writers).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame


def compact_parquet(spark, path: str) -> int:
    """Rewrite a parquet dataset into ~256 MB snappy files.

    The small-files problem (a streaming sink or over-parallel write
    leaving thousands of KB-sized objects) degrades every later scan:
    per-file open cost, footer reads, and scheduler overhead dominate.
    Compaction = read → repartition to ceil(bytes/256 MB) → swap.
    Returns the new file-partition count.

    LOCAL FILESYSTEM ONLY (same-device renames): the swap is
    new-written-to-temp → original renamed aside → temp renamed in →
    backup deleted, so a crash at any point leaves a complete copy of
    the data on disk (possibly under the ``__old`` name — recoverable,
    never lost). Object stores need a table format (Delta/Iceberg
    rewrite+commit) instead; URIs are rejected up front.
    """
    import math
    import os
    import shutil
    import uuid

    if "://" in path:
        raise ValueError(
            "compact_parquet only supports local paths (atomic renames); "
            "use a table format's compaction on object storage"
        )
    df = spark.read.parquet(path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n = max(1, math.ceil(total_bytes / (256 * 1024 * 1024)))
    token = uuid.uuid4().hex[:8]
    tmp = f"{path.rstrip('/')}__compact_{token}"
    backup = f"{path.rstrip('/')}__old_{token}"
    df.repartition(n).write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(tmp)
    os.rename(path, backup)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(backup, path)  # restore; tmp left for inspection
        raise
    shutil.rmtree(backup)
    return n


def write_table(
    df: DataFrame,
    base_path: str,
    table: str,
    fmt: str = "parquet",
    **kwargs,
) -> str:
    """Format-dispatching sink. Delta is supported when the delta-spark
    package is on the classpath; otherwise a clear error instead of a
    cryptic ClassNotFound at executor time.

    Install attempted and impossible in this build environment:
    ``pip install delta-spark`` fails with DNS resolution errors (no
    network egress), so the gate below is the permanent state here and
    the Delta path carries no round-trip test. The write call itself is
    the standard ``format("delta")`` API — nothing engine-specific
    remains untested behind the gate."""
    if fmt == "parquet":
        return write_parquet(df, base_path, table, **kwargs)
    if fmt in ("csv", "json"):
        # interchange sinks: CSV mirrors the reference's `;`-separated
        # ingest dialect (sources/readers.py) so a written table reads
        # back through the same reader; JSON is line-delimited (one
        # object per line — the splittable layout, never a JSON array).
        # Both compress with gzip by default: at 100 TB the sink's
        # network/storage write dominates, and text formats are 5-10×
        # parquet's footprint uncompressed.
        path = posixpath.join(base_path.rstrip("/"), table)
        writer = df.write.mode(kwargs.get("mode", "overwrite")).option(
            "compression", kwargs.get("compression", "gzip")
        )
        if partition_by := kwargs.get("partition_by"):
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer.option("header", "true").option(
                "sep", kwargs.get("sep", ";")
            ).csv(path)
        else:
            writer.json(path)
        return path
    if fmt == "orc":
        # columnar interchange sink: ORC ships IN Spark (no extra
        # package), keeps predicate pushdown + column pruning like
        # parquet — for estates standardized on Hive/Trino ORC. Same
        # partition_by contract as the parquet sink.
        path = posixpath.join(base_path.rstrip("/"), table)
        writer = df.write.mode(kwargs.get("mode", "overwrite"))
        if partition_by := kwargs.get("partition_by"):
            writer = writer.partitionBy(*partition_by)
        writer.orc(path)
        return path
    if fmt == "delta":
        try:
            import delta  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "delta-spark is not installed in this environment; "
                "install delta-spark and configure "
                "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
            ) from exc
        path = posixpath.join(base_path.rstrip("/"), table)
        df.write.format("delta").mode(kwargs.get("mode", "overwrite")).save(path)
        return path
    raise ValueError(f"unsupported format: {fmt}")


def write_parquet(
    df: DataFrame,
    base_path: str,
    table: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_file_partitions: int | None = None,
    compression: str = "snappy",
) -> str:
    path = posixpath.join(base_path.rstrip("/"), table)
    out = df
    if target_file_partitions is not None:
        if partition_by:
            # co-locate rows of one output partition into one task/file
            out = out.repartition(target_file_partitions, *partition_by)
        else:
            out = out.repartition(target_file_partitions)
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path
