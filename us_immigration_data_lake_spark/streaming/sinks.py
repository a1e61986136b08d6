"""foreachBatch sinks (SURVEY.md §2.9): the escape hatch for targets
Structured Streaming has no native connector for — JDBC upserts,
multi-sink fan-out, MERGE-style dedup — while keeping the source-side
offset tracking and recovery of a checkpointed stream.

The exactly-once recipe: Spark guarantees ``batch_id`` is stable across
replays of the same epoch, so a batch function that writes
DETERMINISTICALLY AND IDEMPOTENTLY per batch_id (overwrite-by-batch,
MERGE on key, transactional insert tagged with batch_id) survives the
write-succeeded-but-commit-lost crash window without duplicating rows.
A plain append in foreachBatch does NOT.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    name: str = "foreach_batch",
) -> None:
    """Run a stream to completion (availableNow) through a foreachBatch
    function. ``batch_fn(batch_df, batch_id)`` must be idempotent per
    batch_id — after a crash between sink write and checkpoint commit,
    the next run replays the same batch with the same id."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def exactly_once_parquet_batches(
    stream_df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Replay-safe parquet sink via foreachBatch: every micro-batch
    lands in its own ``batch_id=N`` partition under dynamic partition
    overwrite, so a replayed batch overwrites ITSELF instead of
    appending duplicates — exactly-once APPEND semantics end to end
    without a transactional table format. This is not a key-based
    upsert: a business key re-emitted in a later batch lands in both
    partitions; MERGE-on-key needs a transactional format (Delta/
    Iceberg) or a JDBC MERGE in the batch function.

    Scale shape: each batch's write touches only its own partition
    (dynamic overwrite never lists sibling partitions' data), and the
    partition column is the 8-byte batch id — no skew, no shuffle
    beyond the stream's own plan.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(target_dir)
        )

    run_foreach_batch(stream_df, _write, checkpoint_dir, "parquet_batches")


def incremental_agg_stream(
    stream_df: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    state_dir: str,
    checkpoint_dir: str,
    name: str = "incremental_agg",
) -> None:
    """Streaming incremental view maintenance: fold each micro-batch's
    partial aggregate state into a VERSIONED parquet state store
    (state_dir/v=<batch_id>), using operators/incremental.py's monoid
    merge.

    Exactly-once by construction: version N is a deterministic
    function of (version N-1, batch N), and the write OVERWRITES v=N —
    so a replayed batch (crash between sink write and checkpoint
    commit) recomputes the identical v=N instead of double-counting.
    The "previous" state is always the largest version < batch_id,
    never just "the latest", which on replay could BE the orphaned v=N.

    Scale: per batch this shuffles |delta keys| partial rows plus
    |state| merged rows — never re-aggregates the base data. State
    listing is one LIST per batch through Hadoop's FileSystem API, so
    state_dir may live on any supported scheme (file/hdfs/s3a) — the
    same LIST a transactional format's log would replace.
    """
    from us_immigration_data_lake_spark.operators.incremental import (
        agg_state,
        merge_states,
    )

    _versioned_fold(
        stream_df, state_dir, checkpoint_dir, name,
        lambda batch_df: agg_state(batch_df, keys, sums),
        lambda prev, delta: merge_states(prev, delta, keys),
    )


def _versioned_fold(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    name: str,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """The fold sinks' one versioned-state step: per micro-batch,
    ``build`` the batch's delta state, ``merge`` it into the largest
    version below ``batch_id`` (if any) and overwrite
    ``state_dir/v=<batch_id>`` with the result."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = build(batch_df)
        prev_versions = [
            v for v in _list_versions(spark, state_dir) if v < batch_id
        ]
        if prev_versions:
            prev = spark.read.parquet(f"{state_dir}/v={max(prev_versions)}")
            merged = merge(prev, delta)
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{state_dir}/v={batch_id}")

    run_foreach_batch(stream_df, _fold, checkpoint_dir, name)


def _list_versions(spark, state_dir: str) -> list[int]:
    """v= version numbers under state_dir, via the JVM Hadoop
    FileSystem (NOT os.listdir: the state dir is a Spark path that may
    be hdfs://, s3a://, ... — a POSIX listing would silently see no
    prior state there and the fold would drop history)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return []
    versions = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("v="):
            try:
                versions.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return versions


def read_latest_state(spark, state_dir: str) -> DataFrame:
    """Read the highest-version state written by incremental_agg_stream."""
    versions = _list_versions(spark, state_dir)
    if not versions:
        raise FileNotFoundError(
            f"no v=<batch_id> state versions under {state_dir!r} — the "
            "stream produced no micro-batches (empty source?)"
        )
    return spark.read.parquet(f"{state_dir}/v={max(versions)}")


def hll_distinct_stream(
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    name: str = "hll_distinct",
) -> None:
    """Streaming distinct-count via mergeable HyperLogLog state: each
    micro-batch's registers (operators/sketches.py:hll_registers) are
    MAX-merged into the same versioned parquet state store discipline
    as incremental_agg_stream — version N is a pure function of
    (version N-1, batch N) and overwrites itself, so crash-replay of a
    batch recomputes the identical state instead of corrupting it.

    Because HLL merge is bit-exact associative (max per register),
    the folded estimate after ANY batch split equals the single-pass
    estimate over all data — the property q161's oracle checks by
    replaying the whole computation directly in SQL.

    Scale: per batch the state is at most m rows per group (registers,
    not values); a billion-event stream folds through a fixed-size
    state, where a streaming COUNT(DISTINCT) would need unbounded
    keyed state.
    """
    from us_immigration_data_lake_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    _versioned_fold(
        stream_df, state_dir, checkpoint_dir, name,
        lambda batch_df: hll_registers(batch_df, group_cols, value_col),
        lambda prev, delta: hll_merge(prev, delta, group_cols),
    )


def countmin_stream(
    stream_df: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    name: str = "countmin",
    width: int = 2048,
) -> None:
    """Streaming frequency sketch: each micro-batch's count-min cells
    (operators/sketches.py:countmin_build) SUM-merge into the
    versioned state store. Cell addition is the sketch's merge
    operation (associative, exact integers), so the folded sketch is
    bit-identical to one built over all data — and the never-
    undercount guarantee carries through the fold. Same exactly-once
    versioning discipline as incremental_agg_stream / q127: a replayed
    batch recomputes its version from the PRIOR version and overwrites
    itself.

    Scale: state is at most depth×width cells regardless of stream
    length — the fixed-memory alternative to unbounded keyed counts.
    """
    from us_immigration_data_lake_spark.operators.sketches import countmin_build

    _versioned_fold(
        stream_df, state_dir, checkpoint_dir, name,
        lambda batch_df: countmin_build(batch_df, key_col, width=width),
        lambda prev, delta: (
            prev.unionByName(delta)
            .groupBy("__row", "__bucket")
            .agg(F.sum("__count").cast("long").alias("__count"))
        ),
    )


def vacuum_state(spark, state_dir: str, keep_last: int = 2) -> list[int]:
    """Retention for the versioned state stores written by the fold
    sinks above: delete all but the newest ``keep_last`` versions.
    Returns the version numbers removed.

    Only SUPERSEDED versions are eligible — the newest version is the
    live state and the fold only ever reads the largest version below
    the incoming batch id, so removing older versions can never change
    a future fold (each version is a pure function of its predecessor,
    not of the full history). keep_last >= 2 retains one rollback
    point for the crash window where v=N exists but batch N's
    checkpoint commit was lost: on replay the fold reads v=N-1.

    Uses the JVM Hadoop FileSystem (same reason as _list_versions:
    state_dir may be hdfs://, s3a://, ...).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = sorted(_list_versions(spark, state_dir))
    doomed = versions[:-keep_last] if keep_last < len(versions) else []
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in doomed:
        path = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/v={v}")
        path.getFileSystem(hconf).delete(path, True)
    return doomed


def histogram_stream(
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    lo: int,
    width: int,
    nbins: int,
    name: str = "histogram",
) -> None:
    """Streaming quantile state: each micro-batch's histogram bins
    (operators/sketches.py:histogram_build) SUM-merge into the
    versioned state store — completing the streaming-sketch family
    (q161 HLL max-fold, q162 count-min sum-fold; this is the
    quantile member). Bin counts are exact integers, so the folded
    state is bit-identical to a single-pass build and any quantile
    read from it (histogram_quantile) inherits the ±1-bin bound.
    Same exactly-once versioning discipline as the other folds.

    Scale: state is ≤ nbins rows per group forever — streaming
    percentiles without keeping values.
    """
    from us_immigration_data_lake_spark.operators.sketches import (
        histogram_build,
        histogram_merge,
    )

    _versioned_fold(
        stream_df, state_dir, checkpoint_dir, name,
        lambda batch_df: histogram_build(
            batch_df, group_cols, value_col, lo, width, nbins
        ),
        lambda prev, delta: histogram_merge(prev, delta, group_cols),
    )
