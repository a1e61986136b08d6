"""Structured Streaming slice (SURVEY.md §2.9 — a planned extension;
the reference has zero streaming code, its README only aspires to
"real-time decision making").

File-source streams over the events table: tumbling windows, session
windows, watermarks, memory-sink materialization. In a finite
(availableNow) run, append mode strands every window newer than
[max event time - watermark] in state — so the batch-equivalent
correctness queries use COMPLETE mode, and watermark+append semantics
are exercised separately in tests.

Scale notes: streaming aggregation state lives in the state store,
keyed by (window, group keys) — at 100 TB/day the state key space must
be bounded (hour buckets × event types is fine; never user_id × minute
for unbounded users without TTL). Session windows shuffle on the
session key; watermark bounds state size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from us_immigration_data_lake_spark.sources.events import (
    enable_nanos_as_long,
    events_file_schema,
    normalize_event_ts,
    read_event_stream,  # noqa: F401 — canonical impl moved to sources/events.py
)

# explicit schema — a streaming source cannot infer. Kept for callers
# that stream NON-testdata event files (e.g. incremental_ingest over a
# raw drop zone with nanos ts); testdata streams derive the schema
# from the parquet footer instead (sources/events.py).
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", LongType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])


def tumbling_agg(stream: DataFrame) -> DataFrame:
    """1-hour tumbling-window counts/sums per event type; value
    integer-ized per row (oracle rule 1, plans/queries.py)."""
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "value_c",
        )
    )


def tumbling_agg_append(stream: DataFrame) -> DataFrame:
    """Watermarked (1 hour) tumbling agg over 1-hour windows for APPEND
    output — the mode you run at
    scale: each window is emitted exactly once when the watermark
    passes its end, and its state is dropped (complete mode instead
    rematerializes every window on every trigger and holds all state
    forever). In a finite availableNow run the emitted set is the
    batch-equivalent subset of windows with
    window.end <= max(event time) - watermark; q56 oracle-checks
    exactly that subset."""
    return tumbling_agg(stream.withWatermark("ts", "1 hour"))


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit each key's FIRST-seen row,
    with state bounded by the watermark (``dropDuplicatesWithinWatermark``
    drops a key's state once the watermark passes its event time plus
    the delay — the only way streaming dedup survives 100 TB/day;
    unbounded ``dropDuplicates`` state grows with total distinct keys
    forever).

    The emitted row per key is whichever instance arrived first, which
    depends on file/batch order — so callers wanting a deterministic,
    oracle-checkable result must project to columns that are identical
    across a key's duplicates (here: the keys themselves).

    Dedup is exact only WITHIN the watermark: a key recurring more
    than ``watermark`` of event time after its state was evicted is
    re-emitted. That is the contract at scale (bounded state buys
    bounded memory); a caller comparing against batch DISTINCT over a
    finite multi-batch source must set ``watermark`` wider than the
    source's event-time span so no state is evicted mid-run (q73 does
    exactly this)."""
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    group_cols: tuple[str, ...],
) -> DataFrame:
    """Stream-static broadcast enrichment + aggregation: the streaming
    side joins a STATIC dim frame (re-read per micro-batch, broadcast —
    stateless, no watermark, no join state), then aggregates counts and
    per-row integer-ized value sums by the dim/event attributes. The
    canonical "recode a stream against a lookup table" pattern; at
    scale the only state is the aggregation's, the join itself holds
    none."""
    joined = stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], "inner"
    )
    return joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
    )


def session_agg(stream: DataFrame) -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events are < 10 minutes apart; exported as exact epoch-micros
    bigints."""
    return (
        stream.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Execute the streaming query to completion (availableNow) into a
    memory sink and return the materialized table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def purchase_view_interval_join(stream, how: str = "inner"):
    """Stream-stream interval join: each purchase matched to the same
    user's view events within [purchase - 30 minutes, purchase].

    Both sides carry watermarks so the join state is bounded: a view
    older than the watermark minus the interval can never match a
    future purchase and is evicted. Inner joins emit on match, so a
    finite availableNow run produces the complete batch-equivalent
    result in append mode.

    ``how="leftOuter"``: unmatched purchases additionally emit with
    NULL view columns — but only once the watermark passes their
    event time (from ``v_ts <= p_ts``, no matching view can still
    arrive). The query's global watermark is the MIN over both
    watermarked sides: min(floor-to-ms(max p_ts), floor-to-ms(max
    v_ts)) − delay — whichever stream saw events last does not
    advance the other's clock (verified empirically at two SFs; a
    global-max model provably mispredicts the emitted set). Purchases
    newer than that final watermark stay in state, unemitted, when
    the availableNow run stops — the documented semantics of
    streaming outer joins, not an artifact. The q108 oracle replays
    the same cutoff.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner|leftOuter, got {how!r}")
    from pyspark.sql import functions as F

    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND v_ts >= p_ts - interval 30 minutes "
            "AND v_ts <= p_ts"
        ),
        how,
    )
    return joined.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "view_id",
        F.unix_micros("v_ts").alias("view_ts_us"),
    )


def incremental_ingest(
    spark,
    source_glob: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Checkpointed incremental file ingestion: each availableNow run
    processes ONLY files unseen by the checkpoint — the restart/resume
    contract that makes streaming pipelines operable (a crashed or
    rescheduled job continues from its offsets instead of reprocessing
    100 TB). Returns the number of input rows processed this run.
    """
    enable_nanos_as_long(spark)
    # footer-only metadata read of the source — no data scan
    schema = events_file_schema(spark, source_glob)
    files_before = _committed_sink_files(spark, target_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = normalize_event_ts(reader.parquet(source_glob))
    q = (
        stream.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # rows processed this run = rows in the files THIS run committed to
    # the sink manifest. Counting via progress events is lossy
    # (lastProgress is only the final micro-batch and recentProgress is
    # capped at ~100 entries, so a large backlog under
    # maxFilesPerTrigger undercounts); counting the whole sink before
    # and after is exact but scans 100 TB twice per incremental tick.
    # The manifest diff is exact AND O(new data): only manifests with a
    # batch id newer than the pre-run maximum are parsed (a compaction
    # in that range repeats old entries — subtracting files_before
    # drops them), and parquet count() on just the new files is
    # satisfied from their footers.
    after = _committed_sink_files(
        spark, target_dir, min_batch_exclusive=files_before.max_batch
    )
    new_files = sorted(after.paths - files_before.paths)
    if not new_files:
        return 0
    return spark.read.parquet(*new_files).count()


@dataclass
class _SinkManifest:
    paths: set[str] = field(default_factory=set)
    max_batch: int = -1


def _committed_sink_files(
    spark, target_dir: str, min_batch_exclusive: int = -1
) -> _SinkManifest:
    """Data files the FileStreamSink has committed to ``target_dir``,
    read from its ``_spark_metadata`` manifest — a metadata listing,
    never a data scan. ``min_batch_exclusive`` skips manifests with a
    batch id at or below it, so an incremental caller pays O(new
    batches), not O(sink history). Missing manifest (first run, sink
    not created yet) returns an empty manifest; any OTHER failure —
    corrupt manifest file, unexpected line, permissions — propagates,
    because swallowing it would silently corrupt the rows-processed
    delta.

    Read driver-side through the Hadoop FileSystem API (works on any
    sink the JVM can reach: local, HDFS, s3a). ``spark.read`` cannot do
    this: Spark's file index treats everything under a ``_``-prefixed
    directory as hidden metadata, even when the path is named
    explicitly, and silently yields zero rows."""
    import json
    import re as _re

    jvm = spark._jvm
    meta_path = jvm.org.apache.hadoop.fs.Path(
        f"{target_dir.rstrip('/')}/_spark_metadata"
    )
    fs = meta_path.getFileSystem(spark._jsc.hadoopConfiguration())
    out = _SinkManifest()
    if not fs.exists(meta_path):
        return out
    for status in fs.listStatus(meta_path):
        name = status.getPath().getName()
        if name.startswith("."):  # checksum files
            continue
        batch_id = int(name.removesuffix(".compact"))
        out.max_batch = max(out.max_batch, batch_id)
        if batch_id <= min_batch_exclusive:
            continue
        stream = fs.open(status.getPath())
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        # each batch manifest is a version header ("v1") followed by one
        # JSON SinkFileStatus per line; compacted manifests repeat prior
        # entries, the set dedups them. Anything else is damage — parse
        # it and let json raise rather than skipping a committed file.
        for line in text.splitlines():
            if not line or _re.fullmatch(r"v\d+", line):  # version header
                continue
            entry = json.loads(line)
            if entry.get("action", "add") == "add":
                out.paths.add(entry["path"])
    return out
