"""Streaming slice: tumbling/session windows and the custom stateful
operator must agree with batch-computed equivalents on the finite
events source."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.plans.queries import load_events
from us_immigration_data_lake_spark.streaming import (
    read_event_stream,
    run_to_memory,
    running_user_stats,
    session_agg,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


def test_tumbling_matches_batch(spark):
    stream = read_event_stream(spark, SF)
    got = run_to_memory(tumbling_agg(stream), "t_tumble")
    batch = (
        load_events(spark, SF)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_session_windows_merge_and_count(spark):
    stream = read_event_stream(spark, SF)
    got = run_to_memory(session_agg(stream), "t_sessions")
    rows = got.collect()
    total_events = load_events(spark, SF).count()
    assert sum(r.n_events for r in rows) == total_events  # partition of events
    assert all(r.session_end_us - r.session_start_us >= 600_000_000 for r in rows)


def test_stateful_running_totals_final_state(spark):
    stream = read_event_stream(spark, SF)
    got = run_to_memory(running_user_stats(stream), "t_stateful", mode="update")
    # update-mode memory sink appends every emission; last one per user
    # is the final state — compare against batch totals
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_value_c").alias("c"))
    )
    batch = (
        load_events(spark, SF)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_interval_join_matches_batch(spark):
    from us_immigration_data_lake_spark.streaming.windows import (
        purchase_view_interval_join,
    )

    stream = read_event_stream(spark, SF)
    got = run_to_memory(
        purchase_view_interval_join(stream), "t_ssj", mode="append"
    )
    ev = load_events(spark, SF)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("u2"),
        F.unix_micros("ts").alias("v_us"),
    )
    batch = p.join(
        v,
        (p.user_id == v.u2)
        & (v.v_us >= p.p_us - 1_800_000_000)
        & (v.v_us <= p.p_us),
    )
    assert sorted((r.purchase_id, r.view_id) for r in got.collect()) == sorted(
        (r.purchase_id, r.view_id) for r in batch.collect()
    )


def test_checkpoint_incremental_ingest(spark, tmp_path):
    import shutil

    from us_immigration_data_lake_spark.streaming.windows import incremental_ingest

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "batch1.parquet")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    n1 = incremental_ingest(spark, f"{src}/*.parquet", target, ckpt)
    assert n1 == 1000  # sf0.001 events

    # second run, no new files → nothing reprocessed
    n2 = incremental_ingest(spark, f"{src}/*.parquet", target, ckpt)
    assert n2 == 0

    # drop in a new file → ONLY the new file is processed
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "batch2.parquet")
    n3 = incremental_ingest(spark, f"{src}/*.parquet", target, ckpt)
    assert n3 == 1000
    assert spark.read.parquet(target).count() == 2000


def test_incremental_ingest_totals_across_micro_batches(spark, tmp_path):
    import shutil

    from us_immigration_data_lake_spark.streaming.windows import incremental_ingest

    src = tmp_path / "src2"
    src.mkdir()
    # two input files; cap one file per micro-batch to force multiple
    # batches in a single availableNow run
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "a.parquet")
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "b.parquet")
    n = incremental_ingest(
        spark, f"{src}/*.parquet", str(tmp_path / "o2"), str(tmp_path / "c2"),
        max_files_per_trigger=1,
    )
    assert n == 2000  # sum over BOTH micro-batches, not just the last


def test_committed_sink_files_manifest_semantics(spark, tmp_path):
    """rows-processed is derived from the sink's _spark_metadata
    manifest (O(new files)), never a full-sink scan; a missing sink is
    the empty set, a corrupt manifest raises instead of silently
    yielding a wrong delta."""
    import shutil

    from us_immigration_data_lake_spark.streaming.windows import (
        _committed_sink_files,
        incremental_ingest,
    )

    # missing sink → empty manifest, no error
    empty = _committed_sink_files(spark, str(tmp_path / "nope"))
    assert empty.paths == set() and empty.max_batch == -1

    src = tmp_path / "src3"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "a.parquet")
    target = str(tmp_path / "o3")
    incremental_ingest(spark, f"{src}/*.parquet", target, str(tmp_path / "c3"))
    manifest = _committed_sink_files(spark, target)
    assert manifest.paths and all(f.endswith(".parquet") for f in manifest.paths)
    assert manifest.max_batch == 0
    # the manifest's committed files alone hold every ingested row
    assert spark.read.parquet(*sorted(manifest.paths)).count() == 1000
    # incremental callers skip already-seen batches entirely
    skipped = _committed_sink_files(spark, target, min_batch_exclusive=0)
    assert skipped.paths == set() and skipped.max_batch == 0

    # corrupt manifest → propagate, don't return a wrong answer;
    # both damage shapes: invalid JSON and a truncated non-JSON line
    import json

    import pytest as _pytest

    meta = tmp_path / "o3" / "_spark_metadata"
    (meta / "1").write_text("{not json")
    with _pytest.raises(json.JSONDecodeError):
        _committed_sink_files(spark, target)
    (meta / "1").write_text("v1\ngarbage-truncated-entry")
    with _pytest.raises(json.JSONDecodeError):
        _committed_sink_files(spark, target)


def test_streaming_dedup_with_watermark(spark):
    """Streaming exactly-once event dedup: dropDuplicates on the event
    id inside the watermark window — duplicates injected by unioning
    the stream with itself must collapse back to the original rows."""
    s1 = read_event_stream(spark, SF)
    s2 = read_event_stream(spark, SF)
    doubled = s1.unionByName(s2)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy()
        .count()
    )
    got = run_to_memory(deduped, "t_sdedup", mode="complete")
    n_unique = load_events(spark, SF).count()
    assert got.collect()[0]["count"] == n_unique


def test_foreach_batch_exactly_once_batches(spark, tmp_path):
    import shutil

    from us_immigration_data_lake_spark.streaming import (
        exactly_once_parquet_batches,
    )

    src = tmp_path / "fb_src"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "a.parquet")
    target = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")

    def _stream():
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return (
            spark.readStream.schema(
                spark.read.option(
                    "mergeSchema", "false"
                ).parquet(f"{src}/*.parquet").schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet")
        )

    exactly_once_parquet_batches(_stream(), target, ckpt)
    out = spark.read.parquet(target)
    assert out.count() == 1000
    assert out.select("batch_id").distinct().count() == 1

    # replay safety: blow away the checkpoint so the SAME file streams
    # again as the same batch id — the partition overwrites itself,
    # rows must not duplicate
    shutil.rmtree(ckpt)
    exactly_once_parquet_batches(_stream(), target, ckpt)
    assert spark.read.parquet(target).count() == 1000

    # a genuinely new file lands as a new batch partition, old rows kept
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "b.parquet")
    exactly_once_parquet_batches(_stream(), target, ckpt)
    final = spark.read.parquet(target)
    assert final.count() == 2000
    assert final.select("batch_id").distinct().count() == 2


def test_stream_static_enrich_matches_batch(spark):
    from us_immigration_data_lake_spark.streaming import (
        read_event_stream,
        run_to_memory,
    )
    from us_immigration_data_lake_spark.streaming.windows import (
        stream_static_enrich,
    )

    stream = read_event_stream(spark, SF)
    dim = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    got = run_to_memory(
        stream_static_enrich(
            stream, dim, "user_id", "c_custkey", ("c_mktsegment", "event_type")
        ),
        "t_enrich",
    )
    ev = load_events(spark, SF)
    batch = (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_dedup_collapses_planted_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per key; projecting
    to the keys makes the result order-independent and batch-equal."""
    from us_immigration_data_lake_spark.streaming.windows import stream_dedup

    src = load_events(spark, SF).limit(200)
    dup_dir = str(tmp_path / "dup_events")
    src.union(src).union(src).write.mode("overwrite").parquet(dup_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(dup_dir).schema)
        .parquet(dup_dir)
    )
    got = run_to_memory(
        stream_dedup(stream, ["user_id", "event_type"]),
        "t_stream_dedup",
        mode="append",
    ).collect()
    want = src.select("user_id", "event_type").distinct().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == len(set(map(tuple, got)))  # no key emitted twice


def test_windowed_agg_state_survives_restart(spark, tmp_path):
    """Aggregation STATE recovery: a watermarked tumbling agg runs to a
    parquet sink with a checkpoint, new files arrive, a SECOND
    availableNow run resumes from the checkpoint — emitted windows
    across both runs must equal the batch computation over all data
    restricted to watermark-closed windows, with no duplicates (each
    window emitted exactly once, by whichever run closed it)."""
    from us_immigration_data_lake_spark.streaming.windows import (
        tumbling_agg_append,
    )

    from pyspark.sql.window import Window as W

    ev = load_events(spark, SF)
    total = ev.count()
    # split must be BOTH time-ordered (run 2's rows would otherwise be
    # beyond-watermark late data and get dropped) and deterministic
    # (orderBy+limit re-evaluates with arbitrary tie order; subtract
    # drops duplicates) — rank on (ts, event_id), unique tiebreak
    ranked = ev.withColumn(
        "__rn", F.row_number().over(W.orderBy("ts", "event_id"))
    )
    first = ranked.filter(F.col("__rn") <= total // 2).drop("__rn")
    second = ranked.filter(F.col("__rn") > total // 2).drop("__rn")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        )
        q = (
            tumbling_agg_append(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    # batch equivalent: all windows whose end <= max(ts) - watermark,
    # PLUS any window already emitted by run 1's earlier watermark --
    # emitted-once semantics means run 2 never re-emits them. Closed
    # windows of run 1 are a subset of run 2's (watermark advances), so
    # the union is exactly run 2's closed-window set.
    batch = (
        load_events(spark, SF)
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_c"),
        )
    )
    max_ts = load_events(spark, SF).agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("w.end") <= F.lit(max_ts) - F.expr("interval 1 hour")
    ).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "value_c",
    )
    want = sorted(map(tuple, closed.collect()))
    assert got == want
    assert len(got) == len({(r[0], r[1]) for r in got})  # no window twice


def _batch_cross_pairs(new_df, ref_df, threshold=0.5, **kw):
    """The batch text cross dedup the streaming twin must equal: the
    reference index build, then the probe over a static new frame."""
    from us_immigration_data_lake_spark.operators import dedup as dd

    index = dd.cross_ref_index_frames(ref_df, "doc_id", "text", **kw)["index"]
    return dd.cross_near_dup_pairs_indexed(
        new_df, index, "doc_id", "text", threshold=threshold, **kw
    ).collect()


def _batch_cross_srp_pairs(new_df, ref_df, threshold, dim, num_bits,
                           max_bucket_size=1000):
    """The batch embedding cross dedup: index build, then probe."""
    from us_immigration_data_lake_spark.operators import similarity as sim

    frames = sim.srp_ref_index_frames(
        ref_df, "vec_id", "embedding", dim, num_bits=num_bits,
        max_bucket_size=max_bucket_size,
    )
    return sim.cross_srp_pairs_indexed(
        new_df, frames["index"], "vec_id", "embedding", threshold=threshold,
        dim=dim, num_bits=frames["num_bits"],
    ).collect()


def test_stream_cross_dedup_multibatch_equals_batch(spark, tmp_path):
    """stream_cross_near_dup_pairs over a MULTI-FILE source forced to
    one-file micro-batches (maxFilesPerTrigger=1) must emit exactly the
    batch operator's pair set: per-row signature arithmetic can't see
    batch boundaries and the pair-dedup state spans batches (a pair
    whose band collisions straddle two batches must not double-emit)."""
    from us_immigration_data_lake_spark.streaming.dedup import (
        stream_cross_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    new_rows = [(1, base), (3, near), (5, "totally unrelated words about rivers")]
    ref_rows = [(10, base), (12, "other reference content nothing matches")]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    ref_df = spark.createDataFrame(ref_rows, ["doc_id", "text"])

    src = str(tmp_path / "newdocs")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    new_df.filter(F.col("doc_id") <= 1).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    new_df.filter(F.col("doc_id") > 1).coalesce(1).write.parquet(
        src, mode="append"
    )

    stream = (
        spark.readStream.schema(new_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pairs = stream_cross_near_dup_pairs(
        stream, ref_df, "doc_id", "text", shingle_n=3, num_hashes=32,
        bands=16, threshold=0.5, portable=True,
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("x_cross_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.id_new, r.id_ref): r.jaccard
        for r in spark.table("x_cross_dedup").collect()
    }
    want = {
        (r.id_new, r.id_ref): r.jaccard
        for r in _batch_cross_pairs(
            new_df, ref_df, shingle_n=3, num_hashes=32, bands=16,
            portable=True,
        )
    }
    assert got == want
    assert (1, 10) in got and got[(1, 10)] == 1.0
    assert len(got) == len(spark.table("x_cross_dedup").collect())  # no dup emits


def test_stream_cross_srp_dedup_multibatch_equals_batch(spark, tmp_path):
    """The SEMANTIC streaming twin: stream_cross_srp_near_dup_pairs
    over a multi-file source forced to one-file micro-batches must
    emit exactly the batch index-build-and-probe pair set — per-row SRP
    signatures can't see batch boundaries, and with ONE bucket per
    vector there is no cross-batch state at all (the append stream
    carries no dropDuplicates)."""
    import math

    from us_immigration_data_lake_spark.streaming.dedup import (
        stream_cross_srp_near_dup_pairs,
    )

    dim = 8

    def vec(seedling, flip=0.0):
        v = [math.sin(seedling + 0.7 * i) for i in range(dim)]
        v[0] += flip
        return [float(x) for x in v]

    new_rows = [(1, vec(0.3)), (3, vec(0.3, 0.01)), (5, vec(9.1))]
    ref_rows = [(10, vec(0.3)), (12, vec(4.4))]
    new_df = spark.createDataFrame(new_rows, "vec_id long, embedding array<float>")
    ref_df = spark.createDataFrame(ref_rows, "vec_id long, embedding array<float>")

    src = str(tmp_path / "newvecs")
    new_df.filter(F.col("vec_id") <= 1).coalesce(1).write.parquet(src, mode="overwrite")
    new_df.filter(F.col("vec_id") > 1).coalesce(1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(new_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pairs = stream_cross_srp_near_dup_pairs(
        stream, ref_df, "vec_id", "embedding", threshold=0.9, dim=dim,
        num_bits=4,
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("x_srp_cross")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("x_srp_cross").collect()
    got = {(r.id_new, r.id_ref): r.cosine_sim for r in rows}
    want = {
        (r.id_new, r.id_ref): r.cosine_sim
        for r in _batch_cross_srp_pairs(
            new_df, ref_df, threshold=0.9, dim=dim, num_bits=4,
        )
    }
    assert got == want
    assert (1, 10) in got and got[(1, 10)] == 1.0  # exact dup, cosine exact
    assert len(rows) == len(got)  # no dup emits across micro-batches


def test_cross_srp_indexed_matches_unindexed(spark):
    """srp_ref_index_frames + cross_srp_pairs_indexed (the one cross
    path the streaming twin shares) emits exactly the (id_new, id_ref,
    cosine_sim) rows the former separately implemented unindexed
    operator emitted on these inputs, pinned literally from it."""
    import math

    dim = 8
    rows = [
        (i, [float(math.cos(s + 0.5 * j)) for j in range(dim)])
        for i, s in enumerate([0.1, 0.1, 2.3, 2.31, 7.7, 5.2, 0.11, 9.9])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    new_df = df.filter(F.col("vec_id") % 2 == 1)
    ref_df = df.filter(F.col("vec_id") % 2 == 0)
    got = {
        (r.id_new, r.id_ref, r.cosine_sim)
        for r in _batch_cross_srp_pairs(
            new_df, ref_df, threshold=0.8, dim=dim, num_bits=4,
            max_bucket_size=2,
        )
    }
    assert got == {(1, 0, 1.0), (1, 6, 0.999965), (3, 2, 0.999956)}


def test_stream_cross_dedup_watermark_bounds_pair_state(spark, tmp_path):
    """r8 verdict ask #6: the watermarked variant of the streaming text
    cross-dedup must (a) emit the same pairs as the batch operator on
    in-order input and (b) actually EVICT pair-dedup state as the
    watermark advances — the unbounded default holds every pair ever
    emitted; the bounded form holds only the delay window's."""
    from datetime import datetime

    from us_immigration_data_lake_spark.streaming.dedup import (
        stream_cross_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (1, base, datetime(2026, 1, 1, 10, 0)),
        (2, near, datetime(2026, 1, 1, 12, 0)),
        (3, base, datetime(2026, 1, 1, 14, 0)),
    ]
    sch = "doc_id long, text string, ts timestamp"
    new_df = spark.createDataFrame(rows, sch)
    ref_df = spark.createDataFrame(
        [(10, base)], ["doc_id", "text"]
    )

    src = str(tmp_path / "wmdocs")
    for i in (1, 2, 3):  # three files -> three micro-batches
        new_df.filter(F.col("doc_id") == i).coalesce(1).write.parquet(
            src, mode="overwrite" if i == 1 else "append"
        )

    stream = (
        spark.readStream.schema(new_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pairs = stream_cross_near_dup_pairs(
        stream, ref_df, "doc_id", "text", shingle_n=3, num_hashes=32,
        bands=16, threshold=0.5, portable=True,
        event_time_col="ts", watermark_delay="30 minutes",
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("x_wm_cross_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.id_new, r.id_ref): r.jaccard
        for r in spark.table("x_wm_cross_dedup").collect()
    }
    want = {
        (r.id_new, r.id_ref): r.jaccard
        for r in _batch_cross_pairs(
            new_df.drop("ts"), ref_df, shingle_n=3, num_hashes=32,
            bands=16, portable=True,
        )
    }
    assert got == want and len(got) == 3  # (1,10) (2,10) (3,10)

    # state eviction: each batch's event time outruns the previous
    # watermark by > the 30-minute delay, so earlier pair keys must be
    # REMOVED from the dedup state — the state never holds all 3 pairs
    removed = total = 0
    for p in q.recentProgress:
        for op in p["stateOperators"]:
            removed += op.get("numRowsRemoved", 0) or 0
            total = max(total, op.get("numRowsTotal", 0) or 0)
    assert removed >= 1, "watermark never evicted any pair-dedup state"
    assert total < 3, f"state held all pairs at once (numRowsTotal={total})"


def test_stream_classify_multibatch_equals_batch(spark, tmp_path):
    """naive_bayes_classify_rowwise over a multi-file stream
    (maxFilesPerTrigger=1) must emit exactly the batch classifier's
    rows: the scorer is a pure per-row expression — no joins, no
    state — so micro-batch boundaries are invisible."""
    from us_immigration_data_lake_spark.operators import training as tr

    rows = [
        (0, "alpha alpha noise", 0), (2, "bravo bravo word", 1),
        (4, "charlie charlie thing", 2), (6, "alpha alpha blah", 0),
        (8, "bravo bravo stuff", 1), (10, "charlie charlie item", 2),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string, y long")
    model = tr.naive_bayes_model(train, "doc_id", "text", "y", num_buckets=32)

    new_rows = [(1, "alpha crisp"), (3, "bravo blur"), (5, "charlie czar")]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    src = str(tmp_path / "clsdocs")
    for i, (d, _t) in enumerate(new_rows):  # one file per doc -> 3 batches
        new_df.filter(F.col("doc_id") == d).coalesce(1).write.parquet(
            src, mode="overwrite" if i == 0 else "append"
        )
    stream = (
        spark.readStream.schema(new_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        tr.naive_bayes_classify_rowwise(
            stream, model, "doc_id", "text", num_buckets=32
        )
        .writeStream.format("memory")
        .queryName("x_stream_classify")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.pred_class, r.score_micro)
        for r in spark.table("x_stream_classify").collect()
    }
    want = {
        r.doc_id: (r.pred_class, r.score_micro)
        for r in tr.naive_bayes_classify(
            new_df, model, "doc_id", "text", num_buckets=32
        ).collect()
    }
    assert got == want
    assert [got[d][0] for d in (1, 3, 5)] == [0, 1, 2]  # markers recovered
    # zero streaming state: no state operators at all
    for p in q.recentProgress:
        assert not p["stateOperators"]
