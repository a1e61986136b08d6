"""``operators.storage.scope()``: every cache and eager checkpoint the
engine makes is owned by the innermost open scope and released when it
exits, except the checkpoints a handed-off frame reads."""

from __future__ import annotations

import time

import numpy as np
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import dedup as dd
from us_immigration_data_lake_spark.operators import storage


@pytest.fixture
def quiet(spark):
    """A session with no background sweep pinning storage concurrently
    and an empty CacheManager."""
    from conftest import wait_for_background_sweeps

    wait_for_background_sweeps()
    spark.catalog.clearCache()
    return spark


def stored_ids(spark) -> set:
    """Ids of the RDDs the block manager reports as stored."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def settled(check, timeout: float = 30.0) -> bool:
    """Poll ``check`` until it holds: releases do not block, so the
    block manager catches up asynchronously."""
    deadline = time.monotonic() + timeout
    while not check():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def test_scope_releases_its_pins_on_exit(quiet):
    spark = quiet
    base = stored_ids(spark)
    with storage.scope() as s:
        c = storage.cache(spark.range(10).withColumn("x", F.col("id") * 2))
        assert c.count() == 10
        k = storage.checkpoint(spark.range(7))
        assert s.caches == [c] and s.checkpoints == [k]
        assert rdd_id(k) in stored_ids(spark)
        assert not cache_empty(spark)
    assert cache_empty(spark)
    assert settled(lambda: stored_ids(spark) - base == set())


def test_scope_releases_on_error(quiet):
    spark = quiet
    base = stored_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with storage.scope():
            storage.cache(spark.range(5)).count()
            storage.checkpoint(spark.range(6))
            raise RuntimeError("boom")
    assert cache_empty(spark)
    assert settled(lambda: stored_ids(spark) - base == set())


def test_pins_without_a_scope_are_the_bare_calls(quiet):
    spark = quiet
    c = storage.cache(spark.range(3))
    k = storage.checkpoint(spark.range(4))
    c.count()
    assert not cache_empty(spark)
    assert rdd_id(k) in stored_ids(spark)
    c.unpersist(blocking=True)
    k._jdf.queryExecution().analyzed().rdd().unpersist(True)


def test_hand_off_moves_read_checkpoints_to_the_enclosing_scope(quiet):
    spark = quiet
    base = stored_ids(spark)
    with storage.scope() as outer:
        with storage.scope() as inner:
            a = storage.checkpoint(spark.range(10))
            b = storage.checkpoint(spark.range(5))
            # a self-join still reads ``a`` as a LogicalRDD leaf
            out = inner.hand_off(
                a.alias("x").join(a.alias("y"), F.col("x.id") == F.col("y.id"))
            )
        assert outer.checkpoints == [a]
        assert out.count() == 10
        assert rdd_id(a) in stored_ids(spark)
        assert rdd_id(b) not in stored_ids(spark)
    assert settled(lambda: stored_ids(spark) - base == set())


def test_hand_off_sees_checkpoints_read_by_a_subquery(quiet):
    spark = quiet
    with storage.scope() as outer:
        with storage.scope() as inner:
            keys = storage.checkpoint(
                spark.range(3).withColumnRenamed("id", "k")
            )
            keys.createOrReplaceTempView("scope_keys")
            out = inner.hand_off(spark.sql(
                "SELECT id FROM range(10) WHERE id IN (SELECT k FROM scope_keys)"
            ))
        assert outer.checkpoints == [keys]
        assert sorted(r.id for r in out.collect()) == [0, 1, 2]
    spark.catalog.dropTempView("scope_keys")


def test_frame_derived_from_a_released_checkpoint_fails_on_read(quiet):
    spark = quiet
    with storage.scope():
        k = storage.checkpoint(spark.range(50, numPartitions=2))
        derived = k.filter(F.col("id") > 3)
    assert settled(lambda: rdd_id(k) not in stored_ids(spark))
    with pytest.raises(Py4JJavaError):
        derived.count()


def test_connected_components_loop_releases_superseded_rounds(quiet, monkeypatch):
    spark = quiet
    edges = [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(edges, ["id1", "id2"])
    local = {r.id: r.cluster for r in dd.connected_components(pairs).collect()}

    monkeypatch.setattr(dd, "CC_LOCAL_EDGE_LIMIT", 0)  # force the loop
    base = stored_ids(spark)
    with storage.scope() as s:
        labels = dd.connected_components(pairs)
        # the edge checkpoint and every superseded round are gone; the
        # returned labels moved into this scope and are still readable
        assert s.checkpoints == [labels]
        assert settled(lambda: stored_ids(spark) - base == {rdd_id(labels)})
        assert {r.id: r.cluster for r in labels.collect()} == local
    assert settled(lambda: stored_ids(spark) - base == set())


def _embedding_frames(spark):
    rng = np.random.RandomState(11)
    dim = 8
    ref_proto = rng.randn(dim)
    within_proto = rng.randn(dim)
    new_rows = [
        (1, (ref_proto + rng.randn(dim) * 0.001).tolist()),
        (3, (within_proto + rng.randn(dim) * 0.001).tolist()),
        (5, (within_proto + rng.randn(dim) * 0.001).tolist()),
        (7, rng.randn(dim).tolist()),
        (9, [1.0, 2.0]),
    ]
    ref_rows = [(0, ref_proto.tolist()), (2, rng.randn(dim).tolist())]
    schema = "vec_id long, embedding array<double>"
    return (spark.createDataFrame(new_rows, schema),
            spark.createDataFrame(ref_rows, schema))


def test_embedding_increment_releases_srp_signatures_per_scope(quiet):
    from us_immigration_data_lake_spark.pipelines.corpus import (
        update_embedding_increment,
    )

    spark = quiet
    new_df, ref_df = _embedding_frames(spark)
    base = stored_ids(spark)
    for _ in range(3):
        with storage.scope() as s:
            final, _st = update_embedding_increment(
                new_df, ref_df, threshold=0.9,
                dim=8, num_bits=4,
            )
            # the cross-stage signature checkpoints moved here: final
            # reads them after the pipeline's own scope closed
            assert s.checkpoints
            assert {r.vec_id for r in final.collect()} == {3, 7}
        assert cache_empty(spark)
        assert settled(lambda: stored_ids(spark) - base == set())


def test_repeated_corpus_builds_and_epochs_keep_storage_flat(quiet):
    from us_immigration_data_lake_spark.operators.sampling import (
        training_order_epochs,
    )
    from us_immigration_data_lake_spark.pipelines.corpus import (
        build_training_corpus,
    )

    spark = quiet
    text = "the quick brown fox jumps over the lazy dog and runs away {}"
    docs = spark.createDataFrame(
        [(i, text.format(w)) for i, w in enumerate(
            ["today", "today", "tonight", "tomorrow", "at noon", "later"]
        )] + [(9, "completely different text about mountains and rivers")],
        ["doc_id", "text"],
    )
    scored = spark.createDataFrame(
        [(i, f"s{i % 3}", (i % 10) / 10, 5 + i % 4) for i in range(40)],
        "doc_id long, source string, q double, sz long",
    )
    base = stored_ids(spark)
    for _ in range(5):
        with storage.scope():
            corpus, _st = build_training_corpus(
                docs, min_quality=0.4, chunk_tokens=8, overlap=2,
            )
            assert corpus.collect()
        assert settled(lambda: stored_ids(spark) - base == set())
        with storage.scope() as s:
            order = training_order_epochs(
                scored, "doc_id", "source", "q", "sz",
                cap=10, alpha=0.5, epochs=2,
            )
            assert len(order.collect()) == 60
            # the capped and policy caches, the binned checkpoint and
            # each epoch's row-number checkpoint are the caller's: they
            # serve the collect above
            assert len(s.caches) == 2 and len(s.checkpoints) == 3
        assert settled(lambda: stored_ids(spark) - base == set())
    assert cache_empty(spark)


def test_corpus_build_that_raises_leaves_no_cache(quiet):
    from us_immigration_data_lake_spark.pipelines.corpus import (
        build_training_corpus,
    )

    spark = quiet
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again")],
        ["doc_id", "text"],
    )
    # no text column: decontamination fails after ``gated`` is cached
    benchmark = spark.createDataFrame([(100, "x")], ["doc_id", "body"])
    with pytest.raises(AnalysisException, match="text"):
        build_training_corpus(docs, min_quality=0.0, benchmark=benchmark)
    assert cache_empty(spark)


def test_joint_builders_pin_into_the_callers_scope(quiet):
    spark = quiet
    rng = np.random.RandomState(5)
    base_text = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [(i, base_text + f" w{i % 3}", rng.randn(4).tolist())
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    base = stored_ids(spark)
    with storage.scope() as s:
        out = dd.joint_near_dup_survivors(
            df, "doc_id", "text", "embedding", dim=4, shingle_n=2,
            num_hashes=16, bands=8,
        )
        assert out.count() == 8
        # both builders ran on their own threads: the text side's two
        # caches, the SRP side's bucket cache and signature checkpoint
        assert len(s.caches) == 3 and len(s.checkpoints) == 1
    assert cache_empty(spark)
    assert settled(lambda: stored_ids(spark) - base == set())


def test_pins_from_many_context_copies_all_reach_the_scope(quiet):
    """Threads run under ``contextvars.copy_context()`` (the
    joint-dedup builders' form) append to the caller's scope at once:
    no pin may be lost, so every cache is released on exit."""
    import contextvars
    import sys
    import threading

    spark = quiet
    frames = [spark.range(i + 1) for i in range(40)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with storage.scope() as s:
            threads = [
                threading.Thread(
                    target=contextvars.copy_context().run,
                    args=(lambda part: [storage.cache(f) for f in part],
                          frames[t::8]),
                )
                for t in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert len(s.caches) == len(frames)
    finally:
        sys.setswitchinterval(old)
    assert cache_empty(spark)
