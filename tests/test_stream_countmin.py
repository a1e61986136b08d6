"""Streaming count-min fold: cell-sum merge across micro-batches is
bit-identical to a single-pass build, and replay cannot double-count."""

from __future__ import annotations

import shutil

from us_immigration_data_lake_spark.operators.sketches import (
    countmin_build,
    countmin_query,
)
from us_immigration_data_lake_spark.streaming.sinks import (
    countmin_stream,
    read_latest_state,
)

W = 64  # tiny width → real collisions exercised


def _write_batches(spark, src_dir):
    batches = [
        [(k,) for k in [1, 1, 1, 2, 3]],
        [(k,) for k in [1, 2, 2, 4]],
        [(k,) for k in [3, 3, 5, 1]],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["k"]).coalesce(1).write.parquet(
            f"{src_dir}/f{i}", mode="overwrite"
        )


def _run(spark, src_dir, state_dir, ckpt_dir, name):
    stream = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/f*")
    )
    countmin_stream(
        stream, "k", state_dir, ckpt_dir, name=name, width=W
    )


def _cells(df):
    return {(r["__row"], r["__bucket"]): r["__count"] for r in df.collect()}


import pytest


@pytest.fixture(scope="module")
def folded_run(spark, tmp_path_factory):
    """One shared 3-batch fold: the single-pass-equality and
    never-undercount tests read the SAME folded state (identical
    input, identical params — rerunning the stream per test bought
    no independence, only ~17 s; r11 durations profile)."""
    root = tmp_path_factory.mktemp("cm_shared")
    src, state, ckpt = (
        str(root / "src"), str(root / "state"), str(root / "ckpt")
    )
    _write_batches(spark, src)
    _run(spark, src, state, ckpt, "cm_shared_fold")
    return src, state


def test_folded_cells_equal_single_pass(spark, folded_run):
    src, state = folded_run
    folded = _cells(read_latest_state(spark, state))
    all_rows = spark.read.schema("k bigint").parquet(f"{src}/f*")
    direct = _cells(countmin_build(all_rows, "k", width=W))
    assert folded == direct


def test_folded_estimates_never_undercount(spark, folded_run):
    src, state = folded_run
    sketch = read_latest_state(spark, state)
    keys = spark.createDataFrame([(k,) for k in [1, 2, 3, 4, 5]], ["k"])
    est = {
        r.k: r.est_count
        for r in countmin_query(sketch, keys, "k", width=W).collect()
    }
    truth = {1: 5, 2: 3, 3: 3, 4: 1, 5: 1}
    for k, t in truth.items():
        assert est[k] >= t, (k, est[k], t)


def test_replay_does_not_double_count(spark, tmp_path):
    src, state, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    _write_batches(spark, src)
    _run(spark, src, state, ckpt, "cm_first")
    before = _cells(read_latest_state(spark, state))
    shutil.rmtree(ckpt)
    _run(spark, src, state, ckpt, "cm_replay")
    after = _cells(read_latest_state(spark, state))
    assert after == before


def test_vacuum_keeps_fold_correct(spark, tmp_path):
    from us_immigration_data_lake_spark.streaming.sinks import vacuum_state

    src, state, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    _write_batches(spark, src)
    _run(spark, src, state, ckpt, "cm_vac")
    removed = vacuum_state(spark, state, keep_last=1)
    assert removed == [0, 1]  # three batches → v=0,1 superseded
    # live state unchanged by the vacuum
    all_rows = spark.read.schema("k bigint").parquet(f"{src}/f*")
    direct = _cells(countmin_build(all_rows, "k", width=W))
    assert _cells(read_latest_state(spark, state)) == direct
    # and a NEW batch still folds from the retained version
    spark.createDataFrame([(1,)], ["k"]).coalesce(1).write.parquet(
        f"{src}/f3", mode="overwrite"
    )
    _run(spark, src, state, ckpt, "cm_vac2")
    est = countmin_query(
        read_latest_state(spark, state),
        spark.createDataFrame([(1,)], ["k"]),
        "k", width=W,
    ).collect()[0]
    assert est.est_count >= 6  # 5 before + 1 new


def test_vacuum_validates_keep_last(spark, tmp_path):
    import pytest

    from us_immigration_data_lake_spark.streaming.sinks import vacuum_state

    with pytest.raises(ValueError, match="keep_last"):
        vacuum_state(spark, str(tmp_path / "none"), keep_last=0)
