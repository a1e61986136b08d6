"""Token-budget mixture fill and the linear quality classifier:
hand-computed greedy boundaries and exact-integer scoring edges."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators.sampling import token_budget_fill
from us_immigration_data_lake_spark.operators.textstats import (
    linear_quality_classifier,
    text_features,
)


def _fill(spark, rows, permille, default=500):
    df = spark.createDataFrame(rows, ["src", "id", "tokens"])
    return token_budget_fill(df, "src", "id", "tokens", permille, default)


def test_greedy_fill_matches_hand_order(spark):
    # ids 1..4, 10 tokens each, total 40; 50% budget = 20 tokens →
    # the two lowest-md5 ids are kept, the boundary doc is NOT
    # (cum_before of doc 3 in hash order is 20, not < 20)
    rows = [("s", i, 10) for i in range(1, 5)]
    kept = {r.id for r in _fill(spark, rows, {}, default=500).collect()}
    order = sorted(range(1, 5), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    assert kept == set(order[:2])


def test_boundary_doc_is_kept_on_overshoot(spark):
    # one 100-token doc, 1% budget (1 token): cum_before=0 < 1 → kept;
    # greedy fill always takes the crossing document
    kept = _fill(spark, [("s", 1, 100)], {"s": 10}).collect()
    assert len(kept) == 1 and kept[0].budget == 1


def test_zero_budget_takes_nothing(spark):
    assert _fill(spark, [("s", 1, 100)], {"s": 0}).count() == 0


def test_per_group_budgets_independent(spark):
    rows = [("a", i, 10) for i in range(4)] + [("b", i, 10) for i in range(4)]
    out = _fill(spark, rows, {"a": 1000, "b": 250})
    by = {}
    for r in out.collect():
        by.setdefault(r.src, []).append(r)
    assert len(by["a"]) == 4  # 100% budget keeps everything
    assert len(by["b"]) == 1  # 10 of 40 tokens → first hash-ordered doc


def test_classifier_integer_logit_and_empty_doc(spark):
    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "")], ["doc_id", "text"]
    )
    w = {"uniq_pm": 1, "stop_pm": 1, "len_cap": 1, "meanlen_milli": 1}
    out = {
        r.doc_id: r
        for r in linear_quality_classifier(
            text_features(docs, "doc_id", "text"), w, bias_mu=0
        ).collect()
    }
    # doc 1: uniq_pm=250, stop_pm=1000, len_cap=4, meanlen_milli=3000
    assert out[1].logit_mu == 250 + 1000 + 4 + 3000
    # empty doc: every ratio defined as 0, logit == bias
    assert out[2].logit_mu == 0 and out[2].keep


def test_classifier_threshold_splits(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x x x x")], ["doc_id", "text"]
    )
    w = {"uniq_pm": 1, "stop_pm": 0, "len_cap": 0, "meanlen_milli": 0}
    out = {
        r.doc_id: r.keep
        for r in linear_quality_classifier(
            text_features(docs, "doc_id", "text"), w, bias_mu=-500
        ).collect()
    }
    assert out[1] is True  # uniq_pm 1000 - 500 >= 0
    assert out[2] is False  # uniq_pm 250 - 500 < 0


def test_interpolate_fill_hand_case(spark):
    from us_immigration_data_lake_spark.operators.windows import (
        interpolate_fill,
    )

    rows = [("u", 0, 100), ("u", 4, 300), ("u", 6, 0)]
    df = spark.createDataFrame(rows, ["k", "slot", "v"])
    out = {
        r.slot: (r.value, r.is_observed)
        for r in interpolate_fill(df, "k", "slot", "v").collect()
    }
    # rising gap 100→300 over 4 slots: +50/slot
    assert out[0] == (100, True)
    assert out[1] == (150, False)
    assert out[2] == (200, False)
    assert out[3] == (250, False)
    assert out[4] == (300, True)
    # falling gap 300→0 over 2 slots: floor(-300*1/2) = -150
    assert out[5] == (150, False)
    assert out[6] == (0, True)


def test_interpolate_fill_floor_on_negative_slope(spark):
    from us_immigration_data_lake_spark.operators.windows import (
        interpolate_fill,
    )

    # delta -7 over 2 slots: floor(-7/2) = -4 → 10-4 = 6 (NOT 10-3)
    df = spark.createDataFrame([("u", 0, 10), ("u", 2, 3)], ["k", "slot", "v"])
    out = {r.slot: r.value for r in interpolate_fill(df, "k", "slot", "v").collect()}
    assert out[1] == 6


def test_interpolate_fill_keys_independent(spark):
    from us_immigration_data_lake_spark.operators.windows import (
        interpolate_fill,
    )

    df = spark.createDataFrame(
        [("a", 0, 0), ("a", 2, 2), ("b", 10, 100)], ["k", "slot", "v"]
    )
    out = interpolate_fill(df, "k", "slot", "v").collect()
    assert {(r.k, r.slot) for r in out} == {("a", 0), ("a", 1), ("a", 2), ("b", 10)}


def test_sharded_fill_bounds_overshoot_per_shard(spark):
    # the documented 100 TB layout: shard each stratum by a hash
    # prefix and fill per (stratum, shard) — implemented as the SAME
    # operator over a composite group column. Overshoot is bounded by
    # one document per SHARD; the total never falls below the exact
    # budget share minus sharding granularity.
    import hashlib

    from pyspark.sql import functions as F

    from us_immigration_data_lake_spark.operators.sampling import (
        token_budget_fill,
    )

    rows = [("s", i, 10) for i in range(64)]  # 640 tokens, one stratum
    df = spark.createDataFrame(rows, ["src", "id", "tokens"]).withColumn(
        "shard",
        F.concat(F.col("src"), F.lit("#"), (F.col("id") % 4).cast("string")),
    )
    kept = token_budget_fill(
        df, "shard", "id", "tokens", {}, default_permille=500
    )
    out = kept.collect()
    total = sum(r.tokens for r in out)
    # each of 4 shards holds 160 tokens, budget 80; greedy overshoot
    # <= 1 doc (10 tokens) per shard → total in [320, 360]
    assert 320 <= total <= 360, total
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, 0)
        per_shard[r.shard] += r.tokens
    assert all(80 <= v <= 90 for v in per_shard.values()), per_shard
