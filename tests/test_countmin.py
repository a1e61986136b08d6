"""Count-min sketch: never-undercount guarantee, ε-bounded overcount,
and cell-sum mergeability."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators.sketches import (
    countmin_build,
    countmin_query,
)


def _skewed(rng, n):
    # zipf-ish: few heavy keys, long tail
    return [int(min(rng.zipf(1.5), 500)) for _ in range(n)]


def test_never_undercounts_and_bounded_overcount(spark):
    rng = np.random.default_rng(21)
    vals = _skewed(rng, 5000)
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["k"])
    sk = countmin_build(df, "k", width=2048)
    keys = spark.createDataFrame([(k,) for k in truth], ["k"])
    est = {r.k: r.est_count for r in countmin_query(sk, keys, "k").collect()}
    n = len(vals)
    eps_bound = int(np.e / 2048 * n) + 1  # ε·N
    for k, true_c in truth.items():
        assert est[k] >= true_c  # CM never undercounts
        assert est[k] <= true_c + 3 * eps_bound  # generous ε band


def test_merge_by_cell_sum_equals_single_build(spark):
    rng = np.random.default_rng(22)
    vals = _skewed(rng, 2000)
    half = len(vals) // 2
    d1 = spark.createDataFrame([(v,) for v in vals[:half]], ["k"])
    d2 = spark.createDataFrame([(v,) for v in vals[half:]], ["k"])
    merged = (
        countmin_build(d1, "k")
        .unionByName(countmin_build(d2, "k"))
        .groupBy("__row", "__bucket")
        .agg(F.sum("__count").cast("long").alias("__count"))
    )
    single = countmin_build(spark.createDataFrame([(v,) for v in vals], ["k"]), "k")
    # two independent collects of machinery-bound sketch builds —
    # thread them (r13 durations profile: 35 s serial)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        fm = ex.submit(merged.collect)
        fs = ex.submit(single.collect)
        m = {(r["__row"], r["__bucket"]): r["__count"] for r in fm.result()}
        s = {(r["__row"], r["__bucket"]): r["__count"] for r in fs.result()}
    assert m == s


def test_weighted_counts(spark):
    df = spark.createDataFrame([("a", 5), ("a", 7), ("b", 1)], ["k", "w"])
    sk = countmin_build(df, "k", weight_col="w")
    keys = spark.createDataFrame([("a",), ("b",), ("zz",)], ["k"])
    est = {r.k: r.est_count for r in countmin_query(sk, keys, "k").collect()}
    assert est["a"] >= 12 and est["b"] >= 1
    # tiny key space: 'zz' may collide but never exceeds total mass
    assert est["zz"] <= 13


def test_negative_weight_raises(spark):
    from pyspark.sql import functions as F
    from us_immigration_data_lake_spark.operators.sketches import (
        countmin_build,
    )

    df = spark.createDataFrame(
        [("a", 3), ("b", -1)], ["k", "w"]
    )
    sk = countmin_build(df, "k", width=64, weight_col="w")
    with pytest.raises(Exception, match="negative weight"):
        sk.collect()


def test_null_weight_counts_as_zero(spark):
    from us_immigration_data_lake_spark.operators.sketches import (
        countmin_build,
        countmin_query,
    )

    df = spark.createDataFrame(
        [("a", 3), ("a", None), ("b", 2)],
        schema="k string, w long",
    )
    sk = countmin_build(df, "k", width=256, weight_col="w")
    keys = df.select("k").distinct()
    est = {
        r["k"]: r["est_count"]
        for r in countmin_query(sk, keys, "k", width=256).collect()
    }
    # NULL weight contributes 0, so totals are still never-under
    assert est["a"] >= 3 and est["b"] >= 2


def test_inner_product_never_undercounts_and_is_tight_when_sparse(spark):
    from us_immigration_data_lake_spark.operators.sketches import (
        countmin_build,
        countmin_inner_product,
    )

    a = spark.createDataFrame([(k,) for k in [1, 1, 2, 3]], ["k"])
    b = spark.createDataFrame([(k,) for k in [1, 3, 3, 9]], ["k"])
    # true inner product: 2*1 (k=1) + 0 (k=2) + 1*2 (k=3) + 0 (k=9) = 4
    sk_a = countmin_build(a, "k", width=2048)
    sk_b = countmin_build(b, "k", width=2048)
    est = countmin_inner_product(sk_a, sk_b, depth=4).collect()[0]
    assert est.est_join_size == 4  # wide sketch, 4 keys → no collisions


def test_inner_product_zero_when_disjoint(spark):
    from us_immigration_data_lake_spark.operators.sketches import (
        countmin_build,
        countmin_inner_product,
    )

    a = spark.createDataFrame([(k,) for k in range(0, 50)], ["k"])
    b = spark.createDataFrame([(k,) for k in range(1000, 1050)], ["k"])
    sk_a = countmin_build(a, "k", width=8)  # tiny → collisions
    sk_b = countmin_build(b, "k", width=8)
    est = countmin_inner_product(sk_a, sk_b, depth=4).collect()[0]
    # disjoint keys but width-8 cells collide: estimate must be >= 0
    # (true 0) and the MIN over rows keeps it from exploding
    assert est.est_join_size >= 0
