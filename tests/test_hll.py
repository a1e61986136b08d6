"""HyperLogLog sketch: estimator accuracy, merge closure (bit-exact),
duplicate insensitivity, and the portable rho computation's edge bits."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators.sketches import (
    hll_bitlen_sql,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _vals(spark, n, prefix="v"):
    return spark.range(n).select(
        F.lit("g").alias("g"), F.concat(F.lit(prefix), F.col("id")).alias("v")
    )


def test_estimate_within_3_sigma(spark):
    # m=64 → relative stderr ≈ 1.04/8 = 13%; allow 3σ around n=10000
    df = _vals(spark, 10000)
    est = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()[0]
    assert 6100 <= est.est_distinct <= 13900


def test_duplicates_do_not_change_state(spark):
    df = _vals(spark, 5000)
    tripled = df.unionAll(df).unionAll(df)
    one = {
        (r["g"], r["__j"], r["max_rho"])
        for r in hll_registers(df, ["g"], "v").collect()
    }
    three = {
        (r["g"], r["__j"], r["max_rho"])
        for r in hll_registers(tripled, ["g"], "v").collect()
    }
    assert one == three


def test_merge_is_bit_exact_vs_direct(spark):
    df = _vals(spark, 8000)
    direct = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()
    a = hll_registers(df.filter(F.col("id") % 2 == 0), ["g"], "v")
    b = hll_registers(df.filter(F.col("id") % 2 == 1), ["g"], "v")
    merged = hll_estimate(hll_merge(a, b, ["g"]), ["g"]).collect()
    assert [r.est_distinct for r in direct] == [r.est_distinct for r in merged]


def test_merge_with_overlap_counts_union(spark):
    # A = 0..5999, B = 4000..9999 → union 10000, not 12000
    a = hll_registers(_vals(spark, 6000), ["g"], "v")
    b = _vals(spark, 10000).filter(F.col("v").substr(2, 10).cast("long") >= 4000)
    b_regs = hll_registers(b, ["g"], "v")
    est = hll_estimate(hll_merge(a, b_regs, ["g"]), ["g"]).collect()[0]
    assert 6100 <= est.est_distinct <= 13900


def test_state_bounded_by_m(spark):
    df = _vals(spark, 50000)
    n_regs = hll_registers(df, ["g"], "v").count()
    assert n_regs <= 64


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [("g", "a"), ("g", None), ("g", "b")], ["g", "v"]
    )
    regs = hll_registers(df, ["g"], "v")
    # exact: only 2 non-null values → at most 2 registers hit
    assert regs.count() <= 2


def test_bitlen_case_chain_edges(spark):
    # the float-log2 trap: values at and just below powers of two
    cases = [(0, 0), (1, 1), (2, 2), (3, 2), ((1 << 53) - 1, 53), (1 << 53, 54)]
    df = spark.createDataFrame([(v,) for v, _ in cases], ["w"])
    got = {
        r.w: r.bl
        for r in df.select(
            "w", F.expr(hll_bitlen_sql("w", 54)).alias("bl")
        ).collect()
    }
    for v, expect in cases:
        assert got[v] == expect, (v, got[v], expect)
