"""Edge semantics for the KMV sketch, constraint report, and sequence
pattern counting that the sf0.01 oracles don't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators.audit import constraint_report
from us_immigration_data_lake_spark.operators.sketches import kmv_distinct


def test_kmv_below_k_is_exact(spark):
    # 5 distinct values with k=64 → sketch must report the exact count
    df = spark.createDataFrame([("g", v % 5) for v in range(50)], ["g", "v"])
    out = kmv_distinct(df, ["g"], "v").collect()[0]
    assert out.est_distinct == 5
    assert out.kth_hash is None


def test_kmv_ignores_nulls(spark):
    rows = [("g", v) for v in [1, 2, 3]] + [("g", None)] * 4
    df = spark.createDataFrame(rows, "g string, v int")
    out = kmv_distinct(df, ["g"], "v").collect()[0]
    assert out.est_distinct == 3  # NULLs carry no distinct meaning


def test_kmv_estimate_within_relative_error(spark):
    # 2000 distinct values, k=64 → expected relative error ~1/sqrt(62)
    # ≈ 13%; assert a generous 3-sigma band (the estimator is exact
    # arithmetic, so this bound is stable for a fixed hash function).
    df = spark.createDataFrame([(1, v) for v in range(2000)], ["g", "v"])
    out = kmv_distinct(df, ["g"], "v").collect()[0]
    assert 1200 <= out.est_distinct <= 2800


def test_constraint_report_without_unique_key(spark):
    df = spark.createDataFrame([(1,), (2,), (-3,)], ["v"])
    out = constraint_report(df, {"neg": F.col("v") < 0}).collect()[0]
    assert (out.n_rows, out.neg) == (3, 1)
    assert "dup_key_groups" not in out.asDict()


def test_constraint_report_counts_dup_groups_not_rows(spark):
    # key 1 appears 3× (ONE dup group), key 2 once
    df = spark.createDataFrame([(1, "a"), (1, "b"), (1, "c"), (2, "d")],
                               ["k", "x"])
    out = constraint_report(
        df, {"never": F.lit(False)}, unique_key=["k"]
    ).collect()[0]
    assert out.dup_key_groups == 1  # groups, not the 3 offending rows


def test_constraint_null_predicate_not_counted_as_violation(spark):
    # SUM(CASE WHEN cond ...) semantics: a NULL predicate result must
    # count as non-violation, not explode or count as true.
    df = spark.createDataFrame([(None,), (5,)], "v int")
    out = constraint_report(df, {"big": F.col("v") > 3}).collect()[0]
    assert (out.n_rows, out.big) == (2, 1)
