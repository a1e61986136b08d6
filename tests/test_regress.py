"""Statistical-modeling operators: OLS, EWMA, exact median / MAD —
closed-form edges the SQL oracles don't isolate."""

from __future__ import annotations

from us_immigration_data_lake_spark.operators.regress import (
    ewma_smooth,
    group_median2,
    groupwise_ols,
    mad_outlier_stats,
)


def test_ols_recovers_exact_line(spark):
    # y = 3x + 7 exactly → slope 3, intercept 7, r² = 1
    rows = [("a", x, 3 * x + 7) for x in range(1, 20)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = groupwise_ols(df, ["g"], "x", "y").collect()[0]
    assert out.n == 19
    assert out.slope_e6 == 3_000_000
    assert out.intercept_e6 == 7_000_000
    assert out.r2_e6 == 1_000_000


def test_ols_flat_series_zero_slope(spark):
    rows = [("a", x, 42) for x in range(1, 11)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = groupwise_ols(df, ["g"], "x", "y").collect()[0]
    assert out.slope_e6 == 0
    assert out.intercept_e6 == 42_000_000
    assert out.r2_e6 is None  # zero y-variance: r² undefined, not 0/0


def test_group_median2_odd_and_even(spark):
    df = spark.createDataFrame(
        [("odd", 1, 1), ("odd", 3, 2), ("odd", 100, 3),
         ("even", 1, 1), ("even", 2, 2), ("even", 3, 3), ("even", 100, 4)],
        ["g", "v", "k"],
    )
    out = {r.g: r.median2 for r in group_median2(df, ["g"], "v", ["k"]).collect()}
    assert out["odd"] == 6   # median 3 → doubled 6
    # even group (1,2,3,100): middles 2,3 → median 2.5 → doubled 5
    assert out["even"] == 5


def test_mad_outliers_flags_only_the_spike(spark):
    # values 10..18 tightly packed plus one 1000 spike
    rows = [("g", v, i) for i, v in enumerate([10, 11, 12, 13, 14, 15, 16, 17, 18, 1000])]
    df = spark.createDataFrame(rows, ["g", "v", "k"])
    out = mad_outlier_stats(df, ["g"], "v", ["k"]).collect()[0]
    # median of 10..18,1000 (10 values) = (14+15)/2 → median2 = 29
    assert out.median2 == 29
    assert out.n == 10
    assert out.n_outliers == 1


def test_ewma_head_renormalizes_and_converges(spark):
    # constant series: EWMA must equal the constant at every position,
    # including the heads where fewer lags exist (renormalization).
    rows = [(1, i, 700) for i in range(6)]
    df = spark.createDataFrame(rows, ["u", "t", "v"])
    out = ewma_smooth(df, ["u"], ["t"], "v").collect()
    assert all(r.ewma_e6 == 700_000_000 for r in out)


def test_ewma_weights_recent_heavier(spark):
    # step series 0,0,0,100: smoothed tail must sit between old and new
    # and closer to the new value (alpha=0.5 → weight .5/.9375 ≈ .533)
    rows = [(1, 0, 0), (1, 1, 0), (1, 2, 0), (1, 3, 100)]
    df = spark.createDataFrame(rows, ["u", "t", "v"])
    out = {r.t: r.ewma_e6 for r in ewma_smooth(df, ["u"], ["t"], "v").collect()}
    assert out[0] == 0
    # 0.5*100 / 0.9375 = 53.333... → 53_333_333 micro-units
    assert out[3] == 53_333_333


# ---------------------------------------------------------------------------
# r9: exact two-sample Kolmogorov-Smirnov drift (ks_two_sample).
# ---------------------------------------------------------------------------


def _py_ks(xs_a, xs_b):
    na, nb = len(xs_a), len(xs_b)
    support = sorted(set(xs_a) | set(xs_b))
    d = 0
    for v in support:
        ca = sum(1 for x in xs_a if x <= v)
        cb = sum(1 for x in xs_b if x <= v)
        d = max(d, abs(nb * ca - na * cb))
    return na, nb, d, na * nb


def test_ks_two_sample_matches_python(spark):
    from us_immigration_data_lake_spark.operators.regress import ks_two_sample

    xs_a = [1, 2, 2, 3, 5, 8, 8, 9, 12, 15]
    xs_b = [2, 3, 3, 4, 4, 6, 7, 20]
    rows = [("a", v) for v in xs_a] + [("b", v) for v in xs_b] + [("c", 99)]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = ks_two_sample(df, "grp", "x", "a", "b").collect()
    assert len(got) == 1
    r = got[0]
    na, nb, dn, dd = _py_ks(xs_a, xs_b)
    assert (r.n_a, r.n_b, r.d_num, r.d_den) == (na, nb, dn, dd)
    assert abs(r.d_stat - dn / dd) < 1e-9


def test_ks_identical_distributions_zero(spark):
    from us_immigration_data_lake_spark.operators.regress import ks_two_sample

    rows = [("a", v) for v in range(50)] + [("b", v) for v in range(50)]
    df = spark.createDataFrame(rows, "grp string, x long")
    r = ks_two_sample(df, "grp", "x", "a", "b").collect()[0]
    assert r.d_num == 0 and r.d_stat == 0.0


def test_ks_disjoint_distributions_one(spark):
    from us_immigration_data_lake_spark.operators.regress import ks_two_sample

    rows = [("a", v) for v in range(10)] + [("b", v + 100) for v in range(7)]
    df = spark.createDataFrame(rows, "grp string, x long")
    r = ks_two_sample(df, "grp", "x", "a", "b").collect()[0]
    assert r.d_num == r.d_den and r.d_stat == 1.0


def test_ks_detects_negative_shift(spark):
    """Negative values exercise global_cumsum's sum-based offsets (a
    max-based offset silently corrupts on negatives)."""
    from us_immigration_data_lake_spark.operators.regress import ks_two_sample

    xs_a = [-50, -40, -30, -20, -10, 0, 10]
    xs_b = [-10, 0, 10, 20, 30, 40, 50]
    rows = [("a", v) for v in xs_a] + [("b", v) for v in xs_b]
    df = spark.createDataFrame(rows, "grp string, x long")
    r = ks_two_sample(df, "grp", "x", "a", "b").collect()[0]
    na, nb, dn, dd = _py_ks(xs_a, xs_b)
    assert (r.d_num, r.d_den) == (dn, dd)


def _py_psi(xs_a, xs_b, lo, width, n_bins):
    import math

    def binof(v):
        return max(0, min(n_bins - 1, (v - lo) // width))

    ca = [0] * n_bins
    cb = [0] * n_bins
    for v in xs_a:
        ca[binof(v)] += 1
    for v in xs_b:
        cb[binof(v)] += 1
    na, nb = len(xs_a), len(xs_b)
    num = 0
    for i in range(n_bins):
        p = (ca[i] + 1) * (nb + n_bins)
        q = (cb[i] + 1) * (na + n_bins)
        num += (p - q) * round(math.log(p / q) * 1e6)
    den = (na + n_bins) * (nb + n_bins) * 1_000_000
    return na, nb, num, den


def test_psi_drift_matches_python(spark):
    from us_immigration_data_lake_spark.operators.regress import psi_drift

    xs_a = [3, 7, 12, 18, 25, 33, 41, 49, 55, 62]
    xs_b = [5, 5, 6, 8, 9, 11, 14, 15]
    rows = [("a", v) for v in xs_a] + [("b", v) for v in xs_b] + [("z", 1)]
    df = spark.createDataFrame(rows, "grp string, x long")
    r = psi_drift(df, "grp", "x", "a", "b", lo=0, width=10, n_bins=8).collect()
    assert len(r) == 1
    na, nb, num, den = _py_psi(xs_a, xs_b, 0, 10, 8)
    got = r[0]
    assert (got.n_bins, got.n_a, got.n_b, got.psi_num, got.psi_den) == (
        8, na, nb, num, den
    )
    assert abs(got.psi - num / den) < 1e-6


def test_psi_identical_zero_and_shift_positive(spark):
    from us_immigration_data_lake_spark.operators.regress import psi_drift

    same = [("a", v % 40) for v in range(120)] + [("b", v % 40) for v in range(120)]
    df = spark.createDataFrame(same, "grp string, x long")
    r0 = psi_drift(df, "grp", "x", "a", "b", lo=0, width=10, n_bins=4).collect()[0]
    assert r0.psi_num == 0
    shifted = [("a", v % 40) for v in range(120)] + [
        ("b", (v % 40) + 30) for v in range(120)
    ]
    df2 = spark.createDataFrame(shifted, "grp string, x long")
    r1 = psi_drift(df2, "grp", "x", "a", "b", lo=0, width=10, n_bins=4).collect()[0]
    assert r1.psi > 0.1  # a gross shift is loud


def test_psi_out_of_range_values_clamp(spark):
    from us_immigration_data_lake_spark.operators.regress import psi_drift

    rows = [("a", -100), ("a", 5), ("b", 10**9), ("b", 5)]
    df = spark.createDataFrame(rows, "grp string, x long")
    r = psi_drift(df, "grp", "x", "a", "b", lo=0, width=10, n_bins=3).collect()[0]
    na, nb, num, den = _py_psi([-100, 5], [10**9, 5], 0, 10, 3)
    assert (r.psi_num, r.psi_den) == (num, den)
