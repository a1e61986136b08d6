"""KMV sketch algebra: merge closure, union estimates, and the
k-min-values Jaccard estimator — validated against exact set math."""

from __future__ import annotations

import numpy as np

from us_immigration_data_lake_spark.operators.sketches import (
    kmv_estimate,
    kmv_hashes,
    kmv_jaccard,
    kmv_union,
)


def _sets_df(spark, a_vals, b_vals):
    a = spark.createDataFrame([("g", v) for v in a_vals], ["g", "v"])
    b = spark.createDataFrame([("g", v) for v in b_vals], ["g", "v"])
    return kmv_hashes(a, ["g"], "v"), kmv_hashes(b, ["g"], "v")


def test_union_estimate_exact_below_k(spark):
    sk_a, sk_b = _sets_df(spark, range(0, 30), range(20, 50))
    u = kmv_union(sk_a, sk_b, ["g"])
    est = kmv_estimate(u, ["g"]).collect()[0]
    assert est.est_distinct == 50  # |0..49| exactly (below k)


def test_union_estimate_within_error_above_k(spark):
    sk_a, sk_b = _sets_df(spark, range(0, 1200), range(800, 2000))
    u = kmv_union(sk_a, sk_b, ["g"])
    est = kmv_estimate(u, ["g"]).collect()[0]
    # true union 2000; k=64 → σ ≈ 1/sqrt(62) ≈ 13%; allow 3σ
    assert 1200 <= est.est_distinct <= 2800


def test_jaccard_exact_when_union_below_k(spark):
    # |A∩B| = 10, |A∪B| = 50 → J = 0.2 exactly (union fits in k)
    sk_a, sk_b = _sets_df(spark, range(0, 30), range(20, 50))
    out = kmv_jaccard(sk_a, sk_b, ["g"]).collect()[0]
    assert out.n_union_kept == 50
    assert out.n_both == 10
    assert out.jaccard_permille == 200


def test_jaccard_estimator_above_k(spark):
    # A = 0..999, B = 500..1499 → J = 500/1500 = 0.333
    sk_a, sk_b = _sets_df(spark, range(0, 1000), range(500, 1500))
    out = kmv_jaccard(sk_a, sk_b, ["g"]).collect()[0]
    assert out.n_union_kept == 64
    # binomial σ ≈ sqrt(J(1-J)/k) ≈ 0.06 → 3σ band
    assert 150 <= out.jaccard_permille <= 520


def test_merge_is_associative_and_idempotent(spark):
    sk_a, sk_b = _sets_df(spark, range(0, 100), range(50, 150))
    u1 = kmv_union(sk_a, sk_b, ["g"])
    u2 = kmv_union(sk_b, sk_a, ["g"])
    h1 = sorted(r["__h"] for r in u1.select("__h").collect())
    h2 = sorted(r["__h"] for r in u2.select("__h").collect())
    assert h1 == h2  # commutative
    self_u = kmv_union(sk_a, sk_a, ["g"])
    assert sorted(r["__h"] for r in self_u.select("__h").collect()) == sorted(
        r["__h"] for r in sk_a.select("__h").collect()
    )  # idempotent
