"""Round-4 operators: audit, basket, order-stats, sketches, CDC diff,
rolling distinct — semantic edges the SQL oracles don't isolate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators.aggregate import (
    rolling_distinct_count,
)
from us_immigration_data_lake_spark.operators.audit import (
    profile_table,
    referential_audit,
)
from us_immigration_data_lake_spark.operators.basket import cooccurrence_pairs
from us_immigration_data_lake_spark.operators.history import snapshot_diff
from us_immigration_data_lake_spark.operators.joins import as_of_join
from us_immigration_data_lake_spark.operators.orderstats import (
    skyline_2d,
    weighted_median,
)
from us_immigration_data_lake_spark.operators.sketches import (
    bloom_build_bits,
    bloom_probe,
)


def test_referential_audit_counts_orphans_not_nulls(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    row = referential_audit([("c->p", child, "fk", parent, "pk")]).collect()[0]
    # NULL fk is neither a child row nor an orphan
    assert (row.relationship, row.child_rows, row.orphan_rows) == ("c->p", 3, 1)


def test_profile_numeric_min_max_not_lexicographic(spark):
    df = spark.createDataFrame([(9,), (10,), (100,), (None,)], ["x"])
    row = profile_table(df, ["x"]).collect()[0]
    # lexicographic order would give min='10', max='9'
    assert (row.n_rows, row.n_nulls, row.n_distinct) == (4, 1, 3)
    assert (row.min_str, row.max_str) == ("9", "100")


def test_basket_multiplicity_and_cap(spark):
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, ["g", "i"])
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in cooccurrence_pairs(df, "g", "i").collect()
    }
    # duplicate (1, a) counts once -> (a, b) appears in groups 1 and 2
    assert got == {("a", "b"): 2}
    # a cap of 1 drops every multi-item group
    assert (
        cooccurrence_pairs(df, "g", "i", max_group_size=1).count() == 0
    )


def test_asof_forward_tie_and_tolerance(spark):
    left = spark.createDataFrame([(1, 100), (1, 300), (1, 900)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 100, "at"), (1, 350, "after"), (1, 2000, "far")],
        ["k", "rts", "v"],
    )
    out = {
        r.ts: r.v
        for r in as_of_join(
            left, right, ["k"], "ts", "rts", ["v"],
            direction="forward", tolerance=500,
        ).collect()
    }
    # equal ts matches (inclusive); 300->350 within tolerance;
    # 900->2000 exceeds tolerance -> NULL, row preserved
    assert out == {100: "at", 300: "after", 900: None}


def test_asof_forward_earliest_tiebreak(spark):
    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 20, 7, "late-tb"), (1, 20, 3, "early-tb")],
        ["k", "rts", "tb", "v"],
    )
    out = as_of_join(
        left, right, ["k"], "ts", "rts", ["v"],
        tiebreak="tb", direction="forward",
    ).collect()
    assert out[0].v == "early-tb"


def test_snapshot_diff_null_transitions(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (3, "c"), (5, "e")], ["k", "v"]
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    # value->NULL is a change, NULL==NULL is not, unchanged emits nothing
    assert got == {1: "changed", 4: "removed", 5: "added"}


def test_rolling_distinct_window_arithmetic(spark):
    d = datetime.date
    rows = [
        (d(2024, 1, 1), "u1"),
        (d(2024, 1, 1), "u2"),
        (d(2024, 1, 5), "u1"),
        (d(2024, 1, 20), "u3"),
    ]
    df = spark.createDataFrame(rows, ["d", "u"])
    got = {
        r.d: r.n_distinct
        for r in rolling_distinct_count(df, "d", "u", window_days=7).collect()
    }
    # Jan 5 window [Dec 30, Jan 5] sees u1+u2; Jan 20 sees only u3
    assert got == {d(2024, 1, 1): 2, d(2024, 1, 5): 2, d(2024, 1, 20): 1}


def test_weighted_median_tie_merge(spark):
    # weights: v=1 -> 3, v=2 -> 1, total 4; cum(1)=3, 3*2 >= 4 -> median 1
    df = spark.createDataFrame(
        [("g", 1, 2), ("g", 1, 1), ("g", 2, 1)], ["grp", "v", "w"]
    )
    row = weighted_median(df, ["grp"], "v", "w").collect()[0]
    assert (row.w_median, row.total_weight) == (1, 4)


def test_skyline_duplicates_survive_and_matches_bruteforce(spark):
    pts = [(i, (i * 37) % 101, (i * 53) % 97) for i in range(200)]
    pts += [(900, 0, 200), (901, 0, 200)]  # exact duplicates on the frontier
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = sorted(
        r.id for r in skyline_2d(df, "x", "y", bucket_width=10).collect()
    )
    brute = sorted(
        a[0]
        for a in pts
        if not any(
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
            for b in pts
        )
    )
    assert got == brute and 900 in got and 901 in got


def test_bloom_no_false_negatives_and_determinism(spark):
    build = spark.range(0, 500).select(F.col("id").alias("k"))
    probe = spark.range(0, 2000).select(F.col("id").alias("k"))
    bits = bloom_build_bits(build, "k", num_bits=4096)
    out1 = bloom_probe(bits, probe, "k", num_bits=4096)
    members_missed = out1.filter((F.col("k") < 500) & ~F.col("might_match"))
    assert members_missed.count() == 0
    # deterministic across rebuilds (md5 positions, no RNG)
    out2 = bloom_probe(
        bloom_build_bits(build, "k", num_bits=4096),
        probe, "k", num_bits=4096,
    )
    assert sorted(map(tuple, out1.collect())) == sorted(
        map(tuple, out2.collect())
    )


def test_snapshot_diff_null_keyed_rows_classified_by_side(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    old = spark.createDataFrame([(None, "ghost-old"), (1, "a")], schema)
    new = spark.createDataFrame([(None, "ghost-new"), (1, "a")], schema)
    got = sorted(
        (r.k, r.change_type)
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    )
    # NULL-keyed rows never join: old's reports removed, new's added
    assert got == [(None, "added"), (None, "removed")]


def test_referential_audit_duplicate_parent_keys_no_fanout(spark):
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], ["id", "fk"])
    parent = spark.createDataFrame([(10,), (10,), (20,)], ["pk"])
    row = referential_audit([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (row.child_rows, row.orphan_rows) == (3, 1)


def test_rolling_distinct_rejects_nonpositive_window(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(datetime.date(2024, 1, 1), "u")], ["d", "u"])
    with _pytest.raises(ValueError, match="window_days"):
        rolling_distinct_count(df, "d", "u", window_days=0)


def test_bloom_contract_duplicate_probe_rows_count_once(spark):
    from us_immigration_data_lake_spark.operators.sketches import bloom_contract

    build = spark.createDataFrame([(1,), (2,)], ["k"])
    probe = spark.createDataFrame([(1,), (1,), (3,), (3,), (None,)], ["k"])
    row = bloom_contract(build, probe, "k", "k", num_bits=64).collect()[0]
    # per distinct non-null key: members {1}, non-members {3}
    assert (row.n_members, row.member_misses, row.n_non_members) == (1, 0, 1)


def test_binned_range_join_reserved_word_column(spark):
    from us_immigration_data_lake_spark.operators.joins import binned_range_join

    points = spark.createDataFrame([(1, 5)], ["pid", "order"])
    intervals = spark.createDataFrame([(10, 0, 10)], ["iid", "from", "end"])
    got = binned_range_join(
        points, intervals, "order", "from", "end", bin_width=4
    ).collect()
    assert [(r.pid, r.iid) for r in got] == [(1, 10)]


def test_triangle_count_known_graph(spark):
    from us_immigration_data_lake_spark.operators.graph import (
        canonical_edges,
        triangle_count,
    )

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 5
    raw = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    raw += [(4, 5), (5, 4), (1, 1)]  # reversed dup + self-loop noise
    df = spark.createDataFrame(raw, ["s", "d"])
    edges = canonical_edges(df, "s", "d")
    assert edges.count() == 7  # C(4,2) + the 4-5 pendant
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_canonical_edges_hub_cap(spark):
    # star: hub 0 connects to 1..9; capping degree 5 drops all hub edges
    from us_immigration_data_lake_spark.operators.graph import canonical_edges

    df = spark.createDataFrame([(0, i) for i in range(1, 10)], ["s", "d"])
    assert canonical_edges(df, "s", "d", max_degree=5).count() == 0
    assert canonical_edges(df, "s", "d").count() == 9
