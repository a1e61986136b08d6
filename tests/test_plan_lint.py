"""Plan linter: known-bad plans produce the right findings, and the
repo's own gate queries stay clean of error-severity findings."""

from __future__ import annotations

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.plans.lint import (
    CARTESIAN_EXEMPT,
    UNION_AGG_EXEMPT,
    lint_plan,
    lint_report,
    unexempted_error_rules,
)
from us_immigration_data_lake_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _rules(findings, severity=None):
    return {
        f.rule
        for f in findings
        if severity is None or f.severity == severity
    }


def _no_broadcast(spark):
    import contextlib

    @contextlib.contextmanager
    def ctx():
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    return ctx()


def test_cartesian_product_flagged(spark):
    # tiny inputs broadcast by default (BroadcastNestedLoopJoin); turn
    # broadcasting off to get the true CartesianProduct plan
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    with _no_broadcast(spark):
        findings = lint_plan(a.crossJoin(b))
    assert "cartesian-product" in _rules(findings, "error")


def test_nested_loop_join_flagged(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    findings = lint_plan(a.crossJoin(b))
    assert "nested-loop-join" in _rules(findings, "warn")


def test_python_udf_flagged(spark):
    from pyspark.sql.types import LongType

    bad = F.udf(lambda x: x + 1, LongType())
    findings = lint_plan(spark.range(10).select(bad("id").alias("y")))
    assert "python-udf" in _rules(findings, "error")


def test_global_sort_without_limit_flagged(spark):
    # sort by an expression: Range's natural ordering satisfies a plain
    # orderBy("id") and Catalyst removes that sort entirely
    findings = lint_plan(
        spark.range(100).orderBy((F.col("id") % 7).alias("k"))
    )
    assert "global-sort" in _rules(findings, "warn")


def test_topk_not_flagged_as_global_sort(spark):
    findings = lint_plan(spark.range(100).orderBy("id").limit(5))
    assert "global-sort" not in _rules(findings)


def test_clean_aggregate_has_no_errors(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert _rules(lint_plan(df), "error") == set()


def test_shuffle_count_reported(spark):
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    info = [f for f in lint_plan(df) if f.rule == "shuffle-count"]
    assert len(info) == 1 and "Exchange" in info[0].message


def test_report_orders_errors_first(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    with _no_broadcast(spark):
        report = lint_report(a.crossJoin(b))
    assert report.index("[ERROR") < report.index("[INFO")


_SWEEP_FUTURE = None


def _registry_sweep(spark):
    # REGISTRY-WIDE gate (r5, promoted from the r2–r4 bench-only
    # sweep per the r4 verdict): every registered batch query's
    # physical plan must carry zero error-severity findings, except
    # the documented contract-capped cross joins in CARTESIAN_EXEMPT.
    # Streaming-tagged queries are skipped: building their DataFrame
    # EXECUTES the stream to a memory sink (minutes of wall for zero
    # plan signal — the memory table's plan is a local scan); their
    # plan discipline is enforced by tests/test_streaming.py and the
    # bounded-state arguments in SCALE.md.
    # Plan builds + explainString are driver/JVM work that threads
    # interleave fine — the serial sweep cost 75 s (r9 durations
    # profile); the pool form is the parity suite's prefetch idiom.
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        # error-with-exemptions incl. the union-agg escalation (r13
        # verdict ask #2), single-sourced in plans/lint.py so this
        # gate and scripts/lint_registry.py cannot drift
        name, spec = item
        return name, unexempted_error_rules(
            name, lint_plan(spec.fn(spark, SF))
        )

    batch = [
        (n, s) for n, s in QUERIES.items() if "streaming" not in s.tags
    ]
    with ThreadPoolExecutor(max_workers=12) as ex:
        return {n: e for n, e in ex.map(check, batch) if e}


def start_background_sweep(spark, nodeids, executor):
    # launched at collection-finish (conftest hook, r12 verdict ask
    # #6) so the full-registry lint overlaps the parity prefetch, the
    # empty sweep and the front of the suite
    global _SWEEP_FUTURE
    if any("test_registry_lints_clean" in n for n in nodeids):
        _SWEEP_FUTURE = executor.submit(_registry_sweep, spark)


def test_registry_lints_clean(spark):
    if _SWEEP_FUTURE is not None:
        failures = _SWEEP_FUTURE.result(timeout=1800)
    else:
        failures = _registry_sweep(spark)
    assert failures == {}


def test_union_partitioned_aggregate_flagged(spark):
    """r13 wrong-results root-cause as a permanent gate. The measured
    bad variant: a keyed aggregate over a union whose children BOTH
    end in a repartition on the key, composed into a self-join of the
    union against its own aggregate — the aggregate skips its
    exchange and emits one group per union child (the trainers'
    gradients silently doubled). The linter flags the tree shape as a
    WARN (the identical tree is provably sound in six green sketch
    queries whose runtime exchanges differ — the decider is the AQE
    final plan, invisible to a tree heuristic); the hard gate is the
    VALUE regression below: the shipped hashed_token_features (bias
    branch unspread) must self-join 1:1 against its own per-doc
    aggregate."""
    from us_immigration_data_lake_spark.functions.hashing import md5_long
    from us_immigration_data_lake_spark.operators.dedup import spread_by_id
    from us_immigration_data_lake_spark.operators.training import (
        hashed_token_features,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("text").isNotNull())
    base = spread_by_id(docs, "doc_id").select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t]+"),
            lambda t: t != F.lit(""),
        ).alias("__toks"),
    )
    feats_bad = (
        base.select("doc_id", F.explode("__toks").alias("__t"))
        .select(
            "doc_id", F.pmod(md5_long("__t"), F.lit(512)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bias_bad = base.select(
        "doc_id",
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    z_bad = feats_bad.unionByName(bias_bad).groupBy("doc_id").agg(
        F.sum("cnt").alias("s")
    )
    assert "union-partitioned-aggregate" in _rules(lint_plan(z_bad), "warn")

    good = hashed_token_features(docs, "doc_id", "text")
    z_good = good.groupBy("doc_id").agg(F.sum("cnt").alias("s"))
    assert "union-partitioned-aggregate" not in _rules(lint_plan(z_good))
    # THE regression: the self-join composition that doubled on the
    # old shape (u ⋈ agg(u) produced 2x rows because agg(u) emitted
    # one group per union child) must be exactly 1:1 on the fix —
    # uncached, the production state after any eviction
    assert good.join(z_good, "doc_id").count() == good.count()
    assert z_good.groupBy("doc_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_union_agg_walker_stops_at_sibling_subtree():
    """r13 advisor: the first-child walk was a flat line scan — after
    a transparent BINARY node it could fall out of the first child's
    subtree and flag a Union on the sibling/build side, which does
    not feed the aggregate's distribution. The walk now follows only
    strictly-deeper lines (a transparent op always has a child, so
    the next line of a followed node is its first child)."""
    from us_immigration_data_lake_spark.plans.lint import (
        _union_partitioned_aggregate,
    )

    # Union is the JOIN'S SECOND CHILD (same depth as the first):
    # never on the aggregate's distribution path -> must NOT flag
    sibling = "\n".join([
        "HashAggregate (5)",
        "+- HashAggregate (4)",
        "   +- BroadcastHashJoin (3)",
        "      :- Project (2)",
        "      +- Union (1)",
    ])
    assert not _union_partitioned_aggregate(sibling)

    # straight first-child chain through transparent ops -> still
    # flagged (the real r13 trainer shape)
    chain = "\n".join([
        "HashAggregate (6)",
        "+- HashAggregate (5)",
        "   +- Project (4)",
        "      +- BroadcastHashJoin (3)",
        "         :- Generate (2)",
        "         :  +- Union (1)",
        "         +- BroadcastExchange (0)",
    ])
    assert _union_partitioned_aggregate(chain)


# ---------------------------------------------------------------------------
# r13 verdict ask #2: the six registry queries sharing the trainers'
# bug TREE shape (keyed aggregate directly over a Union — the
# union-partitioned-aggregate lint warn), adjudicated sound by their
# runtime behavior in r13, now carry that adjudication as a GATE.
# The decisive invariant is group CARDINALITY at runtime: the r13
# bug emitted one group per union child (u ⋈ agg(u) counted 2x), so
# each shape's union-fed aggregate must emit EXACTLY one row per
# group key on real executed data. Plan text cannot decide this —
# the final AQE plan legitimately keeps the no-exchange shape when
# the claim is true — so the gate executes the composition.
# ---------------------------------------------------------------------------

# single-sourced with the registry sweep's error-with-exemptions rule
# (plans/lint.py) so the gate and the adjudication list cannot drift
UNION_AGG_SHAPES = tuple(sorted(UNION_AGG_EXEMPT))


def _n_dup_groups(df, keys):
    return df.groupBy(*keys).count().filter(F.col("count") > 1).count()


def test_union_agg_shapes_lint_inventory(spark):
    """Pin the shape inventory: exactly these six registry queries
    trip the union-partitioned-aggregate warn. A NEW query growing
    the set must be adjudicated (add its runtime-cardinality case
    below) — warn-severity lint alone does not gate it."""
    flagged = sorted(
        n for n in UNION_AGG_SHAPES
        if "union-partitioned-aggregate"
        in _rules(lint_plan(QUERIES[n].fn(spark, SF)))
    )
    assert flagged == sorted(UNION_AGG_SHAPES)


def test_union_agg_shapes_runtime_cardinality(spark):
    """Execute each adjudicated shape's union-fed aggregate (the
    exact composition its registry query builds) and assert one row
    per group — the runtime decider the r13 verdict asked to encode."""
    from us_immigration_data_lake_spark.operators.incremental import (
        agg_state,
        merge_states,
    )
    from us_immigration_data_lake_spark.operators.sketches import (
        histogram_build,
        histogram_merge,
        hll_merge,
        hll_registers,
        kmv_hashes,
        kmv_union,
    )
    from us_immigration_data_lake_spark.plans.queries import _cents

    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    # q121: merge_states(base, delta) re-aggregates a union of two
    # agg_state frames keyed o_custkey
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey", "o_orderdate", _cents(F.col("o_totalprice")).alias("c")
    )
    merged = merge_states(
        agg_state(orders.filter(F.col("o_orderdate") < "1999-01-01"),
                  ["o_custkey"], {"t": "c"}),
        agg_state(orders.filter(F.col("o_orderdate") >= "1999-01-01"),
                  ["o_custkey"], {"t": "c"}),
        ["o_custkey"],
    )
    assert _n_dup_groups(merged, ["o_custkey"]) == 0

    # q142: kmv_union's distinct over the unioned hash sets, keyed
    # (group, __h)
    sk_a = kmv_hashes(li.filter(F.col("l_returnflag") == "A"),
                      ["l_linestatus"], "l_partkey")
    sk_b = kmv_hashes(li.filter(F.col("l_returnflag") == "R"),
                      ["l_linestatus"], "l_partkey")
    assert _n_dup_groups(kmv_union(sk_a, sk_b, ["l_linestatus"]),
                         ["l_linestatus", "__h"]) == 0

    # q156: hll_merge over two register frames, keyed (group, __j)
    g = ["l_returnflag"]
    hm = hll_merge(
        hll_registers(li.filter(F.col("l_linenumber") <= 3), g, "l_orderkey"),
        hll_registers(li.filter(F.col("l_linenumber") > 3), g, "l_orderkey"),
        g,
    )
    assert _n_dup_groups(hm, [*g, "__j"]) == 0

    # q169: the same merge with NO group columns (global grand
    # aggregate over the union), keyed __j alone
    hm0 = hll_merge(
        hll_registers(li.filter(F.col("l_linenumber") <= 3), [], "l_orderkey"),
        hll_registers(li.filter(F.col("l_linenumber") > 3), [], "l_orderkey"),
        [],
    )
    assert _n_dup_groups(hm0, ["__j"]) == 0

    # q165: histogram_merge cell addition, keyed (group, bin)
    lic = li.withColumn("cents", _cents(F.col("l_extendedprice")))
    hg = histogram_merge(
        histogram_build(lic.filter(F.col("l_linenumber") <= 3), g,
                        "cents", 0, 2_000_00, 64),
        histogram_build(lic.filter(F.col("l_linenumber") > 3), g,
                        "cents", 0, 2_000_00, 64),
        g,
    )
    assert _n_dup_groups(hg, [*g, "bin"]) == 0

    # q197: the PassJoin branch union's dropDuplicates — the query
    # output itself is keyed (id1, id2)
    pairs = QUERIES["q197_edit_distance_join"].fn(spark, SF)
    assert _n_dup_groups(pairs, ["id1", "id2"]) == 0
