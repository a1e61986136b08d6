"""``operators.storage.local_frame``: driver-held rows as a JVM
LocalRelation. Pins parity with ``createDataFrame`` for the schema of
every engine call site that builds a frame from Python rows, the plan
shape (no LogicalRDD, hence no Python workers per action), and a
source scan that keeps list-fed ``createDataFrame`` and raw storage
pins (``storage.cache``/``storage.checkpoint`` own every one) out of
the engine."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_immigration_data_lake_spark.operators import dedup as dd
from us_immigration_data_lake_spark.operators.storage import local_frame

PKG = os.path.join(os.path.dirname(__file__), "..", "us_immigration_data_lake_spark")


def _census_schema(spark) -> T.StructType:
    # the real dedup census schema: an aggregate's count is NOT NULL
    return (
        spark.range(3)
        .select(F.col("id").cast("int").alias("band_idx"), F.col("id").alias("band_hash"))
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"), F.min("band_hash").alias("anchor_id"))
        .schema
    )


def _cases(spark):
    """(call site, schema, rows) for every converted call site."""
    cc = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("cluster", T.LongType()),
    ])
    census = _census_schema(spark)
    return [
        ("sas_labels numeric / visa dim", "code bigint, label string",
         [(1, "Business"), (2, None)]),
        ("sas_labels string", "code string, label string",
         [("CA", "CALIFORNIA"), ("99", "All Other Codes")]),
        ("cleaning.recode_via_broadcast_map", ["__rk", "__rv"],
         [("US", "United States"), ("MX", "Mexico")]),
        ("windows.global_row_number (global_cumsum of one column)",
         "__pid int, __off___one long", [(0, 0), (1, 17)]),
        ("windows.global_cumsum", "__pid int, __off_a long, __off_b long",
         [(0, 0, 0), (1, 5, -3)]),
        ("textstats.bpe_merges",
         "rank bigint, left string, right string, merged string, pair_count bigint",
         [(1, "t", "h", "th", 9)]),
        ("training weights", "bucket long, __w long", [(0, -4), (7, 12)]),
        ("training model", "bucket long, w_pm long", [(0, -4)]),
        ("training multinomial weights", "__k long, bucket long, __w long",
         [(0, 1, 2)]),
        ("training multinomial model", "class long, bucket long, w_pm long",
         [(1, 2, 3)]),
        ("training scores", "doc_id long, class long, score_micro long", [(1, 0, -5)]),
        ("training predictions", "doc_id long, pred_class long, score_micro long",
         [(1, 0, 5)]),
        ("dedup census / cap keys", census, [(0, 11, 7, 3), (1, 12, 9, None)]),
        ("dedup.connected_components local labels", cc, [(1, 1), (2, 1)]),
    ]


def _same(a, b) -> None:
    # StructType equality compares each field's name, type and nullability
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect()), key=repr) == sorted(
        map(tuple, b.collect()), key=repr
    )


def test_local_frame_matches_create_dataframe_per_call_site(spark):
    for site, schema, rows in _cases(spark):
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        try:
            _same(got, want)
        except AssertionError as e:
            raise AssertionError(f"{site}: {e}") from e


def test_local_frame_empty_rows(spark):
    for site, schema, _ in _cases(spark):
        if isinstance(schema, list):
            # no rows to infer types from: both forms refuse alike
            with pytest.raises(Exception):
                spark.createDataFrame([], schema)
            with pytest.raises(Exception):
                local_frame(spark, [], schema)
            continue
        got = local_frame(spark, [], schema)
        _same(got, spark.createDataFrame([], schema))
        assert got.count() == 0, site


def test_local_frame_row_inputs_and_ddl_schema(spark):
    rows = [Row(code=1, label="a"), Row(code=2, label=None)]
    ddl = "code bigint, label string"
    got = local_frame(spark, rows, ddl)
    _same(got, spark.createDataFrame(rows, ddl))
    assert got.schema == T.StructType([
        T.StructField("code", T.LongType()), T.StructField("label", T.StringType()),
    ])
    assert [tuple(r) for r in got.orderBy("code").collect()] == [(1, "a"), (2, None)]


def test_local_frame_plans_a_local_relation(spark):
    def plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    got = plan(local_frame(spark, [(1, "a")], "code bigint, label string"))
    assert "LocalRelation" in got and "LogicalRDD" not in got
    # the reason for the helper: the list form is an RDD scan, re-read
    # by Python workers on every action
    assert "LogicalRDD" in plan(spark.createDataFrame([(1, "a")], "code bigint, label string"))
    # the connected-components local path returns such a frame
    pairs = local_frame(spark, [(1, 2), (2, 3)], "id1 long, id2 long")
    labels = plan(dd.connected_components(pairs))
    assert "LocalRelation" in labels and "LogicalRDD" not in labels


_ARROW_ROOTS = {"pa", "pd", "pyarrow", "pandas"}


def _root_name(node) -> str | None:
    while isinstance(node, (ast.Attribute, ast.Call)):
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return node.id if isinstance(node, ast.Name) else None


def _assigned(func: ast.AST, name: str):
    """The value last assigned to ``name`` in ``func``'s body, if any."""
    value = None
    for node in ast.walk(func):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name) and t.id == name:
                    value = node.value
    return value


def _list_fed_calls(path: str, rel: str) -> list[str]:
    tree = ast.parse(open(path).read())
    found = set()  # a nested function's calls are walked twice
    for func in ast.walk(tree):
        if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(func):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
            ):
                continue
            arg = node.args[0]
            key = arg.id if isinstance(arg, ast.Name) else ast.unparse(arg)
            value = _assigned(func, arg.id) if isinstance(arg, ast.Name) else arg
            # pandas / Arrow built data crosses into the JVM as Arrow
            if isinstance(value, ast.Call) and _root_name(value) in _ARROW_ROOTS:
                continue
            found.add(f"{rel}:{node.lineno}: createDataFrame({key}, ...)")
    return sorted(found)


_PIN_METHODS = {"cache", "persist", "localCheckpoint", "unpersist"}


def _raw_pin_calls(path: str, rel: str) -> list[str]:
    """``.cache()``/``.persist(``/``.localCheckpoint(``/``.unpersist(``
    calls, except the ``storage.cache(...)`` primitive itself."""
    return sorted(
        f"{rel}:{node.lineno}: .{node.func.attr}(...)"
        for node in ast.walk(ast.parse(open(path).read()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _PIN_METHODS
        and not (isinstance(node.func.value, ast.Name)
                 and node.func.value.id == "storage")
    )


def _scan_engine(scan) -> list[str]:
    found = []
    for sub in ("operators", "pipelines", "streaming", "functions", "sources"):
        base = os.path.join(PKG, sub)
        for name in sorted(os.listdir(base)):
            if name.endswith(".py"):
                rel = f"{sub}/{name}"
                found += scan(os.path.join(base, name), rel)
    return found


def test_no_list_fed_create_dataframe_in_engine():
    found = _scan_engine(_list_fed_calls)
    assert not found, "build driver-held frames with local_frame:\n" + "\n".join(found)


def test_no_raw_pins_outside_storage():
    found = [f for f in _scan_engine(_raw_pin_calls)
             if not f.startswith("operators/storage.py:")]
    assert not found, (
        "pin through storage.cache / storage.checkpoint:\n" + "\n".join(found)
    )


def test_raw_pin_scan_flags_cache_and_passes_storage(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "def bad(df):\n"
        "    return df.cache()\n"
        "def bad_checkpoint(df):\n"
        "    df.unpersist()\n"
        "    return df.localCheckpoint(eager=True).persist()\n"
        "def ok(df):\n"
        "    return storage.cache(storage.checkpoint(df))\n"
    )
    found = _raw_pin_calls(str(src), "operators/mod.py")
    assert [f.split(":")[1] for f in found] == ["2", "4", "5", "5"]


# the three aggregations allowed to decide "which band buckets exceed
# max_bucket_size?": the engine's one cap census and the two reference
# implementations the census is tested against
_CAP_CENSUS_OWNERS = {
    "_counted_census_plan", "oversized_buckets", "oversized_bucket_star_pairs",
}


def _cap_aggregations(path: str, rel: str) -> list[str]:
    """Functions that call ``.agg(`` and compare something with
    ``max_bucket_size`` — an oversized-bucket aggregation."""
    found = set()
    for func in ast.walk(ast.parse(open(path).read())):
        if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        nodes = list(ast.walk(func))
        aggregates = any(
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "agg" for n in nodes
        )
        compares_cap = any(
            isinstance(n, ast.Compare) and any(
                isinstance(o, ast.Name) and o.id == "max_bucket_size"
                for o in [n.left, *n.comparators]
            )
            for n in nodes
        )
        if aggregates and compares_cap:
            found.add(f"{rel}:{func.lineno}: {func.name}")
    return sorted(found)


def test_one_cap_census_in_operators():
    found = [f for f in _scan_engine(_cap_aggregations)
             if f.startswith("operators/")]
    assert sorted(f.rsplit(" ", 1)[1] for f in found) == sorted(_CAP_CENSUS_OWNERS), (
        "decide oversized buckets with dedup._counted_census_plan:\n"
        + "\n".join(found)
    )


def test_cap_aggregation_scan_flags_agg_compared_to_cap(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "def bad(df, max_bucket_size):\n"
        "    return (df.groupBy('k').agg(F.count(F.lit(1)).alias('n'))\n"
        "            .filter(F.col('n') > max_bucket_size))\n"
        "def ok_window(df, max_bucket_size):\n"
        "    return df.filter(F.col('rn') <= max_bucket_size)\n"
        "def ok_agg(df, cap):\n"
        "    return df.groupBy('k').agg(F.min('id'))\n"
    )
    found = _cap_aggregations(str(src), "operators/mod.py")
    assert found == ["operators/mod.py:1: bad"]


def test_list_fed_scan_flags_lists_and_passes_arrow(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "def bad(spark, rows):\n"
        "    return spark.createDataFrame(rows, 'a int')\n"
        "def bad_literal(spark):\n"
        "    return spark.createDataFrame([(1,)], 'a int')\n"
        "def ok(spark, path):\n"
        "    frame = pd.read_sas(path)\n"
        "    return spark.createDataFrame(frame)\n"
    )
    found = _list_fed_calls(str(src), "operators/mod.py")
    assert [f.split(":")[1] for f in found] == ["2", "4"]
