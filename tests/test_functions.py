"""Unit tests for the expression library — including the reference's
documented edge cases (SURVEY.md §7): SAS-date null/zero conventions
(U1 vs U4) and str.title() vs initcap divergence."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.dates import (
    sas_to_date,
    sas_to_iso_string,
    date_diff_days,
    season_expr,
    build_date_dim,
)
from us_immigration_data_lake_spark.functions.cleaning import (
    cast_types,
    recode,
    recode_via_broadcast_map,
    coalesce_fallback,
)
from us_immigration_data_lake_spark.functions.text import (
    title_case,
    token_count,
    normalized_text,
)


def test_sas_to_date_u1_semantics(spark):
    # U1 (etl.py:61-74): 0 → epoch; null-safe
    df = spark.createDataFrame([(0.0,), (20566.0,), (None,)], ["d"])
    out = df.select(sas_to_date("d").alias("x")).collect()
    assert out[0].x == datetime.date(1960, 1, 1)
    assert out[1].x == datetime.date(2016, 4, 22)
    assert out[2].x is None


def test_sas_to_date_u4_zero_as_null(spark):
    # U4 (etl.py:119-125): falsy 0 → None
    df = spark.createDataFrame([(0.0,), (1.0,)], ["d"])
    out = df.select(sas_to_date("d", zero_as_null=True).alias("x")).collect()
    assert out[0].x is None
    assert out[1].x == datetime.date(1960, 1, 2)


def test_sas_to_iso_string(spark):
    df = spark.createDataFrame([(20566.0,)], ["d"])
    assert df.select(sas_to_iso_string("d").alias("x")).collect()[0].x == "2016-04-22"


def test_date_diff_days_null_safe(spark):
    df = spark.createDataFrame(
        [("2016-04-22", "2016-04-29"), (None, "2016-04-29")], ["a", "b"]
    )
    out = df.select(date_diff_days("b", "a").alias("x")).collect()
    assert out[0].x == 7
    assert out[1].x is None


def test_season_expr(spark):
    df = spark.createDataFrame([(m,) for m in range(1, 13)], ["m"])
    out = {r.m: r.s for r in df.select("m", season_expr("m").alias("s")).collect()}
    assert out[1] == "winter" and out[4] == "spring"
    assert out[7] == "summer" and out[10] == "autumn" and out[12] == "winter"


def test_build_date_dim(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = build_date_dim(li, "l_shipdate")
    n = dim.count()
    assert n == li.select(F.to_date("l_shipdate")).distinct().count()
    assert set(dim.columns) >= {"sasdate", "iso_date", "date_season"}


def test_cast_types_skips_absent(spark):
    df = spark.createDataFrame([("1", "2.5")], ["a", "b"])
    out = cast_types(df, {"a": "int", "b": "double", "zz": "int"})
    assert dict(out.dtypes) == {"a": "int", "b": "double"}


def test_recode_when_chain(spark):
    df = spark.createDataFrame([("US",), ("DE",), ("XX",)], ["c"])
    out = [r.x for r in df.select(recode("c", {"US": "United States"}).alias("x")).collect()]
    assert out == ["United States", "DE", "XX"]


def test_recode_broadcast_map(spark):
    df = spark.createDataFrame([("US",), ("XX",)], ["c"])
    out = recode_via_broadcast_map(df, "c", {"US": "United States"}, spark)
    vals = sorted(r.c for r in out.collect())
    assert vals == ["United States", "XX"]


def test_coalesce_fallback(spark):
    df = spark.createDataFrame([(None, "b"), ("a", "b")], ["x", "y"])
    out = [r.z for r in df.select(coalesce_fallback("x", "y").alias("z")).collect()]
    assert out == ["b", "a"]


def test_title_case_matches_python_title(spark):
    cases = ["côte d'ivoire", "bosnia-herzegovina", "MEXICO", "new york", "o'neill's"]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    out = [r.t for r in df.select(title_case("s").alias("t")).collect()]
    assert out == [c.title() for c in cases]


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("   ",), ("one",)], ["s"])
    out = [r.n for r in df.select(token_count("s").alias("n")).collect()]
    assert out == [3, 0, 0, 1]


def test_normalized_text(spark):
    df = spark.createDataFrame([("  Hello   WORLD ",)], ["s"])
    assert df.select(normalized_text("s").alias("x")).collect()[0].x == "hello world"


def test_fk_coverage(spark):
    from us_immigration_data_lake_spark.quality import fk_coverage

    fact = spark.createDataFrame([(1,), (2,), (None,)], ["k"])
    dim_ok = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    dim_bad = spark.createDataFrame([(1,)], ["pk"])
    assert fk_coverage(fact, "k", dim_ok, "pk").passed
    r = fk_coverage(fact, "k", dim_bad, "pk")
    assert not r.passed and "missing=1" in r.detail


def test_read_sas_stub_raises_helpfully(spark, tmp_path):
    from us_immigration_data_lake_spark.sources import register_sas_datasource

    p = tmp_path / "x.sas7bdat"
    p.write_bytes(b"\x00" * 10)
    register_sas_datasource(spark)
    import pytest as _pytest
    with _pytest.raises(Exception):
        spark.read.format("sas7bdat").load(str(p)).collect()


def test_dedup_exact_coherent_row_on_order_ties(spark):
    from us_immigration_data_lake_spark.operators.aggregate import dedup_exact

    # two rows tie on the order col with different payloads: the
    # survivor must be ONE of the input rows, never a column mix
    rows = [(1, 10, "a", "left"), (1, 10, "b", "right")]
    df = spark.createDataFrame(rows, ["k", "ord", "x", "y"])
    out = dedup_exact(df, keys=["k"], keep_order_col="ord").collect()
    assert len(out) == 1
    assert (out[0].x, out[0].y) in {("a", "left"), ("b", "right")}


def test_tokens_empty_input_yields_empty_array(spark):
    from us_immigration_data_lake_spark.functions.text import tokens

    df = spark.createDataFrame([("",), ("  \t ",), ("a b",)], "s: string")
    out = [r.t for r in df.select(tokens("s").alias("t")).collect()]
    assert out == [[], [], ["a", "b"]]


def test_quality_score_empty_doc_is_zero(spark):
    from us_immigration_data_lake_spark.operators.textstats import (
        quality_score,
        text_features,
    )

    df = spark.createDataFrame([(1, ""), (2, "real text here")], ["doc_id", "text"])
    out = {r.doc_id: r.quality_score for r in
           quality_score(text_features(df, "doc_id", "text")).collect()}
    assert out[1] == 0.0
    assert out[2] > 0.0


def test_compact_parquet_rejects_uri(spark):
    from us_immigration_data_lake_spark.sources.writers import compact_parquet

    import pytest as _pytest
    with _pytest.raises(ValueError, match="local"):
        compact_parquet(spark, "s3a://bucket/ds")


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from us_immigration_data_lake_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0 if i < 90 else 1000.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "w"])
    s1 = sorted(r.id for r in weighted_sample(df, "id", "w", 10).collect())
    s2 = sorted(r.id for r in weighted_sample(df, "id", "w", 10).collect())
    assert s1 == s2  # md5 clocks, not rand(): identical every run
    # the ten 1000x-weight items should dominate the top-10
    assert sum(1 for i in s1 if i >= 90) >= 8


def test_resample_ffill_carries_last_value(spark):
    from us_immigration_data_lake_spark.operators.windows import resample_fill

    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 3, 40), ("b", 5, 1)], ["k", "slot", "v"]
    )
    got = {
        (r.k, r.slot): r.v
        for r in resample_fill(df, "k", "slot", {"v": "ffill"}, 1).collect()
    }
    assert got == {("a", 0): 10, ("a", 1): 10, ("a", 2): 10, ("a", 3): 40, ("b", 5): 1}


def test_resample_zero_fill_plugs_gaps(spark):
    from us_immigration_data_lake_spark.operators.windows import resample_fill

    df = spark.createDataFrame([("a", 0, 10), ("a", 2, 30)], ["k", "slot", "v"])
    got = {
        (r.k, r.slot): r.v
        for r in resample_fill(df, "k", "slot", {"v": "zero"}, 1).collect()
    }
    assert got == {("a", 0): 10, ("a", 1): 0, ("a", 2): 30}


def test_resample_fill_rejects_off_grid_slots_when_stepped(spark):
    import pytest
    from pyspark.sql.utils import PythonException
    from py4j.protocol import Py4JJavaError
    from us_immigration_data_lake_spark.operators.windows import resample_fill

    df = spark.createDataFrame([("a", 0, 1), ("a", 5, 2)], ["k", "slot", "v"])
    with pytest.raises(Exception) as exc:
        resample_fill(df, "k", "slot", {"v": "zero"}, step=2).collect()
    assert "off the step-2 grid" in str(exc.value)


def test_weighted_sample_rejects_nonpositive_weights(spark):
    import pytest
    from us_immigration_data_lake_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 1.0), (2, -3.0)], ["id", "w"])
    with pytest.raises(Exception) as exc:
        weighted_sample(df, "id", "w", 1).collect()
    assert "weights must be > 0" in str(exc.value)
