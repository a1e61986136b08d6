"""Source/sink robustness: corrupt-row quarantine, compaction, format
dispatch, schema-first reads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.sources import read_csv, write_parquet
from us_immigration_data_lake_spark.sources.readers import read_csv_with_quarantine
from us_immigration_data_lake_spark.sources.writers import compact_parquet, write_table

REF = "/root/reference"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference data not available"
)


def test_quarantine_splits_bad_rows(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\nnot_an_int,y\n3,z\n")
    clean, bad = read_csv_with_quarantine(
        spark, str(p), schema="a INT, b STRING"
    )
    assert sorted(r.a for r in clean.collect()) == [1, 3]
    assert bad.count() == 1
    assert "not_an_int" in bad.collect()[0][0]


def test_compact_parquet_reduces_files(spark, tmp_path):
    df = spark.range(10000).withColumn("v", F.rand(seed=1))
    out = str(tmp_path / "frag")
    df.repartition(40).write.parquet(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before >= 40
    compact_parquet(spark, out)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after < n_before
    assert spark.read.parquet(out).count() == 10000


def test_write_table_delta_gated(spark, tmp_path):
    df = spark.range(10)
    with pytest.raises((NotImplementedError, Exception)) as exc:
        write_table(df, str(tmp_path), "t", fmt="delta")
    assert "delta" in str(exc.value).lower()


def test_write_table_unknown_format(spark, tmp_path):
    with pytest.raises(ValueError):
        write_table(spark.range(1), str(tmp_path), "t", fmt="orcx")


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024", "a"), (2, "2025", "b")], ["id", "yr", "v"]
    )
    path = write_parquet(df, str(tmp_path), "t", partition_by=["yr"])
    assert os.path.isdir(os.path.join(path, "yr=2024"))
    back = spark.read.parquet(path)
    assert back.filter(F.col("yr") == "2025").count() == 1


def test_partition_pruning_in_plan(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, str(2020 + i % 3), float(i)) for i in range(100)], ["id", "yr", "v"]
    )
    path = write_parquet(df, str(tmp_path), "pp", partition_by=["yr"])
    back = spark.read.parquet(path).filter(F.col("yr") == "2021")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    # the partition filter must reach the scan (read-side pruning), and
    # the pruned scan reads only the matching directory
    assert "PartitionFilters" in plan and "2021" in plan
    assert back.count() == sum(1 for i in range(100) if 2020 + i % 3 == 2021)


# --- SAS PROC FORMAT label parsing (I94_SAS_Labels_Descriptions.SAS) ---


@needs_ref
def test_sas_labels_reference_file_real_blocks(spark):
    from us_immigration_data_lake_spark.sources import read_sas_labels

    path = f"{REF}/I94_SAS_Labels_Descriptions.SAS"
    country = read_sas_labels(spark, path, "i94cntyl")
    assert [f.dataType.simpleString() for f in country.schema.fields] == [
        "bigint", "string"]
    cmap = {r.code: r.label for r in country.collect()}
    assert cmap[236] == "AFGHANISTAN"
    assert cmap[582].startswith("MEXICO Air Sea")
    assert cmap[687] == "ARGENTINA"  # trailing pad trimmed

    port = read_sas_labels(spark, path, "$i94prtl")
    assert [f.dataType.simpleString() for f in port.schema.fields] == [
        "string", "string"]
    pmap = {r.code: r.label for r in port.collect()}
    assert pmap["ALC"] == "ALCAN, AK"
    assert pmap["INT"] == "INT'L FALLS, MN"  # doubled-quote unescape

    mode = read_sas_labels(spark, path, "i94model")
    assert {r.code: r.label for r in mode.collect()} == {
        1: "Air", 2: "Sea", 3: "Land", 9: "Not reported"}

    state = read_sas_labels(spark, path, "i94addrl")
    smap = {r.code: r.label for r in state.collect()}
    assert smap["CA"] == "CALIFORNIA" and smap["DC"] == "DIST. OF COLUMBIA"


@needs_ref
def test_sas_labels_untrimmed_and_missing_format(spark):
    import pytest as _pytest

    from us_immigration_data_lake_spark.sources import read_sas_labels

    path = f"{REF}/I94_SAS_Labels_Descriptions.SAS"
    raw = read_sas_labels(spark, path, "$i94prtl", trim=False)
    assert any(r.label.endswith(" ") for r in raw.collect())  # pad kept
    with _pytest.raises(KeyError, match="available"):
        read_sas_labels(spark, path, "nope")


def test_sas_labels_parser_quirks_and_damage():
    import pytest as _pytest

    from us_immigration_data_lake_spark.sources import parse_sas_format_blocks

    good = """
  value $fmt
   'A'\t=\t'Alpha'
   'B' = 'Beta' ;
value numf
   -1 = 'Neg'
   2 = 'Two''s'
;
"""
    blocks = parse_sas_format_blocks(good)
    assert blocks["$fmt"] == [("A", "Alpha"), ("B", "Beta")]
    assert blocks["numf"] == [("-1", "Neg"), ("2", "Two's")]

    with _pytest.raises(ValueError, match="unparseable"):
        parse_sas_format_blocks("value f\n 1 = 'ok'\n garbage here\n;")
    with _pytest.raises(ValueError, match="unterminated"):
        parse_sas_format_blocks("value f\n 1 = 'ok'\n")


def test_i94_visa_literal():
    from us_immigration_data_lake_spark.sources import I94_VISA_CATEGORIES

    assert I94_VISA_CATEGORIES == {1: "Business", 2: "Pleasure", 3: "Student"}


def test_observe_quality_counts_without_extra_pass(spark, tmp_path):
    from pyspark.sql import functions as F
    from us_immigration_data_lake_spark.quality import observe_quality

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], ["id", "v"]
    )
    observed, obs = observe_quality(
        df,
        {
            "rows": F.count(F.lit(1)),
            "null_v": F.count_if(F.col("v").isNull()),
            "max_id": F.max("id"),
        },
    )
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got == {"rows": 4, "null_v": 2, "max_id": 4}


def test_write_table_csv_roundtrips_through_reference_reader(spark, tmp_path):
    from us_immigration_data_lake_spark.sources.readers import read_csv

    df = spark.createDataFrame(
        [(1, "a;x", 1.5), (2, None, -2.0)], ["id", "s", "v"]
    )
    path = write_table(df, str(tmp_path), "t", fmt="csv")
    # the `;` dialect the reference ingests must read its own output
    # back (quoting protects embedded separators)
    back = read_csv(spark, path, sep=";", infer_schema=True)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_write_table_json_lines_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x", "2024-01"), (2, "y", "2024-02")], ["id", "s", "ym"]
    )
    path = write_table(
        df, str(tmp_path), "t", fmt="json", partition_by=["ym"]
    )
    import os

    assert any(d.startswith("ym=") for d in os.listdir(path))
    back = spark.read.json(path)
    assert back.count() == 2 and set(back.columns) == {"id", "s", "ym"}


def test_read_parquet_evolved_merges_added_columns(spark, tmp_path):
    from us_immigration_data_lake_spark.sources.readers import (
        read_parquet_evolved,
    )

    out = str(tmp_path / "evolved")
    spark.createDataFrame([(1, "x")], ["id", "a"]).write.parquet(f"{out}/g=1")
    spark.createDataFrame([(2, "y", 7)], ["id", "a", "b"]).write.parquet(
        f"{out}/g=2"
    )
    df = read_parquet_evolved(spark, out)
    assert set(df.columns) == {"id", "a", "b", "g"}
    rows = {r.id: (r.a, r.b) for r in df.collect()}
    assert rows == {1: ("x", None), 2: ("y", 7)}
    # predicate on the NEW column still prunes old-generation rows
    assert df.filter("b = 7").count() == 1


def test_read_parquet_evolved_rejects_type_conflict(spark, tmp_path):
    import pytest

    from us_immigration_data_lake_spark.sources.readers import (
        read_parquet_evolved,
    )

    out = str(tmp_path / "conflict")
    spark.createDataFrame([(1,)], "id int").write.parquet(f"{out}/g=1")
    spark.createDataFrame([("not-an-int",)], "id string").write.parquet(
        f"{out}/g=2"
    )
    with pytest.raises(Exception) as exc:
        read_parquet_evolved(spark, out).collect()
    assert "merge" in str(exc.value).lower() or "incompatible" in str(
        exc.value
    ).lower()


def test_write_table_orc_roundtrip_with_pushdown(spark, tmp_path):
    from us_immigration_data_lake_spark.sources.writers import write_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.0)], ["id", "s", "v"]
    )
    path = write_table(df, str(tmp_path), "t", fmt="orc")
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # the columnar contract that makes ORC a real scale sink: a filter
    # must reach the scan (pushdown), same as the parquet assertions
    plan = (
        back.filter(back.id > 1)
        .select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "IsNotNull(id)" in plan
