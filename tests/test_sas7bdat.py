"""End-to-end sas7bdat ingest (SURVEY.md §2.1 S4).

Fixtures come from our own minimal public-spec writer
(sources/sas7bdat_writer.py), shaped like the reference's monthly I-94
files (notebook cell-7: cicid/i94yr doubles, arrdate SAS date,
visatype/gender strings).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from us_immigration_data_lake_spark.sources import (
    register_sas_datasource,
    sas_schema,
    write_sas7bdat,
)


def _i94_frame(n: int, month: int) -> pd.DataFrame:
    rs = np.random.RandomState(month)
    return pd.DataFrame(
        {
            "cicid": np.arange(n, dtype="float64") + month * 1_000_000,
            "i94yr": np.full(n, 2016.0),
            "i94mon": np.full(n, float(month)),
            "arrdate": pd.to_datetime(
                [dt.date(2016, month, 1 + int(i) % 28) for i in range(n)]
            ),
            "depdate": rs.randn(n) * 10 + 20500,
            "visatype": [["B1", "B2", "WT", "F1"][i % 4] for i in range(n)],
            "gender": [["M", "F", None][i % 3] for i in range(n)],
        }
    )


@pytest.fixture(scope="module")
def sas_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("i94-sas")
    for month in (1, 2, 3):
        write_sas7bdat(
            str(d / f"i94_{month:02d}16_sub.sas7bdat"),
            _i94_frame(500, month),
            dataset_name=f"I94_{month:02d}16",
        )
    return d


def test_writer_pandas_roundtrip(tmp_path):
    df = _i94_frame(1000, 4)
    path = str(tmp_path / "rt.sas7bdat")
    write_sas7bdat(path, df)
    back = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    assert list(back.columns) == list(df.columns)
    assert len(back) == 1000
    np.testing.assert_array_equal(back["cicid"].to_numpy(), df["cicid"].to_numpy())
    np.testing.assert_allclose(back["depdate"].to_numpy(), df["depdate"].to_numpy())
    assert (pd.to_datetime(back["arrdate"]) == df["arrdate"]).all()
    assert (back["visatype"] == df["visatype"]).all()
    # SAS blanks == missing: None round-trips to NaN
    assert back["gender"].isna().equals(df["gender"].isna())


def test_writer_empty_and_nan(tmp_path):
    df = pd.DataFrame({"x": [1.0, float("nan")], "s": ["", "a"]})
    path = str(tmp_path / "nan.sas7bdat")
    write_sas7bdat(path, df)
    back = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
    assert np.isnan(back["x"].iloc[1])
    # blank string is SAS missing by convention
    assert pd.isna(back["s"].iloc[0]) and back["s"].iloc[1] == "a"


def test_sas_schema_metadata_only(sas_dir):
    sch = sas_schema(str(sorted(sas_dir.glob("*.sas7bdat"))[0]))
    kinds = {f.name: f.dataType.simpleString() for f in sch.fields}
    assert kinds == {
        "cicid": "double",
        "i94yr": "double",
        "i94mon": "double",
        "arrdate": "timestamp",
        "depdate": "double",
        "visatype": "string",
        "gender": "string",
    }


def _read(spark, path: str, schema=None):
    register_sas_datasource(spark)
    reader = spark.read.format("sas7bdat")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def test_read_sas_single_file(spark, sas_dir):
    path = str(sorted(sas_dir.glob("*.sas7bdat"))[0])
    df = _read(spark, path)
    assert df.count() == 500
    row = df.orderBy("cicid").first()
    assert row["cicid"] == 1_000_000.0
    assert row["visatype"] == "B1"
    assert row["arrdate"] == dt.datetime(2016, 1, 1)


def test_read_sas_directory_one_partition_per_file(spark, sas_dir):
    df = _read(spark, str(sas_dir))
    assert df.count() == 1500
    # one task per file
    assert df.rdd.getNumPartitions() == 3
    monthly = {
        r["i94mon"]: r["n"]
        for r in df.groupBy("i94mon").count().withColumnRenamed("count", "n").collect()
    }
    assert monthly == {1.0: 500, 2.0: 500, 3.0: 500}
    # spot-check values survive the Arrow round trip
    got = (
        df.filter((df.i94mon == 2.0) & (df.cicid == 2_000_005.0))
        .select("visatype", "gender")
        .first()
    )
    assert got["visatype"] == "B2"
    assert got["gender"] is None


def test_read_sas_user_schema_is_honoured(spark, sas_dir):
    sch = sas_schema(str(sorted(sas_dir.glob("*.sas7bdat"))[0]))
    df = _read(spark, str(sas_dir), schema=sch)
    assert df.count() == 1500
    assert df.schema == sch


def test_read_sas_empty_dir_raises(spark, tmp_path):
    with pytest.raises(Exception, match="no .sas7bdat files"):
        _read(spark, str(tmp_path)).count()


def test_python_datasource_matches_distributed_reader(spark, sas_dir):
    """The source's rows and schema equal pandas' parse of each file."""
    register_sas_datasource(spark)
    via_ds = (
        spark.read.format("sas7bdat")
        .option("chunksize", 200)
        .load(str(sas_dir))
    )
    assert via_ds.schema == sas_schema(str(sorted(sas_dir.glob("*.sas7bdat"))[0]))
    # one input partition per file
    assert via_ds.rdd.getNumPartitions() == 3
    want = []
    for f in sorted(sas_dir.glob("*.sas7bdat")):
        pdf = pd.read_sas(str(f), format="sas7bdat", encoding="utf-8")
        for rec in pdf.itertuples(index=False):
            want.append(tuple(
                None if v is None or (isinstance(v, float) and np.isnan(v))
                else v.to_pydatetime() if isinstance(v, pd.Timestamp)
                else v
                for v in rec
            ))
    got = sorted(map(tuple, via_ds.collect()))
    assert len(got) == 1500
    assert got == sorted(want)
