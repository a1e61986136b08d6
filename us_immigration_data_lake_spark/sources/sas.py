"""SAS sas7bdat ingestion (SURVEY.md §2.1 S4): ``sas7bdat`` as a Spark
data source (Python DataSource API, Spark 4).
``spark.read.format("sas7bdat").load(path)`` after one
``register_sas_datasource(spark)`` call reads a file or a directory of
``*.sas7bdat`` files (non-recursive).

The reference's raw monthly I-94 files are sas7bdat (read in its
notebook with ``pandas.read_sas`` — 25 minutes for one month, cell-7;
``../../data/18-83510-I94-Data-2016/*.sas7bdat``).  Spark has no
native reader, so this is the engine's one route: one whole file per
input partition, each task streaming pandas' pure-Python parser in
bounded-memory chunks and handing rows back as Arrow RecordBatches
(the API's fast path), never per-row Python objects.  The reference
dataset is 12 monthly files ≈ 6 GB each — file-per-task is exactly
the right granularity for it (sas7bdat pages are not byte-splittable
without reimplementing the format in the JVM).  Paths must be visible
to executors (shared FS / distributed FS) — true in local mode and on
any real cluster with HDFS/NFS/S3-fuse.  A cluster that ships the
``spark-sas7bdat`` JVM package (byte-range splittable) can read with
``spark.read.format("com.github.saurfang.sas.spark")`` instead.

The schema comes from the first file's metadata (``sas_schema``);
``spark.read.format("sas7bdat").schema(s)`` skips that probe.  All
files must share one schema (the reference's monthly files do).
sas7bdat date/datetime columns arrive as the format dictates
(pandas converts DATE/DATETIME-formatted doubles to datetime64); the
SAS epoch helpers in ``functions/dates.py`` handle the raw-double
convention for data curated without formats.  Parquet
(``sources/readers.py``) is the reference's own curated form and the
form every other query in this engine consumes.

Fixtures for the end-to-end tests are produced by
``sources/sas7bdat_writer.py`` (this repo's minimal public-spec
writer) — no SAS installation involved.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def list_sas_files(path: str) -> list[str]:
    """A file path, or a directory's ``*.sas7bdat`` files (non-recursive
    scan), as a sorted file list."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".sas7bdat")
        )
    else:
        files = [path]
    if not files:
        raise ValueError(f"no .sas7bdat files under {path!r}")
    return files


def sas_schema(path: str) -> T.StructType:
    """Spark schema for a sas7bdat file, from its metadata only.

    Reads just the header + meta pages (pandas' reader parses metadata
    eagerly; no data rows are materialized).  SAS has exactly two
    physical types — double and fixed-width string — so the mapping is
    double → DoubleType, string → StringType, with DATE/DATETIME
    -formatted doubles arriving as TimestampType (pandas converts them
    on read).
    """
    from pandas.io.sas.sas7bdat import SAS7BDATReader
    from pandas.io.sas.sas_constants import (
        sas_date_formats,
        sas_datetime_formats,
    )

    rdr = SAS7BDATReader(path, convert_header_text=True)
    try:
        fields = []
        for j in range(rdr.column_count):
            name = str(rdr.column_names[j])
            if rdr._column_types[j] == b"d":
                fmt = str(rdr.column_formats[j]) if j < len(rdr.column_formats) else ""
                if fmt in sas_date_formats or fmt in sas_datetime_formats:
                    fields.append(T.StructField(name, T.TimestampType()))
                else:
                    fields.append(T.StructField(name, T.DoubleType()))
            else:
                fields.append(T.StructField(name, T.StringType()))
        return T.StructType(fields)
    finally:
        rdr.close()


def _path_option(options) -> str:
    try:
        return options["path"]
    except KeyError:
        raise ValueError(
            "sas7bdat source requires a path: "
            "spark.read.format('sas7bdat').load('/dir/of/files')"
        ) from None


class SasDataSource(DataSource):
    """``format("sas7bdat")``; options: ``path`` (file or directory),
    ``chunksize`` (rows per Arrow batch, default 100000)."""

    @classmethod
    def name(cls) -> str:
        return "sas7bdat"

    def schema(self):
        return sas_schema(list_sas_files(_path_option(self.options))[0])

    def reader(self, schema) -> "SasReader":
        return SasReader(self.options, schema)


class SasReader(DataSourceReader):
    def __init__(self, options, schema):
        self._files = list_sas_files(_path_option(options))
        self._chunksize = int(options.get("chunksize", 100_000))
        self._names = [f.name for f in schema.fields]
        self._schema = schema

    def partitions(self):
        # one whole file per partition: the format's split granularity
        return [InputPartition(p) for p in self._files]

    def read(self, partition):
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        # pandas hands back ns-precision datetimes; Spark's Arrow
        # ingestion wants exactly the schema's types (us timestamps),
        # so each batch casts to the declared Arrow schema
        arrow_schema = to_arrow_schema(self._schema)
        with pd.read_sas(
            partition.value,
            format="sas7bdat",
            encoding="utf-8",
            chunksize=self._chunksize,
            iterator=True,
        ) as rdr:
            for chunk in rdr:
                tbl = pa.Table.from_pandas(
                    chunk[self._names], preserve_index=False
                ).cast(arrow_schema)
                yield from tbl.to_batches()


def register_sas_datasource(spark) -> None:
    spark.dataSource.register(SasDataSource)
