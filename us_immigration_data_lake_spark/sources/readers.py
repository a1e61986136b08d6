"""Schema-first readers.

Generalizes the reference's scans (SURVEY.md §2.1 S1-S5):
- CSV with arbitrary separator/header (etl.py:161 reads `;`-separated
  demographics; etl.py:352,381 read with inferSchema).
- Parquet (etl.py:235,276).

Design rule for 100 TB: ``inferSchema`` costs an extra scan of the
data before the real job starts, and a schema drift silently changes
types mid-pipeline, so ``read_csv`` infers only when the caller asks
for it and the quarantine reader takes an explicit ``StructType`` (or
DDL string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from us_immigration_data_lake_spark.operators import storage


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    infer_schema: bool = False,
    **options: str,
) -> DataFrame:
    reader = spark.read.options(header=True, sep=sep, **options)
    if infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the footer schema."""
    return spark.read.parquet(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE read of a headed, comma-separated CSV that splits
    clean rows from quarantined ones (the raw line in
    ``_corrupt_record``).

    At lake scale a malformed row must never kill a 10-hour job
    (FAILFAST) or silently vanish (DROPMALFORMED): it lands in a
    quarantine frame the caller writes next to the output. Returns
    (clean, quarantined).
    """
    from pyspark.sql.types import StringType, StructField, StructType as ST

    corrupt_col = "_corrupt_record"
    base = schema if not isinstance(schema, str) else None
    if base is None:
        df0 = spark.read.options(header=True, sep=",").schema(schema).csv(path)
        base = df0.schema
    full = ST([*base.fields, StructField(corrupt_col, StringType(), True)])
    df = storage.cache(  # one scan serves both filters
        spark.read.options(header=True, sep=",", mode="PERMISSIVE",
                           columnNameOfCorruptRecord=corrupt_col, **options)
        .schema(full)
        .csv(path)
    )
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return clean, quarantined


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across SCHEMA-EVOLVED file generations
    (``mergeSchema=true``): columns added by later writes surface as
    NULL in older files' rows, so a table that grew columns over time
    reads as one coherent frame.

    Scale cost, and why this is not the default reader: schema merging
    reads EVERY file's footer in a distributed pre-job before the scan
    (the default reader samples one footer). On a 100 TB table that is
    millions of footer reads per query — the right home for the merged
    schema is a catalog entry written ONCE at commit time; this reader
    is for the exploration/backfill path where no catalog exists.
    Incompatible type changes (e.g. INT32 → INT64 on the same column)
    fail the merge loudly rather than silently coercing — retype via
    an explicit projection instead.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_parquet_stream(spark, path_glob: str):
    """Streaming file-source read over a parquet path/glob with the
    batch footer schema (a file stream cannot infer schema; one
    driver-side metadata read supplies it — the read_event_stream
    convention, for tables without events' timestamp-encoding
    special-casing). The glob form is required: a bare file path fails
    the source's basePath directory check."""
    from us_immigration_data_lake_spark.sources.schema_cache import parquet_schema

    schema = parquet_schema(spark, path_glob)
    return spark.readStream.schema(schema).parquet(path_glob)
