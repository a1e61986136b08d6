"""Date expressions — native replacements for the reference's UDFs.

The reference decodes SAS numeric dates (days since 1960-01-01,
I94_SAS_Labels_Descriptions.SAS:966-968) with two row-wise Python UDFs
(U1 ``convert_sas_udf`` etl.py:61-74, U4 ``get_date_udf``
etl.py:119-125) and computes day differences with a third (U2
``date_diff_udf`` etl.py:76-90). Row-wise Python UDFs serialize every
row JVM→Python→JVM and are opaque to Catalyst (no pushdown through
them); at 100 TB they are the single biggest perf bug in the reference
(SURVEY.md §4). Everything here is a pure Column expression: it stays
inside whole-stage codegen and costs zero Python round-trips.

Null conventions: the reference's U1 and U4 disagree (U4 maps the falsy
value 0.0 → NULL; U1 maps 0.0 → '1960-01-01'). We standardize on U1's
arithmetic behavior (0 = the epoch) and document the divergence;
``sas_to_date(col, zero_as_null=True)`` gives U4 semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SAS_EPOCH = "1960-01-01"


def sas_to_date(col: Column | str, zero_as_null: bool = False) -> Column:
    """SAS day-count (double/int) → DateType. Null-safe."""
    c = F.col(col) if isinstance(col, str) else col
    d = F.date_add(F.lit(SAS_EPOCH).cast("date"), c.cast("int"))
    if zero_as_null:
        d = F.when(c.cast("int") == 0, F.lit(None).cast("date")).otherwise(d)
    return d


def sas_to_iso_string(col: Column | str) -> Column:
    """SAS day-count → 'yyyy-MM-dd' string (U1's exact output shape)."""
    return F.date_format(sas_to_date(col), "yyyy-MM-dd")


def date_diff_days(end: Column | str, start: Column | str) -> Column:
    """Day difference end - start; replaces U2 (etl.py:76-90).

    Accepts date/timestamp/ISO-string columns; null-safe like the UDF.
    """
    e = F.col(end) if isinstance(end, str) else end
    s = F.col(start) if isinstance(start, str) else start
    return F.datediff(F.to_date(e), F.to_date(s))


def date_parts(col: Column | str) -> dict[str, Column]:
    """The date-part bundle from the ARRIVALDATE build (etl.py:296-300):
    day, month, year, day-of-week, week-of-year.

    NOTE ``weekofyear`` is ISO-8601 in both Spark and DuckDB;
    ``dayofweek`` is 1=Sunday..7=Saturday in Spark but 0=Sunday in
    DuckDB — oracles must add 1 on the DuckDB side.
    """
    c = F.to_date(F.col(col) if isinstance(col, str) else col)
    return {
        "day": F.dayofmonth(c),
        "month": F.month(c),
        "year": F.year(c),
        "day_of_week": F.dayofweek(c),
        "weekofyear": F.weekofyear(c),
    }


def season_expr(month: Column | str) -> Column:
    """Month number → season label; re-expresses the reference's only
    SQL query (CASE WHEN arrival_month IN ... at etl.py:316-330)."""
    m = F.col(month) if isinstance(month, str) else month
    return (
        F.when(m.isin(12, 1, 2), "winter")
        .when(m.isin(3, 4, 5), "spring")
        .when(m.isin(6, 7, 8), "summer")
        .otherwise("autumn")
    )


def build_date_dim(df: DataFrame, date_col: str) -> DataFrame:
    """Full ARRIVALDATE-style date dimension from any date/ts column
    (etl.py:292-336): sas day-number, ISO date, parts, season; distinct.
    """
    iso = F.to_date(F.col(date_col))
    parts = date_parts(iso)
    return (
        df.select(
            F.datediff(iso, F.lit(SAS_EPOCH).cast("date")).alias("sasdate"),
            iso.alias("iso_date"),
            parts["day"].alias("date_day"),
            parts["month"].alias("date_month"),
            parts["year"].alias("date_year"),
            parts["day_of_week"].alias("day_of_week"),
            parts["weekofyear"].alias("date_weekofyear"),
        )
        .withColumn("date_season", season_expr("date_month"))
        .dropDuplicates()
    )
