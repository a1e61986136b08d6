"""The reference's three curated-table jobs, rebuilt on engine modules.

Parity targets (SURVEY.md §1.1, FIXTURES.md §6; reference behavior
cited per function). These are clean re-expressions — each reference
anti-pattern is replaced by the idiomatic Spark-3 form and noted:

- two aggregates of one source inner-joined back together
  (etl.py:186) → ONE groupBy().agg() pass with conditional sums
  (half the shuffles, no join).
- four row-wise Python UDFs (etl.py:61-125) → native expressions
  (functions/dates.py, functions/text.py).
- count-then-write double execution (etl.py:218-221 etc.) → caller
  caches once and runs quality checks + write on the cached plan.
- nondeterministic first() per group (etl.py:169-180) is preserved
  in shape but made deterministic: the demographics duplicate rows
  repeat identical city stats per Race, so first == min and we use
  min (same values, stable under retries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.cleaning import cast_types
from us_immigration_data_lake_spark.functions.dates import (
    build_date_dim,
    date_diff_days,
    sas_to_iso_string,
)
from us_immigration_data_lake_spark.functions.text import title_case
from us_immigration_data_lake_spark.operators.storage import local_frame

RACES = {
    "American Indian and Alaska Native": "AmericanIndianAndAlaskaNative",
    "Asian": "Asian",
    "Black or African-American": "BlackOrAfricanAmerican",
    "Hispanic or Latino": "HispanicOrLatino",
    "White": "White",
}

_DEMOGRAPHIC_STATS = {
    "Median Age": ("MedianAge", "double"),
    "Male Population": ("MalePopulation", "int"),
    "Female Population": ("FemalePopulation", "int"),
    "Total Population": ("TotalPopulation", "int"),
    "Number of Veterans": ("NumberVeterans", "int"),
    "Foreign-born": ("ForeignBorn", "int"),
    "Average Household Size": ("AverageHouseholdSize", "double"),
}


def build_demographics(raw: DataFrame) -> DataFrame:
    """DEMOGRAPHICS dim (etl.py:146-221): city grain — the raw CSV
    repeats each city's stats once per Race row; collapse to one row
    per (City, State, StateCode) carrying the stats plus a Race→column
    pivot of Count. Reference does first-aggs and a pivot as two
    aggregates joined back (etl.py:186); here it is one aggregate.
    Nulls in the 12 numeric cols are filled with 0 (etl.py:215).
    NOTE the reference's docs claim state grain but its code ships city
    grain (SURVEY.md §1.1) — we implement the code's behavior and offer
    the state rollup separately."""
    stats = [
        F.min(F.col(src).cast(typ)).alias(alias)
        for src, (alias, typ) in _DEMOGRAPHIC_STATS.items()
    ]
    races = [
        F.sum(F.when(F.col("Race") == race, F.col("Count").cast("int"))).alias(alias)
        for race, alias in RACES.items()
    ]
    out = (
        raw.groupBy(
            F.col("City"),
            F.col("State"),
            F.col("State Code").alias("StateCode"),
        )
        .agg(*stats, *races)
    )
    numeric = [a for _, (a, _) in _DEMOGRAPHIC_STATS.items() if a != "MedianAge"]
    numeric += list(RACES.values())
    return out.fillna(0, subset=numeric)


def build_demographics_state_rollup(demographics: DataFrame) -> DataFrame:
    """State-grain rollup — what the reference's notebook/data-model
    diagram DESCRIBE (cells 26/35) but its code never builds."""
    sums = [
        "MalePopulation", "FemalePopulation", "TotalPopulation",
        "NumberVeterans", "ForeignBorn", *RACES.values(),
    ]
    return demographics.groupBy("State", "StateCode").agg(
        F.count(F.lit(1)).alias("Cities"),
        *[F.sum(c).alias(c) for c in sums],
        F.avg("MedianAge").alias("AvgMedianAge"),
        F.avg("AverageHouseholdSize").alias("AvgHouseholdSize"),
    )


_FACT_KEEP = {
    # kept columns and their target types (etl.py:278-286 project+cast;
    # FIXTURES.md §6 IMMIGRATION)
    "cicid": "int",
    "i94yr": "int",
    "i94mon": "int",
    "i94cit": "int",
    "i94res": "int",
    "i94port": "string",
    "i94mode": "int",
    "i94addr": "string",
    "i94bir": "int",
    "i94visa": "int",
    "gender": "string",
    "airline": "string",
    "fltno": "string",
    "visatype": "string",
}


def build_immigration_fact(raw: DataFrame) -> DataFrame:
    """IMMIGRATION fact (etl.py:224-289): project + cast the kept
    columns (high-null/unused columns dropped), decode SAS day-number
    arrival/departure dates to ISO strings (replaces UDFs U1/U4), add
    `stay` = depdate − arrdate in days (replaces UDF U2), and
    dropDuplicates."""
    cols = [F.col(c).cast(t).alias(c) for c, t in _FACT_KEEP.items() if c in raw.columns]
    out = raw.select(
        *cols,
        sas_to_iso_string("arrdate").alias("arrdate"),
        sas_to_iso_string("depdate").alias("depdate"),
    ).withColumn("stay", date_diff_days("depdate", "arrdate").cast("int"))
    return out.dropDuplicates()


def build_arrival_date_dim(raw: DataFrame) -> DataFrame:
    """ARRIVALDATE dim (etl.py:292-336): distinct arrival dates with
    SAS day-number, ISO date, calendar parts and season — the
    reference's richest pipeline, one expression chain here
    (functions/dates.py:build_date_dim). Output stays partitionable by
    (date_year, date_month) as the reference writes it (etl.py:336)."""
    dates = raw.select(
        F.date_add(F.lit("1960-01-01").cast("date"), F.col("arrdate").cast("int"))
        .alias("arrival_date")
    ).where(F.col("arrdate").isNotNull())
    return build_date_dim(dates, "arrival_date")


def build_country(
    lookup: DataFrame,
    temperatures: DataFrame | None = None,
) -> DataFrame:
    """COUNTRY dim (etl.py:338-396): country-code lookup normalized and
    optionally enriched with per-country average temperature and
    first lat/lon. Reference behavior re-expressed:

    - value recodes of lookup names to match temperature-dataset naming
      (etl.py:367,384) via when-chains;
    - join key lower-cased on both sides (etl.py:368,385);
    - name fallback: title-cased lookup name when no temperature match
      (etl.py:389-390) — title_case reproduces the Python str.title()
      the reference's UDF used (U3), not initcap;
    - dims broadcast; avg temperature deterministic; first lat/lon per
      country made deterministic with min (reference used unordered
      first(), etl.py:355-358).
    """
    code_names = {
        "BOSNIA-HERZEGOVINA": "BOSNIA AND HERZEGOVINA",
        "INVALID: CANADA": "CANADA",
        "CHINA, PRC": "CHINA",
        "GUINEA-BISSAU": "GUINEA BISSAU",
        "INVALID: PUERTO RICO": "PUERTO RICO",
        "INVALID: UNITED STATES": "UNITED STATES",
    }
    name_expr = F.col("I94CTRY")
    for old, new in code_names.items():
        name_expr = F.when(F.col("I94CTRY") == old, new).otherwise(name_expr)
    lk = lookup.select(
        F.col("Code").cast("int").alias("Code"),
        name_expr.alias("I94CTRY"),
    ).withColumn("join_key", F.lower("I94CTRY"))

    if temperatures is None:
        return lk.select(
            "Code", title_case("I94CTRY").alias("Country")
        ).withColumn("Temperature", F.lit(None).cast("double")) \
         .withColumn("Latitude", F.lit(None).cast("string")) \
         .withColumn("Longitude", F.lit(None).cast("string"))

    temp_agg = (
        temperatures.where(F.col("AverageTemperature").isNotNull())
        .groupBy(F.lower("Country").alias("join_key"))
        .agg(
            F.avg("AverageTemperature").alias("Temperature"),
            F.min("Latitude").alias("Latitude"),
            F.min("Longitude").alias("Longitude"),
        )
    )
    joined = lk.join(F.broadcast(temp_agg), on="join_key", how="left")
    return joined.select(
        "Code",
        title_case("I94CTRY").alias("Country"),
        "Temperature",
        "Latitude",
        "Longitude",
    )


def build_label_dims(spark, labels_path: str) -> dict[str, DataFrame]:
    """Every code→label dim the SAS labels file defines, in one pass:
    ``country`` (bigint code), ``port`` (code, port_name, port_state),
    ``mode``, ``state``, plus the ``visa`` dim the file only describes
    in prose (published as the literal the reference hardcodes).

    US port labels embed 'CITY, ST' with ST a 2-3 letter state or
    territory code, sometimes annotated with a facility marker
    ('SALINAS, CA (BPS)', 'ASPEN, CO #ARPT'). port_state is extracted
    only when the suffix IS such a code (annotation stripped), so it
    joins cleanly against dims['state'].code; foreign ports
    ('TORONTO, CANADA'), sentinels, and collapsed entries keep the
    whole label as port_name with a null port_state — a spelled-out
    country is not a state code and pretending otherwise poisons the
    join. All dims are broadcast-sized lookup tables.
    """
    from us_immigration_data_lake_spark.sources.sas_labels import (
        I94_VISA_CATEGORIES,
        read_sas_labels,
    )

    port_raw = read_sas_labels(spark, labels_path, "$i94prtl")
    state_re = r",\s*([A-Z]{2,3})\s*(\(BPS\)|#ARPT)?\s*$"
    st = F.regexp_extract(F.col("label"), state_re, 1)
    port = port_raw.select(
        "code",
        F.when(st != "", F.regexp_replace(F.col("label"), state_re, ""))
        .otherwise(F.col("label"))
        .alias("port_name"),
        F.when(st != "", st).alias("port_state"),
    )
    return {
        "country": read_sas_labels(spark, labels_path, "i94cntyl"),
        "port": port,
        "mode": read_sas_labels(spark, labels_path, "i94model"),
        "state": read_sas_labels(spark, labels_path, "i94addrl"),
        "visa": local_frame(
            spark, sorted(I94_VISA_CATEGORIES.items()), "code bigint, label string"
        ),
    }
