"""Schema-coercion and value-cleaning transforms.

Generalizes the reference's ``cast_type`` dict-driven coercion
(etl.py:33-46), its when/otherwise value recodes (etl.py:92-103, used
for country-name normalization at etl.py:367,384), its null fallback
(etl.py:389-390) and fillna (etl.py:215) — see SURVEY.md §2.2 P6-P9.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def cast_types(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Cast columns per {name: spark-type-ddl}; silently skips absent
    columns (matches cast_type's tolerance, etl.py:41-45), done in one
    ``withColumns`` call so it is a single projection node."""
    present = {k: F.col(k).cast(v) for k, v in mapping.items() if k in df.columns}
    return df.withColumns(present)


def recode(col: Column | str, mapping: dict) -> Column:
    """Value rewrite as a when-chain (reference pattern etl.py:92-103).

    Values outside ``mapping`` pass through unchanged. Fine for a
    handful of literals; for big mappings use
    ``recode_via_broadcast_map`` — a thousand-branch CASE bloats the
    codegen'd method past the JIT limit.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for old, new in mapping.items():
        cond = c == F.lit(old)
        expr = F.when(cond, F.lit(new)) if expr is None else expr.when(cond, F.lit(new))
    if expr is None:
        return c
    return expr.otherwise(c)


def recode_via_broadcast_map(
    df: DataFrame,
    col: str,
    mapping: dict,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Value rewrite via broadcast-joined mapping table — the scale-path
    form of ``recode``: the mapping ships once per executor instead of
    inlining into every task's codegen."""
    spark = spark or df.sparkSession
    from us_immigration_data_lake_spark.operators.storage import local_frame

    map_df = local_frame(spark, list(mapping.items()), ["__rk", "__rv"])
    joined = df.join(F.broadcast(map_df), df[col] == map_df["__rk"], "left")
    return joined.withColumn(col, F.coalesce("__rv", col)).drop("__rk", "__rv")


def coalesce_fallback(primary: Column | str, fallback: Column | str) -> Column:
    """when(isnull(a), b).otherwise(a) → F.coalesce (etl.py:389-390)."""
    p = F.col(primary) if isinstance(primary, str) else primary
    f = F.col(fallback) if isinstance(fallback, str) else fallback
    return F.coalesce(p, f)
