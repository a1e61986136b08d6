"""Aggregation operators (SURVEY.md §2.4).

Generalizes the reference's grouped first-aggs (etl.py:169-180), its
Race pivot (etl.py:183), per-country averages (etl.py:355-358) and
full-row distinct (etl.py:289,310).

Scale notes baked in:
- Spark always does partial (map-side) aggregation before the shuffle
  for hash aggregates — declaring ``groupBy().agg()`` is enough; never
  hand-roll combiners.
- ``first()`` without ordering is nondeterministic (the reference
  relies on it); use ``min``/``max`` or ``min_by``/``max_by`` instead
  (``dedup_exact`` keeps a deterministic survivor that way).
- ``pivot`` without an explicit value list costs an extra distinct-scan
  job AND is unsafe at scale (unbounded output columns); always pass
  the list (q07 does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_exact(
    df: DataFrame,
    keys: list[str] | None = None,
    keep_order_col: str | None = None,
) -> DataFrame:
    """Exact dedup.

    - keys=None: full-row distinct (etl.py:289,310) — a hash aggregate
      on all columns; Catalyst plans partial+final HashAggregate.
    - keys given without order col: ``dropDuplicates(keys)`` —
      nondeterministic survivor, cheapest.
    - keys + keep_order_col: survivor = row with the MIN order value
      per key, planned as a single aggregate — one shuffle, no sort.
      All non-key columns are packed into ONE struct before min_by so
      the surviving row is a coherent input row even when two rows tie
      on the order column (per-column min_by would otherwise mix
      columns from different tied rows).
    """
    if keys is None:
        return df.dropDuplicates()
    if keep_order_col is None:
        return df.dropDuplicates(keys)
    others = [c for c in df.columns if c not in keys]
    packed = df.groupBy(*keys).agg(
        F.min_by(F.struct(*others), F.col(keep_order_col)).alias("__row")
    )
    return packed.select(*keys, *[F.col("__row")[c].alias(c) for c in others]) \
        .select(*df.columns)


def salted_sum(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
    salt: Column,
    with_count: str | None = None,
) -> DataFrame:
    """Two-phase skew-proof aggregation: sum/count under (keys, salt),
    then re-aggregate to (keys).

    Spark's hash aggregate already partial-aggregates map-side, which
    handles MOST skew — but when a single group's partials still
    overwhelm one reducer (billions of rows to a handful of keys, the
    classic telemetry shape), salting splits each hot group across
    ``salt`` buckets in the first shuffle; the second shuffle moves
    only ``n_keys x n_salts`` pre-aggregated rows.  Only decomposable
    aggregates (sum/count/min/max) can ride this; avg must be derived
    as sum/count by the caller.

    ``sums`` maps output-column → input expression (summed exactly —
    pass integer-cents style expressions, not raw doubles, when the
    result needs cross-engine determinism).
    """
    phase1 = df.groupBy(*keys, salt.alias("_salt")).agg(
        *[F.sum(expr).alias(name) for name, expr in sums.items()],
        F.count(F.lit(1)).alias("_cnt"),
    )
    finals = [F.sum(name).alias(name) for name in sums]
    if with_count:
        finals.append(F.sum("_cnt").alias(with_count))
    return phase1.groupBy(*keys).agg(*finals)


def rolling_distinct_count(
    df: DataFrame,
    date_col: str,
    entity_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Exact rolling N-day distinct entities per day (e.g. weekly
    active users): for each day D present in the data, the number of
    distinct entities seen in [D - window_days + 1, D].

    Scale shape: COUNT(DISTINCT) over a sliding range has no
    single-pass window form in any engine, so the standard rewrite is
    used — dedup to daily presence (day, entity), explode each
    presence to the ``window_days`` days it contributes to (a bounded
    ×N fan-out of the already-deduped pairs, far smaller than raw
    events), then one exact distinct-aggregate per target day.
    Restricting output to days that actually occur keeps the result
    independent of calendar gaps.
    """
    if int(window_days) < 1:
        raise ValueError(
            f"window_days must be >= 1, got {window_days} (a descending "
            "sequence would silently count FUTURE days into each window)"
        )
    pres = df.select(
        F.col(date_col).alias("__d"), F.col(entity_col).alias("__e")
    ).distinct()
    days = pres.select("__d").distinct()
    contrib = pres.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("__off"),
        "__d",
        "__e",
    ).select(F.date_add(F.col("__d"), F.col("__off")).alias("__td"), "__e")
    counted = contrib.join(
        days.select(F.col("__d").alias("__td")), "__td"
    ).groupBy("__td").agg(
        F.count_distinct(F.col("__e")).cast("long").alias("n_distinct")
    )
    return counted.select(F.col("__td").alias(date_col), "n_distinct")
