"""Window / ranking / top-k operators (SURVEY.md §2.5 — absent from the
reference, required for the engine's query surface).

Scale notes:
- global ``orderBy().limit(k)`` plans TakeOrderedAndProject: per-
  partition top-k then a single-reduce merge — no global sort. Always
  prefer it over sort-then-limit.
- per-group top-k via row_number needs one shuffle on the partition
  keys; ties must be broken deterministically (append a unique key to
  the ordering) or results are run-dependent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.storage import local_frame


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def resample_fill(
    df: DataFrame,
    key_col: str,
    slot_col: str,
    value_cols: dict[str, str],
    step: int = 1,
) -> DataFrame:
    """Time-series resampling: densify each key's integer slot axis to
    every ``step`` between its min and max slot, then fill the gaps.
    ``value_cols`` maps each value column to its fill mode —
    ``'zero'`` (absent slot → 0) or ``'ffill'`` (carry the last
    observed value forward); columns can mix modes.

    The dense axis is generated per key with sequence+explode (no
    driver-side calendar, no cross join against a global spine — each
    key only materializes its own span). ffill is one
    last-value-ignore-nulls window per key ordered by slot: a single
    sort-shuffle on the key, which survives wide keys because no state
    crosses keys.

    Observed slots must sit on each key's ``lo + k*step`` grid when
    step > 1 — an off-grid row would silently miss the dense-axis join
    and vanish, so the plan embeds a raise_error guard (per-row modulo
    check, no extra pass) that fails the job instead.
    """
    for c, mode in value_cols.items():
        if mode not in ("zero", "ffill"):
            raise ValueError(
                f"unknown fill mode {mode!r} for column {c!r}: "
                "use 'zero' or 'ffill'"
            )
    spans = df.groupBy(key_col).agg(
        F.min(slot_col).alias("__lo"), F.max(slot_col).alias("__hi")
    )
    dense = spans.select(
        key_col,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))
        ).alias(slot_col),
    )
    src = df
    if step > 1:
        # guard wraps the JOIN KEY itself (un-prunable, q24's pattern):
        # an off-grid slot fails the job instead of silently vanishing
        lo = F.min(slot_col).over(Window.partitionBy(key_col))
        src = df.withColumn(
            slot_col,
            F.when(
                (F.col(slot_col) - lo) % step == 0, F.col(slot_col)
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "resample_fill: slot %s is off the step-"
                        + str(step) + " grid for its key",
                        F.col(slot_col).cast("string"),
                    )
                )
            ),
        )
    joined = dense.join(src, on=[key_col, slot_col], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = []
    for c, mode in value_cols.items():
        if mode == "zero":
            filled.append(
                F.coalesce(
                    F.col(c), F.lit(0).cast(joined.schema[c].dataType)
                ).alias(c)
            )
        else:
            filled.append(F.last(F.col(c), ignorenulls=True).over(w).alias(c))
    return joined.select(key_col, slot_col, *filled)


def interpolate_fill(
    df: DataFrame,
    key_col: str,
    slot_col: str,
    value_col: str,
) -> DataFrame:
    """Time-series LINEAR interpolation over a densified slot axis —
    the ``interpolate`` companion to resample_fill's zero/ffill modes
    (the gap-fill trio of a hypertable rollup). Missing interior slots
    get ``prev + floor((next-prev)·(slot-prev_t) / (next_t-prev_t))``;
    observed slots keep their exact value. Values must be integral
    units (cents, micros): the interpolation is exact FLOOR division
    (the pmod identity, exact at any magnitude — same rationale as
    binned_range_join), so engines agree bit-for-bit, including on
    negative slopes.

    The dense axis spans each key's own [min, max] observed slots at
    UNIT step, so every gap has both neighbors — no extrapolation
    mode exists by construction. (No step parameter on purpose: a
    coarser grid needs resample_fill's off-grid raise_error guard,
    and an observation off the dense axis here would silently vanish
    in the join — pre-bucket slots to units, as q164 does with its
    hour slots.) Returns (key, slot, value, is_observed).

    Scale: spans + dense axis + one left join + two windows over the
    same (key, slot) ordering — a single sort-shuffle per key, state
    never crosses keys.
    """
    spans = df.groupBy(key_col).agg(
        F.min(slot_col).alias("__lo"), F.max(slot_col).alias("__hi")
    )
    dense = spans.select(
        key_col,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"))
        ).alias(slot_col),
    )
    obs = df.select(
        key_col, slot_col, F.col(value_col).cast("long").alias("__v")
    )
    j = dense.join(obs, [key_col, slot_col], "left")
    w_back = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(key_col)
        .orderBy(slot_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_slot = F.when(F.col("__v").isNotNull(), F.col(slot_col))
    labeled = (
        j.withColumn("__pt", F.last(obs_slot, ignorenulls=True).over(w_back))
        .withColumn("__pv", F.last("__v", ignorenulls=True).over(w_back))
        .withColumn("__nt", F.first(obs_slot, ignorenulls=True).over(w_fwd))
        .withColumn("__nv", F.first("__v", ignorenulls=True).over(w_fwd))
    )
    # exact floor division (DuckDB's // semantics): denominator > 0
    num = "((__nv - __pv) * (%s - __pt))" % slot_col
    den = "(__nt - __pt)"
    interp = F.expr(
        f"__pv + CAST(({num} - pmod({num}, {den})) div {den} AS BIGINT)"
    )
    return labeled.select(
        key_col,
        slot_col,
        F.when(F.col("__v").isNotNull(), F.col("__v"))
        .otherwise(interp)
        .cast("long")
        .alias("value"),
        F.col("__v").isNotNull().alias("is_observed"),
    )


def global_row_number(
    df: DataFrame,
    order_by: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row_number over a TOTAL order — WITHOUT the
    single-partition window ``row_number().over(Window.orderBy(...))``
    plans (every row through one task: the classic global-rank scale
    trap). It is ``global_cumsum`` of a constant 1: a range-partitioned
    per-partition running count plus each partition's offset.

    ``order_by`` must be a TOTAL order (append a unique id as the last
    key): equal keys land in one range partition deterministically,
    but their relative local order would be run-dependent otherwise.
    Ranks are identical to the single-partition formulation, at
    cluster parallelism; the only global structure is the range
    exchange any distributed sort pays.

    The rank column is non-nullable, as ``row_number`` is: the window
    SUM under it is nullable in the schema, so a ``coalesce`` with 0
    (never taken — every row counts itself) restores the contract.
    """
    ones = df.withColumn("__one", F.lit(1).cast("long"))
    return (
        global_cumsum(ones, order_by, ["__one"], num_partitions)
        .drop("__one")
        .withColumn("__one_cum", F.coalesce("__one_cum", F.lit(0).cast("long")))
        .withColumnRenamed("__one_cum", rank_col)
    )


def global_cumsum(
    df: DataFrame,
    order_by: list[str],
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running SUM of ``value_cols`` over a TOTAL order — never
    ``sum().over(Window.orderBy(...))`` (a single-partition window
    pulls every row through one task). Two phases:

    1. range-partition on the order keys + per-partition local
       cumsums (the window partitions on spark_partition_id, so it
       runs fully parallel);
    2. per-partition totals (one tiny aggregate, numPartitions rows)
       turn into cumulative offsets on the driver — the sanctioned
       scalar-sized collect — broadcast back as a lookup and added
       per partition.

    Appends ``<col>_cum`` for each value column; sums are computed in
    the columns' own type (cast to long/decimal upstream for
    exactness). ``order_by`` must be a total order (append a unique
    id)."""
    cols = [F.col(c) for c in order_by]
    rp = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = rp.withColumn("__pid", F.spark_partition_id())
    for c in value_cols:
        local = local.withColumn(f"{c}_cum", F.sum(F.col(c)).over(w))
    # checkpoint (NOT cache): the totals collect below executes the
    # local frame and the returned plan consumes it again, so the sort
    # must not run twice; the returned plan reads the checkpoint, so it
    # belongs to the caller's storage scope, and with none open the
    # ContextCleaner reclaims it when the frame is garbage-collected.
    # (Re-execution would also be CORRECT — range boundaries sample
    # deterministically for the same input — this only avoids paying
    # the sort twice.) localCheckpoint blocks are unreplicated
    # executor-local storage: losing an executor fails downstream
    # stages with lost-block errors instead of recomputing.
    local = storage.checkpoint(local)
    # partition totals from the RAW columns (sum), not max(cum):
    # max(cum) only equals the partition total when values are
    # non-negative — sums are sign-agnostic
    totals = (
        local.groupBy("__pid")
        .agg(*[F.sum(F.col(c)).alias(c) for c in value_cols])
        .collect()  # numPartitions-sized
    )
    offsets: dict[int, list] = {}
    acc = [0] * len(value_cols)
    # Row["__pid"]: attribute access on dunder-prefixed columns trips
    # pyspark's Row attribute guard — index access only
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = list(acc)
        acc = [a + (row[c] or 0) for a, c in zip(acc, value_cols)]
    off_df = local_frame(
        df.sparkSession,
        [(p, *o) for p, o in offsets.items()] or [(0, *[0] * len(value_cols))],
        ", ".join(["__pid int"] + [f"__off_{c} long" for c in value_cols]),
    )
    out = local.join(F.broadcast(off_df), "__pid", "left")
    for c in value_cols:
        out = out.withColumn(
            f"{c}_cum",
            F.col(f"{c}_cum") + F.coalesce(F.col(f"__off_{c}"), F.lit(0)),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])
