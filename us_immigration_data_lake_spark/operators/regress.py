"""Group-wise statistical modeling: OLS regression, finite-impulse
EWMA smoothing, and MAD (median-absolute-deviation) outlier bounds.

Generalizes the reference's per-group aggregate pattern
(etl.py:169-183 groups + aggregates, etl.py:355-358 avg temperature
per country) to the model-fitting aggregates an analytics engine is
expected to ship (REGR_SLOPE-family, robust outlier screens, series
smoothing).

Oracle-parity discipline (plans/queries.py rules 1-3): every moment is
an EXACT integer sum (bigint / decimal(38,0) mirroring DuckDB
HUGEINT); doubles appear only in a final fixed expression evaluated
over identical operands in both engines.

Scale: one hash-aggregate shuffle for OLS/MAD moments (partial
aggregation map-side), window-only passes for EWMA — no driver
materialization, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def groupwise_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression y = a + b*x via the closed
    form over exact integer moments.

    ``x_col`` and ``y_col`` MUST already be integer-valued (cast cents
    / counts upstream): n, Sx, Sy are summed as bigint and the cross
    moments Sxx, Sxy, Syy as decimal(38,0), so every engine sees the
    same exact integers. The slope/intercept/r² doubles are then a
    fixed arithmetic chain over those integers.

    Returns group_cols + n, slope_e6, intercept_e6, r2_e6 (micro-unit
    bigints, deterministic across engines).

    Scale: a single partial+final hash aggregate on the group keys;
    the six moments travel as one 48-byte row per group — this is the
    REGR_SLOPE shape, not a per-row window.
    """
    xi = F.col(x_col).cast("long")
    yi = F.col(y_col).cast("long")
    moments = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xi).cast("long").alias("sx"),
        F.sum(yi).cast("long").alias("sy"),
        F.sum((xi * xi).cast("decimal(38,0)")).alias("sxx"),
        F.sum((xi * yi).cast("decimal(38,0)")).alias("sxy"),
        F.sum((yi * yi).cast("decimal(38,0)")).alias("syy"),
    )
    # Exact integer numerators/denominators (decimal(38,0) == HUGEINT
    # range), converted once to double: nearest-double conversion is
    # correctly rounded in both engines, and the remaining chain is
    # fixed-order arithmetic on identical doubles.
    n_d = F.col("n").cast("decimal(38,0)")
    # Promote BEFORE multiplying: sx·sy as raw int64 overflows around
    # sf1 (sx~5e7 quantity units × sy~8e12 cents); decimal×decimal is
    # exact to 1e38, mirroring the oracle's HUGEINT products.
    sx_d = F.col("sx").cast("decimal(19,0)")
    sy_d = F.col("sy").cast("decimal(19,0)")
    num = (n_d * F.col("sxy") - (sx_d * sy_d).cast("decimal(38,0)")).cast("double")
    den_x = (n_d * F.col("sxx") - (sx_d * sx_d).cast("decimal(38,0)")).cast("double")
    den_y = (n_d * F.col("syy") - (sy_d * sy_d).cast("decimal(38,0)")).cast("double")
    # Degenerate groups: constant x → slope undefined (NULL); constant
    # x or y → r² undefined (NULL). when() guards keep ANSI mode happy;
    # the SQL mirror is NULLIF on the denominators.
    slope = F.when(den_x != 0.0, num / den_x)
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    r2 = F.when(den_x * den_y != 0.0, (num * num) / (den_x * den_y))
    return moments.select(
        *group_cols,
        F.col("n"),
        F.round(slope * 1e6).cast("long").alias("slope_e6"),
        F.round(intercept * 1e6).cast("long").alias("intercept_e6"),
        F.round(r2 * 1e6).cast("long").alias("r2_e6"),
    )


def ewma_weights(alpha: float, k: int) -> list[float]:
    """Truncated exponential kernel w_j = alpha*(1-alpha)^j, j=0..k-1.

    Computed once driver-side so Spark and any SQL oracle embed the
    SAME double literals — the weights are part of the plan, not
    recomputed per engine.
    """
    return [alpha * (1.0 - alpha) ** j for j in range(k)]


def ewma_smooth(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Finite-impulse EWMA (alpha 0.5, 4 lags): smoothed_t =
    Σ_j w_j·x_{t-j} / Σ_j w_j over the lags that exist (series heads
    renormalize over present terms).

    ``value_col`` must be integer-valued; each lag term is an exact
    integer, the weighted sum is a FIXED left-to-right chain of
    literal-coefficient multiply-adds — the identical IEEE sequence in
    any engine that evaluates the same expression text. ``order_cols``
    must end in a unique key (rule 6).

    Scale: one window pass (single shuffle on partition_cols); the
    lag() calls share one sort — Spark evaluates them in the same
    window frame, not one pass per lag.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    weights = ewma_weights(0.5, 4)
    v = F.col(value_col).cast("long")
    num: Column | None = None
    den: Column | None = None
    for j, wj in enumerate(weights):
        lag_v = v if j == 0 else F.lag(v, j).over(w)
        term = F.when(lag_v.isNotNull(), F.lit(wj) * lag_v.cast("double")).otherwise(
            F.lit(0.0)
        )
        wterm = F.when(lag_v.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return df.withColumn("ewma_e6", F.round(num / den * 1e6).cast("long"))


def group_median2(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tie_cols: list[str],
) -> DataFrame:
    """Exact DOUBLED median per group, as a bigint: 2·median == the sum
    of the two middle order statistics (== 2× the middle one for odd
    n). Staying in doubled units keeps the even-n half-point exact
    integer arithmetic — no float crosses an engine boundary.

    ``tie_cols`` break ordering ties so row_number is deterministic;
    the median VALUE is unaffected by tie order, only the scan is.

    Scale: one window shuffle on the group keys + one tiny aggregate;
    this is the exact-median plan (a full sort per group is inherent
    to exact order statistics — use approx_percentile when rank error
    is acceptable).
    """
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_v"), *[F.col(c) for c in tie_cols]
    )
    ranked = df.select(
        *group_cols, v.alias("_v"), *[F.col(c) for c in tie_cols]
    ).withColumn("_rn", F.row_number().over(w))
    counted = ranked.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    )
    # lower middle = floor((n+1)/2), upper middle = floor(n/2)+1; for
    # odd n they coincide and the sum below counts that row twice.
    mid = counted.filter(
        (F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        | (F.col("_rn") == F.floor(F.col("_n") / 2) + 1)
    )
    return mid.groupBy(*group_cols).agg(
        F.when(F.count(F.lit(1)) == 1, F.sum("_v") * 2)
        .otherwise(F.sum("_v"))
        .cast("long")
        .alias("median2")
    )


def mad_outlier_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tie_cols: list[str],
) -> DataFrame:
    """Robust per-group outlier screen: flag rows with
    |v − median| > 3 · MAD, all in exact integer arithmetic.

    Doubled-unit trick: med2 = 2·median (bigint); per-row deviation
    dev2 = |2v − med2| (bigint); mad4 = 2·median(dev2) = 4·MAD
    (bigint). The test |v−med| > s·MAD ⇔ 2·dev2 > s·mad4 — integers
    only, no epsilon anywhere.

    Returns group_cols + n, median2, mad4, n_outliers.

    Scale: two exact-median passes (two window shuffles on the same
    keys) + one final aggregate — the canonical exact-MAD plan. The
    second pass reshuffles only (keys, dev2).
    """
    v = F.col(value_col).cast("long")
    med = group_median2(df, group_cols, value_col, tie_cols)
    # no broadcast hint on the per-group stat tables: they are one row
    # per GROUP, unbounded for high-cardinality keys — AQE broadcasts
    # them when they are actually small.
    with_dev = (
        df.select(*group_cols, v.alias("_v"), *[F.col(c) for c in tie_cols])
        .join(med, group_cols)
        .withColumn("dev2", F.abs(F.lit(2) * F.col("_v") - F.col("median2")))
    )
    mad = group_median2(with_dev, group_cols, "dev2", tie_cols).withColumnRenamed(
        "median2", "mad4"
    )
    flagged = with_dev.join(mad, group_cols)
    return (
        flagged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("median2").alias("median2"),
            F.first("mad4").alias("mad4"),
            F.sum(
                (F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4")).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def holt_linear(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha_pm: int = 300,
    beta_pm: int = 100,
    horizon: int = 1,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per group (Holt 1957 —
    public; the RECURSIVE double-smoother, where ewma_smooth above is a
    truncated FIR kernel): level and trend fold over the whole ordered
    series,

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    seeded l₁ = x₁, b₁ = x₂ − x₁ (b = 0 for singleton series), plus the
    h-step forecast l_n + h·b_n. Returns (group_cols..., n, level_e6,
    trend_e6, forecast_e6).

    Exact fixed-point arithmetic end to end (oracle rule 1): the value
    column must be integer-valued; state is BIGINT micro-units,
    coefficients are permille integers, and every smoothing step
    divides by 1000 with an EXPLICIT FLOOR division
    ``(v − pmod(v, 1000)) div 1000`` — Spark's ``div`` truncates toward
    zero while DuckDB's ``//`` floors, and a negative trend hits the
    divergence; pmod-subtraction makes the dividend an exact multiple,
    where truncation and floor agree, in both engines.

    Plan shape: one groupBy collecting the ordered series into an
    array (sort_array of (order, value) structs — deterministic given
    rule 6's unique order key), then the whole recursion is ONE
    per-row aggregate() fold — no window, no iteration, no driver
    loop. The per-group series must fit in a row (the packing/
    collect_list caveat); for unbounded series run the streaming IVM
    fold instead.
    """
    if not 0 < alpha_pm <= 1000 or not 0 <= beta_pm <= 1000:
        raise ValueError("alpha_pm in (0,1000], beta_pm in [0,1000]")
    a, b_, h = int(alpha_pm), int(beta_pm), int(horizon)

    ordered = df.groupBy(*group_cols).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        *[F.col(c) for c in order_cols],
                        F.col(value_col).cast("long").alias("__x"),
                    )
                )
            ),
            lambda s: s["__x"],
        ).alias("xs")
    )

    def fdiv(expr: str) -> str:
        # floor division by 1000 that is engine-agreed on negatives
        return f"(({expr}) - pmod(({expr}), 1000)) div 1000"

    l_new = fdiv(
        f"{a} * CAST(x AS BIGINT) * 1000000 + {1000 - a} * (acc.l + acc.b)"
    )
    step = (
        "named_struct("
        f"'l', {l_new}, "
        f"'b', {fdiv(f'{b_} * (({l_new}) - acc.l) + {1000 - b_} * acc.b')}"
        ")"
    )
    fold = f"""
    CASE WHEN size(xs) = 1 THEN
      named_struct('l', CAST(element_at(xs, 1) AS BIGINT) * 1000000,
                   'b', CAST(0 AS BIGINT))
    ELSE
      aggregate(
        slice(xs, 3, size(xs) - 2),
        named_struct(
          'l', CAST(element_at(xs, 2) AS BIGINT) * 1000000,
          'b', (CAST(element_at(xs, 2) AS BIGINT)
                - CAST(element_at(xs, 1) AS BIGINT)) * 1000000),
        (acc, x) -> {step}
      )
    END
    """
    # NB seed: l1=x1, b1=x2-x1 gives l2 = x2, b2 = x2-x1 exactly under
    # the recursion, so seeding the fold AT t=2 with (x2, x2-x1) and
    # folding elements 3.. is the textbook initialization without a
    # special-cased first step.
    out = ordered.withColumn("__st", F.expr(fold))
    return out.select(
        *group_cols,
        F.size("xs").cast("long").alias("n"),
        F.col("__st.l").alias("level_e6"),
        F.col("__st.b").alias("trend_e6"),
        (F.col("__st.l") + F.lit(h) * F.col("__st.b")).cast("long").alias(
            "forecast_e6"
        ),
    )


def cusum_drift(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    k_e6: int,
    h_e6: int,
) -> DataFrame:
    """Tabular CUSUM drift detection per group (Page, Biometrika 1954 —
    public): the standard ingest-monitoring control chart a data
    pipeline runs over its daily volumes/quality metrics. Two one-sided
    cumulative sums against the series' own mean μ,

        s⁺_t = max(0, s⁺_{t−1} + (x_t − μ − k))
        s⁻_t = max(0, s⁻_{t−1} + (μ − x_t − k))

    with an alarm whenever either exceeds h (and the standard restart:
    the tripped side resets to 0). Returns per group:
    (group_cols..., n, up_alarms, down_alarms, first_alarm_idx — 1-based
    position of the first alarm or NULL, s_pos_e6, s_neg_e6 — final
    states).

    Exact integers throughout: the value column must be integer-valued,
    μ is the floor of the exact mean in micro-units ((Σx·1e6) with the
    engine-agreed pmod floor division by n), slack k and threshold h
    are micro-unit parameters, and the whole recursion is ONE per-row
    aggregate() fold over the collected ordered series (the holt_linear
    pattern — same bounded-series caveat, same rule-6 unique order
    key)."""
    k, h = int(k_e6), int(h_e6)
    if h <= 0:
        raise ValueError(f"h_e6 must be > 0, got {h}")

    ordered = df.groupBy(*group_cols).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        *[F.col(c) for c in order_cols],
                        F.col(value_col).cast("long").alias("__x"),
                    )
                )
            ),
            lambda s: s["__x"],
        ).alias("xs")
    )

    # μ_e6 = floor((Σx · 1e6) / n) via pmod-subtraction (div truncates,
    # // floors; negative sums otherwise diverge across engines)
    mu = (
        "((aggregate(xs, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"
        " * 1000000) )"
    )
    mu_floor = f"(({mu} - pmod({mu}, size(xs))) div size(xs))"

    step = f"""
      named_struct(
        'sp', CASE WHEN greatest(CAST(0 AS BIGINT),
                     acc.sp + (CAST(x AS BIGINT) * 1000000 - acc.mu - {k}))
                     > {h} THEN CAST(0 AS BIGINT)
              ELSE greatest(CAST(0 AS BIGINT),
                     acc.sp + (CAST(x AS BIGINT) * 1000000 - acc.mu - {k})) END,
        'sn', CASE WHEN greatest(CAST(0 AS BIGINT),
                     acc.sn + (acc.mu - CAST(x AS BIGINT) * 1000000 - {k}))
                     > {h} THEN CAST(0 AS BIGINT)
              ELSE greatest(CAST(0 AS BIGINT),
                     acc.sn + (acc.mu - CAST(x AS BIGINT) * 1000000 - {k})) END,
        'up', acc.up + CASE WHEN greatest(CAST(0 AS BIGINT),
                     acc.sp + (CAST(x AS BIGINT) * 1000000 - acc.mu - {k}))
                     > {h} THEN 1 ELSE 0 END,
        'down', acc.down + CASE WHEN greatest(CAST(0 AS BIGINT),
                     acc.sn + (acc.mu - CAST(x AS BIGINT) * 1000000 - {k}))
                     > {h} THEN 1 ELSE 0 END,
        'first', CASE WHEN acc.first IS NOT NULL THEN acc.first
                 WHEN greatest(CAST(0 AS BIGINT),
                     acc.sp + (CAST(x AS BIGINT) * 1000000 - acc.mu - {k}))
                     > {h}
                   OR greatest(CAST(0 AS BIGINT),
                     acc.sn + (acc.mu - CAST(x AS BIGINT) * 1000000 - {k}))
                     > {h} THEN acc.i + 1 ELSE CAST(NULL AS BIGINT) END,
        'i', acc.i + 1,
        'mu', acc.mu)
    """
    fold = f"""
      aggregate(
        xs,
        named_struct('sp', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT),
                     'up', CAST(0 AS BIGINT), 'down', CAST(0 AS BIGINT),
                     'first', CAST(NULL AS BIGINT), 'i', CAST(0 AS BIGINT),
                     'mu', {mu_floor}),
        (acc, x) -> {step}
      )
    """
    out = ordered.withColumn("__st", F.expr(fold))
    return out.select(
        *group_cols,
        F.size("xs").cast("long").alias("n"),
        F.col("__st.up").alias("up_alarms"),
        F.col("__st.down").alias("down_alarms"),
        F.col("__st.first").alias("first_alarm_idx"),
        F.col("__st.sp").alias("s_pos_e6"),
        F.col("__st.sn").alias("s_neg_e6"),
    )


def holt_winters_additive(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    period: int,
    alpha_pm: int = 300,
    beta_pm: int = 100,
    gamma_pm: int = 200,
    horizon: int = 1,
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per group
    (Winters 1960 — public): level + trend + a length-``period``
    seasonal state, the full classical forecaster over daily series
    with weekly shape. Recursions (t > 2·period seeds):

        l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}

    seeded with the textbook simple initialization: l = mean of the
    first season, b = (mean of season 2 − mean of season 1) / m,
    s_i = x_i − l for the first season's positions. Groups shorter
    than 2·period rows are dropped (the seeds need two full seasons —
    emit-nothing beats fabricating state).

    Exact fixed-point end to end (the holt_linear discipline): BIGINT
    micro-units, permille coefficients, every division the
    engine-agreed pmod-floor form — including the seed means and the
    seasonal index arithmetic. The WHOLE recursion — including the
    length-m seasonal array — is ONE per-row aggregate() fold whose
    accumulator carries the seasonal state as an array<bigint>,
    rebuilt positionally each step (O(m) per element, m is a small
    constant). Returns (group_cols..., n, level_e6, trend_e6,
    season_e6 — the seasonal component the h-step forecast uses —
    and forecast_e6 = l + h·b + s_{((n+h−1) mod m)+1}).
    """
    m = int(period)
    if m < 2:
        raise ValueError(f"period must be >= 2, got {m}")
    a, b_, g, h = int(alpha_pm), int(beta_pm), int(gamma_pm), int(horizon)

    ordered = df.groupBy(*group_cols).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        *[F.col(c) for c in order_cols],
                        F.col(value_col).cast("long").alias("__x"),
                    )
                )
            ),
            lambda s: s["__x"],
        ).alias("xs")
    ).filter(F.size("xs") >= 2 * m)

    def fdiv(expr: str, den: str) -> str:
        return f"((({expr}) - pmod(({expr}), {den})) div {den})"

    mean1 = fdiv(
        f"aggregate(slice(xs, 1, {m}), CAST(0 AS BIGINT),"
        f" (acc, x) -> acc + CAST(x AS BIGINT)) * 1000000", str(m)
    )
    mean2 = fdiv(
        f"aggregate(slice(xs, {m + 1}, {m}), CAST(0 AS BIGINT),"
        f" (acc, x) -> acc + CAST(x AS BIGINT)) * 1000000", str(m)
    )
    init = f"""
      named_struct(
        'l', {mean1},
        'b', {fdiv(f"({mean2}) - ({mean1})", str(m))},
        's', transform(sequence(1, {m}),
               j -> CAST(element_at(xs, j) AS BIGINT) * 1000000 - ({mean1})),
        'i', CAST({m} AS BIGINT))
    """
    # one step: the seasonal slot for time t is position
    # pmod(i, m) + 1 of the array (i = t-1 completed steps)
    s_old = f"element_at(acc.s, CAST(pmod(acc.i, {m}) + 1 AS INT))"
    l_new = fdiv(
        f"{a} * (CAST(x AS BIGINT) * 1000000 - {s_old})"
        f" + {1000 - a} * (acc.l + acc.b)", "1000"
    )
    b_new = fdiv(f"{b_} * (({l_new}) - acc.l) + {1000 - b_} * acc.b", "1000")
    s_new = fdiv(
        f"{g} * (CAST(x AS BIGINT) * 1000000 - ({l_new}))"
        f" + {1000 - g} * ({s_old})", "1000"
    )
    step = f"""
      named_struct(
        'l', {l_new},
        'b', {b_new},
        's', transform(sequence(1, {m}),
               j -> CASE WHEN j = pmod(acc.i, {m}) + 1 THEN {s_new}
                         ELSE element_at(acc.s, CAST(j AS INT)) END),
        'i', acc.i + 1)
    """
    fold = f"""
      aggregate(
        slice(xs, {m + 1}, size(xs) - {m}),
        {init},
        (acc, x) -> {step}
      )
    """
    out = ordered.withColumn("__st", F.expr(fold))
    fc_slot = f"CAST(pmod(size(xs) + {h} - 1, {m}) + 1 AS INT)"
    return out.select(
        *group_cols,
        F.size("xs").cast("long").alias("n"),
        F.col("__st.l").alias("level_e6"),
        F.col("__st.b").alias("trend_e6"),
        F.expr(f"element_at(__st.s, {fc_slot})").alias("season_e6"),
        F.expr(
            f"__st.l + {h} * __st.b + element_at(__st.s, {fc_slot})"
        ).cast("long").alias("forecast_e6"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between the
    ``value_col`` distributions of two groups — the standard
    distribution-drift test a pipeline runs between corpus snapshots
    (did this week's length/quality/score distribution move?), the
    distributional sibling of the mean-level CUSUM above. Returns ONE
    row: (n_a, n_b, d_num, d_den, d_stat) where

        D = max over the merged support of |F_a(v) - F_b(v)|
          = d_num / d_den,   d_num = max |n_b*C_a(v) - n_a*C_b(v)|,
                             d_den = n_a * n_b

    with C the cumulative counts — EXACT BIGINT cross-multiplication
    (no per-step double division: two CDFs differing by < 1 ulp would
    tie-break nondeterministically); d_stat divides the two exact
    integers once (oracle rule 1). Values must be orderable and
    exact (integers / strings); NULL values are excluded.

    Scale: per-value per-group counts (one groupBy — map-side
    combined, key space = distinct values), a full-outer align on the
    value, then the engine's two-phase ``global_cumsum`` over the
    merged support (range exchange + parallel per-partition cumsums +
    a numPartitions-sized offset collect) — NEVER a single-partition
    ``Window.orderBy`` cumsum; a 10^9-distinct-value support flows
    through at cluster parallelism. The final max is one aggregate."""
    from us_immigration_data_lake_spark.operators.windows import global_cumsum

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        F.col(value_col).alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).cast("long")
        .alias("__ca"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).cast("long")
        .alias("__cb"),
    )
    per_value = base.groupBy("__v").agg(
        F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb")
    )
    cum = global_cumsum(per_value, ["__v"], ["__ca", "__cb"])
    totals = base.agg(
        F.sum("__ca").alias("n_a"), F.sum("__cb").alias("n_b")
    )
    return (
        cum.crossJoin(F.broadcast(totals))  # single-row aggregate
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("n_b") * F.col("__ca_cum")
                - F.col("n_a") * F.col("__cb_cum")
            ).alias("__d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("__d").alias("d_num"))
        .select(
            "n_a",
            "n_b",
            "d_num",
            (F.col("n_a") * F.col("n_b")).alias("d_den"),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("d_stat"),
        )
    )


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    lo: int,
    width: int,
    n_bins: int,
) -> DataFrame:
    """Population Stability Index between two groups' ``value_col``
    distributions over a FIXED binning — the other standard drift
    metric next to ``ks_two_sample`` (KS sees the worst single CDF
    gap; PSI integrates shift across all bins — the pair monitoring
    dashboards run together):

        PSI = sum_i (p_i - q_i) * ln(p_i / q_i)

    with add-1-smoothed bin shares p_i = (c_a_i + 1)/(n_a + B)
    (standard zero-bin guard). Bin = clamp(floor((v - lo)/width),
    0, B-1) — lo/width/n_bins are an EXPLICIT contract (data-derived
    bounds would cost an extra pass and make two snapshots'
    binnings silently incomparable, defeating the metric's purpose).

    Exactness (the micronat rule): each bin's log-ratio integer-izes
    ONCE — L_i = round(ln((c_a+1)(n_b+B) / ((c_b+1)(n_a+B))) * 1e6) —
    and the share difference's common denominator factors out, so

        psi_num = sum_i [(c_a_i+1)(n_b+B) - (c_b_i+1)(n_a+B)] * L_i
        psi_den = (n_a+B)(n_b+B) * 1e6,   PSI = psi_num / psi_den

    is exact BIGINT up to the one final division. ALL B bins
    contribute (a bin empty in both groups still carries signal when
    n_a != n_b), so the bin axis is densified with a range frame.
    Returns one row: (n_bins, n_a, n_b, psi_num, psi_den, psi).

    Scale: one groupBy over <= B keys (map-side combined), a
    B-row densify join, one single-row totals broadcast — nothing is
    corpus-order beyond the first scan. BIGINT headroom: |psi_num| <
    B * (n+B)^2 * 2e7 — fine through n ~ 1e5 per snapshot window;
    beyond that, pre-aggregate counts and run the arithmetic in
    DECIMAL(38) upstream."""
    if width < 1 or n_bins < 1:
        raise ValueError("width and n_bins must be >= 1")
    b = int(n_bins)
    spark = df.sparkSession
    binx = F.least(
        F.lit(b - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col).cast("long") - F.lit(int(lo))) / F.lit(int(width))),
        ),
    ).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        binx.alias("__bin"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).cast("long")
        .alias("__ca"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).cast("long")
        .alias("__cb"),
    )
    per_bin = base.groupBy("__bin").agg(
        F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb")
    )
    dense = (
        spark.range(b)
        .select(F.col("id").alias("__bin"))
        .join(per_bin, "__bin", "left")
        .select(
            "__bin",
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
    )
    totals = base.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
    )
    pa = (F.col("__ca") + 1) * (F.col("n_b") + b)
    qb = (F.col("__cb") + 1) * (F.col("n_a") + b)
    l_micro = F.round(
        F.log(pa.cast("double") / qb.cast("double")) * 1e6
    ).cast("long")
    return (
        dense.crossJoin(F.broadcast(totals))  # single-row aggregate
        .select("n_a", "n_b", ((pa - qb) * l_micro).alias("__t"))
        .groupBy("n_a", "n_b")
        .agg(F.sum("__t").alias("psi_num"))
        .select(
            F.lit(b).cast("long").alias("n_bins"),
            "n_a",
            "n_b",
            "psi_num",
            ((F.col("n_a") + b) * (F.col("n_b") + b) * F.lit(1_000_000))
            .cast("long")
            .alias("psi_den"),
            F.round(
                F.col("psi_num").cast("double")
                / ((F.col("n_a") + b) * (F.col("n_b") + b)).cast("double")
                / 1e6,
                6,
            ).alias("psi"),
        )
    )


def bin_counts(
    df: DataFrame,
    value_col: str,
    lo: int,
    width: int,
    n_bins: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-binning histogram counts — the shared census primitive
    behind psi_drift and the streaming drift monitor
    (streaming/drift.py). Bin = clamp(floor((v - lo)/width), 0,
    n_bins-1), the q213 contract. Returns SPARSE counts
    (*key_cols, bin, cnt) — densify at consumption (psi_vs_census)
    so a streamed fold never carries empty bins as state. One
    map-side-combinable groupBy over <= keys x n_bins groups; NULL
    values are excluded."""
    if width < 1 or n_bins < 1:
        raise ValueError("width and n_bins must be >= 1")
    keys = list(key_cols or [])
    binx = F.least(
        F.lit(int(n_bins) - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col(value_col).cast("long") - F.lit(int(lo)))
                / F.lit(int(width))
            ),
        ),
    ).cast("long")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, binx.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def psi_vs_census(
    counts_a: DataFrame,
    census_b: DataFrame,
    n_bins: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """PSI of one-or-many binned snapshots against ONE fixed reference
    census — the factored form of ``psi_drift`` for monitors that bin
    the reference once and compare every incoming snapshot to it
    (streaming/drift.py). ``counts_a`` is sparse (*key_cols, bin, cnt)
    from ``bin_counts``; ``census_b`` is sparse (bin, cnt) over the
    SAME lo/width/n_bins contract. Identical arithmetic to psi_drift —
    add-1-smoothed shares, per-bin log-ratio integer-ized once to
    micronats, common denominators factored into exact BIGINT
    psi_num/psi_den — applied per key group over the densified bin
    axis (empty-in-both bins still carry signal when n_a != n_b).
    Returns (*key_cols, n_bins, n_a, n_b, psi_num, psi_den, psi).

    Scale: the key x bin densify frame is |keys| * n_bins rows (keys =
    snapshots under monitoring — small by construction); the reference
    census and per-key totals ride broadcast joins. Nothing here is
    corpus-order: both inputs are already censuses."""
    b = int(n_bins)
    keys = list(key_cols or [])
    spark = counts_a.sparkSession
    bins = spark.range(b).select(F.col("id").alias("bin"))
    if keys:
        # alias round-trip mints fresh attribute ids for the key-axis
        # side of the self-join (key_frame derives from counts_a;
        # identical ids on both sides fail analysis)
        key_frame = (
            counts_a.select(
                *[F.col(k).alias(f"__k_{k}") for k in keys]
            )
            .distinct()
            .crossJoin(F.broadcast(bins))
            .select(*[F.col(f"__k_{k}").alias(k) for k in keys], "bin")
        )
    else:
        key_frame = bins
    dense = (
        key_frame.join(counts_a, [*keys, "bin"], "left")
        .select(*keys, "bin", F.coalesce("cnt", F.lit(0)).alias("__ca"))
        .join(
            F.broadcast(
                census_b.select(
                    "bin", F.col("cnt").cast("long").alias("__cb")
                )
            ),
            "bin",
            "left",
        )
        .select(*keys, "bin", "__ca", F.coalesce("__cb", F.lit(0)).alias("__cb"))
    )
    tot_a = counts_a.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("n_a"))
    tot_b = census_b.agg(F.sum("cnt").cast("long").alias("n_b"))
    joined = (
        dense.join(F.broadcast(tot_a), keys) if keys
        else dense.crossJoin(F.broadcast(tot_a))
    ).crossJoin(F.broadcast(tot_b))
    pa = (F.col("__ca") + 1) * (F.col("n_b") + b)
    qb = (F.col("__cb") + 1) * (F.col("n_a") + b)
    l_micro = F.round(
        F.log(pa.cast("double") / qb.cast("double")) * 1e6
    ).cast("long")
    return (
        joined.select(*keys, "n_a", "n_b", ((pa - qb) * l_micro).alias("__t"))
        .groupBy(*keys, "n_a", "n_b")
        .agg(F.sum("__t").alias("psi_num"))
        .select(
            *keys,
            F.lit(b).cast("long").alias("n_bins"),
            "n_a",
            "n_b",
            "psi_num",
            ((F.col("n_a") + b) * (F.col("n_b") + b) * F.lit(1_000_000))
            .cast("long")
            .alias("psi_den"),
            F.round(
                F.col("psi_num").cast("double")
                / ((F.col("n_a") + b) * (F.col("n_b") + b)).cast("double")
                / 1e6,
                6,
            ).alias("psi"),
        )
    )
