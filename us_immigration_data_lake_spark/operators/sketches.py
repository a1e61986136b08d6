"""Bloom-filter membership operators, engine-portable.

A Bloom filter IS its set of set bit positions; representing that set
as a (tiny, distinct) DataFrame of bit ids instead of a packed bitset
keeps every step a relational op — build is an explode+distinct,
probe is a broadcast equi-join — and makes the whole thing
reproducible outside Spark: positions derive from ``md5_long``
(functions/hashing.py), the repo's portable 60-bit hash, so a DuckDB
oracle recomputes the filter bit-for-bit and value-checks not just
the no-false-negative contract but the exact false-positive set.

(Spark's own BloomFilterAggregate is Catalyst-internal — not callable
from the public SQL registry — and ``df.stat.bloomFilter`` collects
the filter to the driver; neither shape survives an oracle or a
100 TB probe side. This formulation does: the built bit set is at
most ``num_bits`` distinct ids (~k·n before saturation), broadcast to
the probe side like any small dim.)

Use for selective pre-join pruning: build over the selective side's
keys, probe the fact side, and filter fact rows whose keys cannot
match before paying the join shuffle — the manual form of the runtime
row-level pruning Catalyst injects, but materializable, persistable,
and cross-engine checkable. md5 costs ~5-10× xxhash64 per call; at
100 TB swap ``md5_long`` for ``F.xxhash64`` when no external oracle
needs to replay the filter (same operator shape, one expression).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.hashing import md5_long

# One size per sketch family: a state built at one size and merged or
# read at another would be silently wrong, so every build, merge and
# estimate of a family reads the same constant.
BLOOM_NUM_HASHES = 5
KMV_K = 64
COUNTMIN_DEPTH = 4
HLL_LOG2M = 6


def _bit_pos(key: Column, seed: int, num_bits: int) -> Column:
    """Portable bit position: md5_long('<seed>|<key>') % num_bits.
    DuckDB spelling:
    ('0x' || substr(md5(<seed> || '|' || key::VARCHAR), 1, 15))::BIGINT
        % num_bits
    """
    return md5_long(
        F.concat_ws("|", F.lit(seed).cast("string"), key.cast("string"))
    ) % F.lit(int(num_bits))


def bloom_build_bits(
    build: DataFrame, key: str, num_bits: int = 200_000
) -> DataFrame:
    """The filter: distinct bit positions set by the build keys.
    One explode (×BLOOM_NUM_HASHES) + distinct; ≤ num_bits rows."""
    positions = F.array(
        *[_bit_pos(F.col(key), i, num_bits) for i in range(BLOOM_NUM_HASHES)]
    )
    # NULL keys carry no membership meaning and would diverge from the
    # documented DuckDB replay (concat_ws skips NULLs, || propagates
    # them) — excluded on both build and probe sides by definition.
    return (
        build.filter(F.col(key).isNotNull())
        .select(F.explode(positions).alias("__bit"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probe: DataFrame,
    probe_key: str,
    num_bits: int = 200_000,
) -> DataFrame:
    """Probe keys against a built bit set: (probe_key, might_match
    BOOLEAN). might_match is true iff ALL the key's positions are set
    — guaranteed true for every key the filter was built from.

    Plan: explode probe ×BLOOM_NUM_HASHES, one BROADCAST equi-join against
    the bit set, groupBy probe key with a partial-agged min(hit) —
    the probe side never shuffles more than its exploded keys.
    """
    positions = F.array(
        *[_bit_pos(F.col(probe_key), i, num_bits) for i in range(BLOOM_NUM_HASHES)]
    )
    exploded = probe.filter(F.col(probe_key).isNotNull()).select(
        F.col(probe_key), F.explode(positions).alias("__bit")
    )
    hits = exploded.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), "__bit", "left"
    )
    return hits.groupBy(probe_key).agg(
        (F.min(F.coalesce(F.col("__set"), F.lit(0))) == 1).alias("might_match")
    )


def bloom_contract(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    max_fp_rate: float = 0.05,
    num_bits: int = 200_000,
) -> DataFrame:
    """One-row exact summary of Bloom membership vs true membership.

    Returns (n_members BIGINT, member_misses BIGINT, n_non_members
    BIGINT, fp_count BIGINT, fp_within_bound BOOLEAN):
    ``member_misses`` is 0 by construction (no false negatives);
    ``fp_count`` is deterministic — the md5-derived filter admits a
    fixed set of non-member keys — so an oracle replaying the hashes
    reproduces it exactly, not just its bound.

    Counts are per DISTINCT probe key: ``bloom_probe`` aggregates per
    key, so duplicate probe rows must not inflate one side of the
    member/non-member split (they would, via the truth-join fan-out).
    """
    bits = bloom_build_bits(build, build_key, num_bits)
    probe_keys = probe.select(probe_key).filter(
        F.col(probe_key).isNotNull()
    ).distinct()
    tagged = bloom_probe(bits, probe_keys, probe_key, num_bits)
    truth = probe_keys.join(
        build.select(F.col(build_key).alias(probe_key)).distinct(),
        on=probe_key,
        how="left_semi",
    ).select(F.col(probe_key), F.lit(True).alias("is_member"))
    joined = tagged.join(truth, on=probe_key, how="left").select(
        "might_match", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    fp = F.sum(
        F.when(~F.col("is_member") & F.col("might_match"), 1).otherwise(0)
    )
    non = F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
    return joined.agg(
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_members"),
        F.sum(F.when(F.col("is_member") & ~F.col("might_match"), 1).otherwise(0))
        .cast("long")
        .alias("member_misses"),
        non.cast("long").alias("n_non_members"),
        fp.cast("long").alias("fp_count"),
        (fp <= F.lit(float(max_fp_rate)) * non).alias("fp_within_bound"),
    )


def _k_smallest(hashes: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per group, the KMV_K smallest ``__h`` rows, with their rank kept as
    ``__rn``. The single definition of the KMV rank-k step (shared by
    build, state extraction, and merge): the rank filter compiles to
    Spark's WindowGroupLimit pushdown, so each partition keeps only
    its local top-k candidates before the shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("__h")
    return hashes.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= KMV_K
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """K-minimum-values distinct-count sketch, PORTABLE: built on
    md5_long so an external engine replays the estimate bit-for-bit
    (unlike approx_count_distinct's HLL, which is
    implementation-defined — q74 checks that one only within
    tolerance).

    Estimator: with the k-th smallest of the distinct 60-bit hashes at
    ``kth``, est = (k-1)·2^60 div kth (exact integer floor division —
    no double rounding to diverge on). Groups with fewer than k
    distinct hashes report their exact count (the sketch IS exact
    below k).

    Scale: distinct → rank-k per group (``_k_smallest``) — the sketch
    never materializes a full per-group sort. The k hashes per group
    are also the mergeable state: union two groups' hash sets, re-take
    the k smallest, re-estimate.
    """
    from us_immigration_data_lake_spark.functions.hashing import (
        MD5_LONG_BITS,
        md5_long,
    )

    m = 1 << MD5_LONG_BITS
    h = md5_long(F.col(value_col).cast("string"))
    # NULL values carry no distinct-count meaning and would rank
    # differently across engines (Spark orders NULL first, DuckDB
    # last) — excluded by definition, mirroring bloom_build_bits.
    distinct_hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("__h"))
        .distinct()
    )
    kept = _k_smallest(distinct_hashes, group_cols)
    return (
        kept.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max(F.when(F.col("__rn") == KMV_K, F.col("__h"))).alias("kth_hash"),
        )
        .select(
            *group_cols,
            F.col("kth_hash"),
            F.when(F.col("kth_hash").isNull(), F.col("n_kept"))
            .otherwise(
                F.expr(
                    f"CAST((CAST({KMV_K - 1} AS DECIMAL(38,0)) * "
                    f"CAST({m} AS DECIMAL(38,0))) div kth_hash AS BIGINT)"
                )
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


def kmv_hashes(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """The KMV sketch's mergeable STATE: per group, the k smallest
    distinct md5_long hashes as (group_cols..., __h) rows. Same
    WindowGroupLimit-partial plan as kmv_distinct; NULL values are
    excluded (no distinct meaning)."""
    from us_immigration_data_lake_spark.functions.hashing import md5_long

    h = md5_long(F.col(value_col).cast("string"))
    distinct_hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("__h"))
        .distinct()
    )
    return _k_smallest(distinct_hashes, group_cols).drop("__rn")


def kmv_union(sk_a: DataFrame, sk_b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two KMV states: union the hash sets, re-take the k
    smallest per group — the closure property that makes KMV a
    distributed sketch (states merge associatively, like Spark's own
    partial aggregates)."""
    merged = sk_a.unionByName(sk_b).distinct()
    return _k_smallest(merged, group_cols).drop("__rn")


def kmv_estimate(sk: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distinct-count estimate from a KMV state (exact below k — same
    estimator as kmv_distinct)."""
    from us_immigration_data_lake_spark.functions.hashing import MD5_LONG_BITS

    m = 1 << MD5_LONG_BITS
    agg = sk.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("__h").alias("max_h"),
    )
    return agg.select(
        *group_cols,
        F.when(F.col("n_kept") < KMV_K, F.col("n_kept"))
        .otherwise(
            F.expr(
                f"CAST((CAST({KMV_K - 1} AS DECIMAL(38,0)) * "
                f"CAST({m} AS DECIMAL(38,0))) div max_h AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_distinct"),
    )


def kmv_jaccard(sk_a: DataFrame, sk_b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Jaccard similarity estimate between two keyed sets from their
    KMV states alone (no rescan of the data): with M = the k smallest
    hashes of A∪B, estimate J = |M ∩ A ∩ B| / |M| — the standard
    k-min-values Jaccard estimator. Exact when |A∪B| ≤ k.

    Returns group_cols + n_union_kept, n_both, jaccard_permille
    (integer permille — exact arithmetic end to end).
    """
    union_k = kmv_union(sk_a, sk_b, group_cols)
    in_a = union_k.join(sk_a, [*group_cols, "__h"], "left_semi")
    both = in_a.join(sk_b, [*group_cols, "__h"], "left_semi")
    n_union = union_k.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_union_kept")
    )
    n_both = both.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    return (
        n_union.join(n_both, group_cols, "left")
        .select(
            *group_cols,
            "n_union_kept",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.expr(
                "CAST((coalesce(n_both, 0) * 1000) div n_union_kept AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


def countmin_build(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Portable count-min sketch of key frequencies: a (row, bucket,
    count) DataFrame of depth×width cells — row r hashes the key with
    md5_long seed r. Build is one explode(×depth) + groupBy(cell);
    cells are the mergeable state (union sketches by summing cells).

    Guarantee: point estimates never undercount, and overcount by at
    most ε·N with probability 1-δ, ε = e/width, δ = e^-depth — the
    standard CM bound, exact integer arithmetic throughout.

    The guarantee requires NON-NEGATIVE weights (a negative weight can
    drive a colliding cell below another key's true total — inherent
    to count-min, not to this implementation); negative weights raise
    at evaluation time. NULL weights count as 0 on both the sketch and
    any truth the caller compares against.
    """
    w = (
        F.coalesce(
            F.when(
                F.col(weight_col).cast("long") < 0,
                F.raise_error(
                    F.concat(
                        F.lit("countmin_build: negative weight "),
                        F.col(weight_col).cast("string"),
                        F.lit(" breaks the never-undercount guarantee"),
                    )
                ).cast("long"),
            ).otherwise(F.col(weight_col).cast("long")),
            F.lit(0).cast("long"),
        )
        if weight_col
        else F.lit(1).cast("long")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("__row"),
                _bit_pos(F.col(key_col), r, width).alias("__bucket"),
            )
            for r in range(COUNTMIN_DEPTH)
        ]
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.explode(cells).alias("c"), w.alias("__w"))
        .groupBy(F.col("c.__row").alias("__row"), F.col("c.__bucket").alias("__bucket"))
        .agg(F.sum("__w").cast("long").alias("__count"))
    )


def countmin_query(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 2048,
) -> DataFrame:
    """Point-frequency estimates: per key, MIN over its depth cells
    (missing cell → 0). Keys explode ×depth and broadcast-join the
    sketch — the query side never shuffles the sketch."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("__row"),
                _bit_pos(F.col(key_col), r, width).alias("__bucket"),
            )
            for r in range(COUNTMIN_DEPTH)
        ]
    )
    exploded = keys.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col),
        F.explode(cells).alias("c"),
    ).select(key_col, F.col("c.__row").alias("__row"), F.col("c.__bucket").alias("__bucket"))
    joined = exploded.join(F.broadcast(sketch), ["__row", "__bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("__count"), F.lit(0)))
        .cast("long")
        .alias("est_count")
    )


# ---------------------------------------------------------------------------
# HyperLogLog — the third sketch family (KMV estimates distinct via
# order statistics, count-min estimates frequency; HLL estimates
# distinct in O(m) registers with ~1.04/sqrt(m) relative error).
# Portable by the same rule as the others: registers derive from
# md5_long, the estimator is exact integer arithmetic, so an external
# engine replays the state AND the estimate bit-for-bit.
# ---------------------------------------------------------------------------

# α_m constants from Flajolet, Fusy, Gandouet, Meunier (2007),
# "HyperLogLog: the analysis of a near-optimal cardinality estimation
# algorithm" (AofA), scaled to exact parts-per-million so the bias
# correction never involves a float: α64=0.709 for the m = 2^HLL_LOG2M
# = 64 registers.
_HLL_ALPHA_PPM = 709000


def hll_bitlen_sql(col: str, bits: int) -> str:
    """Integer bit-length (floor(log2(w))+1, 0 for w=0) as a CASE
    chain — shared SQL text for the Spark expression and any external
    oracle. A float log2 would round wrong exactly at the powers of
    two that matter (log2(2^54-1) rounds to 54.0 in IEEE double);
    the comparison chain cannot."""
    whens = " ".join(
        f"WHEN {col} >= {1 << (k - 1)} THEN {k}" for k in range(bits, 0, -1)
    )
    return f"CASE {whens} ELSE 0 END"


def hll_registers(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """HLL state: per group, (register id j, max leading-zero rank).
    j = top HLL_LOG2M bits of the 60-bit portable hash, rho = position of
    the highest set bit in the remaining w bits counted from the top
    (w=0 → wbits+1). Only HIT registers materialize — at most m rows
    per group — and the groupBy(max) is partial-aggregated map-side,
    so the full scan reduces to m-row states before any shuffle.
    NULLs carry no distinct-count meaning and are excluded (same
    convention as kmv_distinct / bloom_build_bits)."""
    from us_immigration_data_lake_spark.functions.hashing import (
        MD5_LONG_BITS,
        md5_long,
    )

    wbits = MD5_LONG_BITS - HLL_LOG2M
    h = md5_long(F.col(value_col).cast("string"))
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("__hll_h"))
        .select(
            *group_cols,
            F.expr(f"__hll_h div {1 << wbits}").alias("__j"),
            F.expr(f"__hll_h % {1 << wbits}").alias("__w"),
        )
    )
    rho = F.expr(f"{wbits + 1} - ({hll_bitlen_sql('__w', wbits)})")
    return (
        rows.select(*group_cols, "__j", rho.alias("__rho"))
        .groupBy(*group_cols, "__j")
        .agg(F.max("__rho").cast("int").alias("max_rho"))
    )


def hll_merge(
    sk_a: DataFrame, sk_b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union two HLL states: per (group, register), the max rank —
    the closure property that makes HLL a distributed sketch. Exact:
    merge(HLL(A), HLL(B)) is bit-identical to HLL(A ∪ B)."""
    return (
        sk_a.unionByName(sk_b)
        .groupBy(*group_cols, "__j")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
    )


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate from an HLL state, exact-integer: the
    harmonic sum Z = Σ 2^-rho_j is scaled by 2^(wbits+1) so every
    term (and the m-n implicit zero registers' 2^0 terms) is a plain
    BIGINT; the raw estimate α_ppm·m²·scale div S div 10^6 is one
    decimal integer division — no float crosses an engine boundary.
    Raw HLL (no small/large-range correction): callers targeting
    n < 2.5m should use kmv_distinct, which is exact there."""
    from us_immigration_data_lake_spark.functions.hashing import MD5_LONG_BITS

    m = 1 << HLL_LOG2M
    wbits = MD5_LONG_BITS - HLL_LOG2M
    scale = 1 << (wbits + 1)
    alpha_ppm = _HLL_ALPHA_PPM
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.expr(f"shiftright(CAST({scale} AS BIGINT), max_rho)"))
        .cast("long")
        .alias("__s_present"),
    )
    s_total = f"(__s_present + ({m} - __n) * CAST({scale} AS BIGINT))"
    return agg.select(
        *group_cols,
        F.expr(
            f"CAST((CAST({alpha_ppm} AS DECIMAL(38,0)) * {m * m} * {scale})"
            f" div {s_total} div 1000000 AS BIGINT)"
        ).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram sketch — the QUANTILE member of the portable
# sketch family (KMV/HLL: distinct, count-min: frequency). Unlike
# approx_percentile's KLL-style summary (implementation-defined, only
# tolerance-checkable), a fixed-bin histogram is exact integer state:
# mergeable by cell addition, and its quantile estimator is one floor
# division — an external engine replays both bit-for-bit.
# ---------------------------------------------------------------------------


def histogram_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: int,
    width: int,
    nbins: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Histogram state: per group, (bin, count) over the integer
    domain [lo, lo + width·nbins); values outside clip into the edge
    bins (count preserved — quantiles of clipped mass sit at the
    domain edge, they do not vanish). One groupBy on (group, bin):
    partial-aggregated map-side, ≤ nbins rows per group cross the
    shuffle. Merge = unionByName + sum(n) (see histogram_merge).
    NULLs are excluded (no rank meaning).

    ``weight_col`` (integral units, NULL → 0) makes the bin mass a
    weighted count, so histogram_quantile reads WEIGHTED quantiles
    from the same state — q101's exact weighted median is the
    calibration oracle. Weights must be non-negative (negative mass
    has no quantile meaning); the plan embeds a raise_error guard,
    same policy as countmin_build."""
    v = F.col(value_col).cast("long")
    # exact integer floor division (pmod identity) — F.floor(x / w)
    # promotes to double and mis-bins integral inputs >= 2^53
    d = f"(CAST(`{value_col}` AS BIGINT) - ({int(lo)}))"
    raw = F.expr(f"({d} - pmod({d}, {int(width)})) div {int(width)}")
    bin_id = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("long")
    if weight_col is None:
        mass = F.lit(1).cast("long")
    else:
        mass = F.coalesce(
            F.when(
                F.col(weight_col).cast("long") < 0,
                F.raise_error(
                    F.concat(
                        F.lit("histogram_build: negative weight "),
                        F.col(weight_col).cast("string"),
                    )
                ).cast("long"),
            ).otherwise(F.col(weight_col).cast("long")),
            F.lit(0).cast("long"),
        )
    return (
        df.filter(v.isNotNull())
        .select(*group_cols, bin_id.alias("bin"), mass.alias("__m"))
        .groupBy(*group_cols, "bin")
        .agg(F.sum("__m").cast("long").alias("n"))
    )


def histogram_merge(
    sk_a: DataFrame, sk_b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union two histogram states: cell addition — exact, associative."""
    return (
        sk_a.unionByName(sk_b)
        .groupBy(*group_cols, "bin")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def histogram_quantile(
    sk: DataFrame,
    group_cols: list[str],
    q_permille: int,
    lo: int,
    width: int,
) -> DataFrame:
    """Quantile estimate from a histogram state, exact-integer: find
    the first bin where the running count reaches ceil(q·N/1000), then
    interpolate uniformly inside it with floor division —
    est = lo + bin·width + ((target - cum_before) · width) div n_bin.
    Determinism: ceil-target (not a double multiply), integer div,
    ties impossible. Error bound: ± one bin width by construction.
    """
    from pyspark.sql import Window as _W

    if not 0 < q_permille <= 1000:
        raise ValueError("q_permille must be in (0, 1000]")
    cum = (
        _W.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(_W.unboundedPreceding, -1)
    )
    tot = _W.partitionBy(*group_cols)
    ranked = (
        sk.withColumn("cum_before", F.coalesce(F.sum("n").over(cum), F.lit(0)))
        .withColumn("total", F.sum("n").over(tot))
        .withColumn(
            "target",
            F.expr(
                f"CAST((total * {int(q_permille)} + 999) div 1000 AS BIGINT)"
            ),
        )
        .filter(
            (F.col("cum_before") < F.col("target"))
            & (F.col("cum_before") + F.col("n") >= F.col("target"))
        )
    )
    est = F.expr(
        f"CAST({lo} + bin * {width} + "
        f"((target - cum_before) * {width}) div n AS BIGINT)"
    )
    return ranked.select(*group_cols, est.alias(f"p{q_permille}_est"))


def countmin_inner_product(
    sk_a: DataFrame, sk_b: DataFrame, depth: int | None = None
) -> DataFrame:
    """Equi-join SIZE estimate from two count-min sketches: the true
    size |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k) is estimated as
    min over rows r of Σ_bucket cmA[r][b]·cmB[r][b] — the
    count-min inner-product estimator (Cormode & Muthukrishnan 2005),
    which NEVER undercounts (collisions only add mass) and
    overcounts by at most ε·|A|·|B| per row pair. The planner's
    question — "can I afford this join?" — answered from two
    depth×width states without touching either table.

    One (row, bucket) equi-join of two ≤depth·width-row states, one
    aggregate. Exact integers throughout. Returns one row:
    (est_join_size BIGINT).
    """
    # depth is DERIVED from the states (max row id + 1), never trusted
    # from the caller: passing depth > the build depth would seed
    # phantom zero rows into the MIN and silently undercount — the
    # exact guarantee violation this function exists to rule out. The
    # two model-sized aggregates below also catch a row-count mismatch
    # (sketches built with different depths cannot be compared).
    d_a = sk_a.agg(F.max("__row")).collect()[0][0]
    d_b = sk_b.agg(F.max("__row")).collect()[0][0]
    if d_a is None or d_b is None:
        # an EMPTY sketch is well-defined: its side has no rows, so
        # the true join size — and therefore the estimate — is 0
        # (never-undercount holds trivially). Empty input must not
        # fail the planner question it exists to answer.
        return sk_a.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("est_join_size")
        )
    if d_a != d_b:
        raise ValueError(
            f"sketch depth mismatch: {d_a + 1} vs {d_b + 1} rows — "
            "inner products need identically-parameterized builds"
        )
    if depth is None:
        depth = int(d_a) + 1
    elif depth != d_a + 1:
        raise ValueError(
            f"depth={depth} does not match the sketches' {d_a + 1} rows"
        )
    a = sk_a.select("__row", "__bucket", F.col("__count").alias("__ca"))
    b = sk_b.select("__row", "__bucket", F.col("__count").alias("__cb"))
    per_row = (
        a.join(b, ["__row", "__bucket"])
        .groupBy("__row")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).cast("long").alias("__ip"))
    )
    # a row with NO overlapping cells contributes inner product 0 and
    # must participate in the MIN — re-seed all depth rows explicitly
    rows = per_row.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("__row")
    )
    return (
        rows.join(per_row, "__row", "left")
        .agg(
            F.min(F.coalesce(F.col("__ip"), F.lit(0)))
            .cast("long")
            .alias("est_join_size")
        )
    )


def histogram_rank(
    sk: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: int,
    width: int,
    nbins: int,
) -> DataFrame:
    """Percentile-rank scoring from a histogram state — the INVERSE
    of histogram_quantile (value → estimated permille rank), the
    normalization/calibration primitive: score a value against a
    distribution using only the sketch. rank ≈ (mass strictly below
    the value's bin + uniform partial mass within it) / total, exact
    integer permille with floor division. Probe values clip into the
    domain exactly as the build does, so ranks stay in [0, 1000].

    Plan: broadcast the (exactly nbins per group) CDF rows onto the
    probes — probes never shuffle; one map-side lookup per row.

    The CDF is DENSIFIED to all nbins bins per group before the
    cumulative sums: histogram_build materializes only hit bins, so a
    probe landing in a gap bin of a populated group would otherwise
    miss the (group, bin) join and score NULL instead of the mass
    below it (r4 advisor finding). A gap bin carries n=0 and the
    running cum_before/total of its group, so its rank is exact.
    """
    from pyspark.sql import Window as _W

    cum = (
        _W.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(_W.unboundedPreceding, -1)
    )
    tot = _W.partitionBy(*group_cols)
    all_bins = (
        sk.select(*group_cols)
        .distinct()
        .select(
            *group_cols,
            F.explode(F.sequence(F.lit(0), F.lit(int(nbins) - 1))).alias(
                "bin"
            ),
        )
        .select(*group_cols, F.col("bin").cast("long").alias("bin"))
    )
    dense = all_bins.join(sk, [*group_cols, "bin"], "left").select(
        *group_cols, "bin", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    cdf = dense.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(cum), F.lit(0))
    ).withColumn("total", F.sum("n").over(tot))
    d = f"(CAST(`{value_col}` AS BIGINT) - ({int(lo)}))"
    raw = F.expr(f"({d} - pmod({d}, {int(width)})) div {int(width)}")
    probe_bin = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast(
        "long"
    )
    carried = [c for c in probes.columns]
    joined = probes.withColumn("bin", probe_bin).join(
        F.broadcast(cdf), [*group_cols, "bin"], "left"
    )
    # rank = (mass below the bin + the bin's mass scaled by the
    # value's in-bin position) / total, everything in exact
    # width-scaled integer units before ONE permille floor division.
    # Every probe column is carried through — the score is a derived
    # FEATURE of the probe row, not a lookup result to re-join.
    denom = F.coalesce(F.col("total"), F.lit(0)) * F.lit(int(width))
    return joined.select(
        *carried,
        F.when(denom == 0, F.lit(None).cast("long"))
        .otherwise(F.expr(
            f"CAST(((coalesce(cum_before, 0) * {int(width)} "
            f"+ coalesce(n, 0) * (least(greatest(CAST(`{value_col}` AS BIGINT)"
            f" - ({int(lo)}), 0), {int(width) * int(nbins) - 1})"
            f" % {int(width)})) * 1000) div (total * {int(width)}) AS BIGINT)"
        ))
        .alias("rank_permille"),
    )
