"""Join operators (SURVEY.md §2.3).

The reference has two joins: a composite-key inner self-join of two
aggregates of one source (etl.py:186 — an anti-pattern we re-express as
a single groupBy, see aggregate.py) and a left join onto a lowercased
name key (etl.py:388). Neither broadcasts although both right sides are
tiny dims. Here every dim join broadcasts explicitly; at 100 TB a
shuffled sort-merge join against a 288-row lookup is pure waste.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Fact ⋈ dimension with a broadcast hint on the dim side.

    With AQE on, Spark would often convert at runtime anyway, but the
    hint removes the initial shuffle planning entirely and is exact for
    known-small dims (nation=25, region=5 rows; reference lookup=288).
    """
    on_arg = list(on) if isinstance(on, Sequence) and not isinstance(on, str) else on
    return fact.join(F.broadcast(dim), on=on_arg, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of left with ≥1 match in right; right columns never
    materialize → Catalyst can plan a broadcast/hash LeftSemi with only
    the join keys shipped."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of left with NO match in right (NOT EXISTS)."""
    return left.join(right, on=on, how="left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: left rows get a random-but-
    deterministic salt (hash of a unique row id mod ``salt``), the
    right side is replicated ``salt`` ways, and the join runs on
    (key, salt) — a hot key's rows now spread over ``salt`` reducers
    instead of one. AQE's skew-join splitting handles moderate skew
    automatically; salting is the explicit tool for the pathological
    key that is 30% of a 100 TB fact.

    Cost: right side inflates ×salt — use for small/medium right sides
    or pre-filter to the hot keys (hybrid: salt only rows whose key is
    in the known-hot set).

    Only left-side-preserving joins are valid: an unmatched RIGHT row
    exists once per salt replica, so right/full outer joins would
    duplicate it ``salt`` times — rejected up front.
    """
    normalized = how.lower().replace("_", "")
    if normalized not in ("inner", "left", "leftouter", "leftsemi", "semi",
                          "leftanti", "anti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, not {how!r}: "
            "unmatched right rows are replicated per salt"
        )
    # Salt from a per-row unique id, NOT a hash of the row's columns:
    # byte-identical duplicate rows on the hot key are exactly the
    # pathological-skew case, and a content hash would send them all to
    # one reducer. The join result is salt-value-independent (the right
    # side is replicated across every salt), so nondeterministic ids
    # are safe here.
    l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)),
    )
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l.join(r, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the nearest right row on the
    same keys — ``direction="backward"`` (default) takes the most
    recent right row with right_ts <= left_ts; ``"forward"`` takes the
    earliest right row with right_ts >= left_ts.

    Implemented as the scalable merge pattern — tag and union both
    sides, one shuffle+sort on (keys, ts), then a running
    last/first-non-null window carries the nearest right values onto
    left rows. No range cross-product, no broadcast: cost is one
    sort-shuffle of |left|+|right|, which survives 100× scale-up (the
    naive inequality-join plan is a broadcast-nested-loop that does
    not).

    ``tiebreak``: extra right-side ordering column so multiple right
    rows at one timestamp resolve deterministically (backward: latest
    wins; forward: earliest wins).

    ``tolerance``: maximum |left_ts - matched right_ts| (same units as
    the ts columns, which must be integral when set — cast timestamps
    to epoch micros first); matches farther away yield NULL values,
    preserving the left row (left-join semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    backward = direction == "backward"
    lcols = left.columns
    lpayload = [c for c in lcols if c not in keys]
    struct_fields = [F.col(v).alias(v) for v in right_vals]
    # Right rows must sort on the side of the left row that the frame
    # scans: before it (backward, frame ends at current) or after it
    # (forward, frame starts at current). Equal timestamps match in
    # both directions, so the side flag breaks ts ties accordingly.
    r_side, l_side = (0, 1) if backward else (1, 0)
    # Left sentinel tiebreak keeps left rows outside the right rows'
    # tiebreak ordering at equal (ts, side) — only relevant when a
    # right row shares ts AND side ordering with left, which the side
    # flag already precludes; the extreme value is belt-and-braces.
    l_tb = (2**63 - 1) if backward else -(2**63)
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(r_side).alias("__side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long").alias("__tb"),
        F.struct(
            *struct_fields, F.col(right_ts).alias("__mts")
        ).alias("__rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpayload],
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(l_tb).alias("__tb"),
        F.lit(None).cast(r.schema["__rv"].dataType).alias("__rv"),
        *lpayload,
    )
    merged = r.unionByName(l)
    base = Window.partitionBy(*keys).orderBy(
        F.asc("__ts"), F.asc("__side"), F.asc("__tb")
    )
    if backward:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = merged.withColumn(
            "__near_rv", F.last("__rv", ignorenulls=True).over(w)
        )
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        carried = merged.withColumn(
            "__near_rv", F.first("__rv", ignorenulls=True).over(w)
        )
    matched = F.col("__near_rv").isNotNull()
    if tolerance is not None:
        gap = F.abs(
            F.col("__ts").cast("long")
            - F.col("__near_rv")["__mts"].cast("long")
        )
        matched = matched & (gap <= F.lit(int(tolerance)))
    out = carried.filter(F.col("__side") == F.lit(1 if backward else 0)).select(
        *lcols,
        *[F.when(matched, F.col("__near_rv")[v]).alias(v) for v in right_vals],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
) -> DataFrame:
    """Non-equi interval join: left.point ∈ [right.lo, right.hi).

    Broadcast-nested-loop when right is small (the only sane plan);
    at scale, bucket both sides by a coarse range key first.
    """
    r = F.broadcast(right)
    cond = (left[point_col] >= r[lo_col]) & (left[point_col] < r[hi_col])
    return left.join(r, on=cond, how="inner")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
    keys: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Scale path for the interval join: left.point ∈ [right.lo, right.hi)
    as an EQUI-join on a coarse bin key instead of a broadcast-nested-loop.

    Each left point belongs to exactly one bin (floor(point/width)); each
    right interval explodes to the bins it covers (floor(lo/w) ..
    floor((hi-1)/w), hi exclusive). Matching pairs meet in exactly one
    bin — the point's — so the exact predicate applied after the
    shuffle-hash join yields each pair once, no dedup pass.

    Cost: |right| × ceil(interval/width) exploded rows + one hash
    shuffle on the bin key — this survives two large sides, which the
    nested-loop plan in ``range_join`` does not. Pick ``bin_width`` ≈
    the typical interval length: width ≫ interval inflates bucket
    populations (more false candidates to filter), width ≪ interval
    inflates the explode factor. Point/lo/hi must be integral (cast
    timestamps to epoch micros first); column names must be disjoint
    across the two sides.

    ``keys``: extra equi-join pairs (left_col, right_col) — e.g. the
    user id in a per-user interval match. They MUST be join keys, not
    post-filters: joining on (key, bin) shards each time bucket by key,
    while bin-only would pair every key in the bucket and filter later
    (quadratic in bucket population at scale).
    """

    w = int(bin_width)

    def _floor_bin(col_name: str, offset: int = 0) -> Column:
        # Exact int64 floor division. F.floor(col / width) promotes to
        # DOUBLE, so integral inputs >= 2^53 (epoch nanos) would round
        # and bin wrong — silently dropping or duplicating matches.
        # Instead: a - pmod(a, w) is an exact multiple of w (pmod is
        # the positive modulus), and integral `div` on an exact
        # multiple IS floor division — no float at any magnitude.
        # (Sole edge: a within w of INT64_MIN underflows the subtract.)
        # The identifier is backtick-quoted (embedded backticks
        # doubled, Spark's escape) so reserved words and names with
        # spaces/dashes parse as identifiers, never as expressions.
        q = "`" + col_name.replace("`", "``") + "`"
        a = f"(CAST({q} AS BIGINT) + ({int(offset)}))"
        return F.expr(f"({a} - pmod({a}, {w})) div {w}")

    lb = left.withColumn("__bin", _floor_bin(point_col))
    rb = (
        right.filter(F.col(hi_col) > F.col(lo_col))
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    _floor_bin(lo_col),
                    _floor_bin(hi_col, offset=-1),
                )
            ),
        )
    )
    cond = lb["__bin"] == rb["__bin"]
    for lkey, rkey in keys or []:
        cond = cond & (lb[lkey] == rb[rkey])
    out = lb.join(rb, on=cond, how="inner").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    return out.drop("__bin")
