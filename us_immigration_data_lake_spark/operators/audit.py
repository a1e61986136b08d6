"""Data-quality audit operators: referential-integrity checks and
single-pass column profiling (SURVEY.md §2 extension — the checks a
lakehouse runs before publishing a table).

Generalizes the reference's implicit star-schema contract (etl.py
builds fact tables keyed to its dimension tables but never validates
the keys): here orphan detection is an explicit, cheap, distributed
operator.

Scale design:
- ``referential_audit``: one LEFT ANTI join per declared relationship
  — key-shuffle (or broadcast when the parent is a dim) and a count;
  no row payload survives the join, so the shuffle carries keys only.
- ``profile_table``: ONE full-scan aggregation computing every
  column's null count / distinct count / min / max simultaneously,
  then a tiny unpivot of the single result row. Never one pass per
  column — at 100 TB the scan IS the cost, so the profile must stay
  single-pass. Exact distincts shuffle per column; pass
  ``approx=True`` to swap in HLL (approx_count_distinct) and keep the
  profile shuffle-free for interactive use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def referential_audit(
    relationships: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Orphan counts for each (name, child, child_key, parent, parent_key).

    Returns one row per relationship:
    (relationship STRING, child_rows BIGINT, orphan_rows BIGINT).
    ``child_rows`` counts non-null child keys (a NULL FK is not an
    orphan, it is an absent reference — report it separately if it
    matters); ``orphan_rows`` counts non-null child keys with no
    matching parent.

    ONE scan of the child per relationship: a left join against the
    DISTINCT parent keys (distinct so a duplicated parent key cannot
    fan out child rows) feeds both counts from the same aggregate —
    the child table is the big side at 100 TB and is never read twice.
    """
    if not relationships:
        raise ValueError("no relationships declared")
    out: DataFrame | None = None
    for name, child, child_key, parent, parent_key in relationships:
        keys = child.select(F.col(child_key).alias("__k")).filter(
            F.col("__k").isNotNull()
        )
        joined = keys.join(
            parent.select(F.col(parent_key).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .distinct()
            .withColumn("__hit", F.lit(1)),
            on="__k",
            how="left",
        )
        row = joined.agg(
            F.count(F.lit(1)).cast("long").alias("child_rows"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("orphan_rows"),
        ).select(
            F.lit(name).alias("relationship"), "child_rows", "orphan_rows"
        )
        out = row if out is None else out.unionByName(row)
    return out


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass per-column profile.

    Returns (column STRING, n_rows BIGINT, n_nulls BIGINT,
    n_distinct BIGINT, min_str STRING, max_str STRING): min/max are
    computed in the column's native type (numeric order, not
    lexicographic) and cast to string afterwards for a uniform shape.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"__dist_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col(f"__nulls_{c}").cast("long").alias("n_nulls"),
            F.col(f"__dist_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_str"),
            F.col(f"__max_{c}").alias("max_str"),
        )
        for c in cols
    ]
    return one.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


def constraint_report(
    df: DataFrame,
    checks: dict[str, Column],
    unique_key: list[str] | None = None,
) -> DataFrame:
    """Declarative data-contract validation in ONE scan: each entry in
    ``checks`` is (name → VIOLATION predicate); the report row carries
    n_rows plus a violation count per check, all partial-aggregated
    conditional sums. ``unique_key`` adds a duplicate-key-group count
    (the one check that inherently needs its own groupBy shuffle —
    keys only, never payload columns).

    The reference's quality gate is a bare row-count check
    (etl.py:48-57); this is that idea grown into the declarative
    constraint suite a lakehouse actually runs per load.
    """
    base = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in checks.items()
        ],
    )
    if unique_key is None:
        return base
    dups = (
        df.groupBy(*unique_key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("dup_key_groups"))
    )
    return base.crossJoin(F.broadcast(dups))
