"""File-level data-skipping index: per-file column min/max stats and
a predicate-driven file pruner.

This is the metadata layer a table format (Delta/Iceberg) persists in
its manifest — and the reason clustering layouts (operators/zorder.py
z-order and Hilbert keys) pay off: a range predicate only touches
files whose [min, max] interval intersects it. Parquet already has
row-group min/max, but the engine's planner consults them only per
file it OPENS; file-level stats prune the LISTING before any footer
is read, which at 100 TB (millions of files) is the difference
between a metadata query and a storage scan.

Stats collection is ONE distributed pass (group by
``input_file_name()``); the stats table is file-count-sized and lives
wherever the caller writes it — the library-local equivalent of a
manifest's stats columns.

Pruning soundness: a file is kept unless its stats PROVE no row can
match. NULL mins/maxes (all-null or missing column) keep the file —
stats can only narrow, never lie. The pruner handles conjunctions of
range predicates on stats-covered columns; anything else keeps every
file (sound fallback).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def collect_file_stats(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Per-file (file, n_rows, <col>_min, <col>_max ...) over a
    parquet path — one scan, partial-aggregated per file."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in columns:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


@dataclass(frozen=True)
class RangePredicate:
    """column <op> value with op in >=, >, <=, <, = — the shapes
    file stats can decide."""

    column: str
    op: str
    value: object

    def keeps(self, mn, mx) -> bool:
        """True iff a file with [mn, mx] for this column MIGHT contain
        a matching row. None stats keep the file (unknown ⊇ match);
        so does an incomparable predicate value (None, or a type the
        stats don't order against, e.g. int vs str) — skipping is an
        OPTIMIZATION, so any comparison that can't be decided must
        fall back to reading the file, never raise mid-prune."""
        if mn is None or mx is None or self.value is None:
            return True
        try:
            if self.op == ">=":
                return mx >= self.value
            if self.op == ">":
                return mx > self.value
            if self.op == "<=":
                return mn <= self.value
            if self.op == "<":
                return mn < self.value
            if self.op == "=":
                return bool(mn <= self.value <= mx)
        except TypeError:
            return True
        raise ValueError(f"unsupported op {self.op!r}")


def prune_files(
    stats: DataFrame, predicates: list[RangePredicate]
) -> list[str]:
    """File paths that MIGHT contain rows matching ALL predicates
    (conjunction). Collect is stats-table-sized (one row per file —
    metadata, not data)."""
    rows = stats.collect()
    kept = []
    for r in rows:
        d = r.asDict()
        if all(
            p.keeps(d.get(f"{p.column}_min"), d.get(f"{p.column}_max"))
            for p in predicates
        ):
            kept.append(d["file"])
    return kept


def read_pruned(
    spark: SparkSession,
    stats: DataFrame,
    predicates: list[RangePredicate],
) -> DataFrame | None:
    """Read only the files the stats cannot rule out; None when every
    file is pruned (the caller's empty-result fast path).

    ``stats`` is a DataFrame and therefore LAZY: each prune collects
    it, re-running the stats scan unless the caller persisted it. A
    caller pruning many predicates against one table should
    ``storage.cache(stats)`` — in production the stats live as a
    written table (the manifest role), where that does not apply."""
    files = prune_files(stats, predicates)
    if not files:
        return None
    return spark.read.parquet(*files)
