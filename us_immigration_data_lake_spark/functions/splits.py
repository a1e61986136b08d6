"""Deterministic hash-based dataset splitting.

THE definition of the split bucket — q48 (the gate-checked query) and
build_training_corpus both use this helper, so the corpus pipeline can
never silently diverge from the oracle-verified formula.

Bucket = first 4 hex digits of md5(id-as-string) parsed as an integer,
mod ``buckets`` — uniform over 65536 values (char-code arithmetic on
hex digits is NOT uniform; that variant skewed an 80/20 split to 72/28
before being caught by a ratio probe).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_split_bucket(
    id_col: Column | str, buckets: int = 100, digit_offset: int = 1
) -> Column:
    """``digit_offset`` selects which 4 hex digits of the md5 feed the
    bucket (1-based).  Distinct offsets give independent draws from the
    same id — the train/test split uses digits 1-4, stratified sampling
    (operators/sampling.py) uses 5-8, so sampling never biases the
    split.  This is THE one definition of the md5-bucket formula; do
    not re-derive it elsewhere (a char-code variant once skewed 80/20
    to 72/28)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(c.cast("string"))
    return F.conv(F.substring(h, digit_offset, 4), 16, 10).cast("long") % buckets


def split_label(id_col: Column | str, train_pct: int = 80) -> Column:
    return F.when(hash_split_bucket(id_col) < train_pct, "train").otherwise("test")


def cluster_split_label(df, pairs, id_col: str):
    """Leakage-safe train/test split: the split is assigned at
    NEAR-DUP CLUSTER granularity, not per document — two documents
    that are near-duplicates of each other can never straddle the
    boundary (the classic eval-contamination leak: a test doc whose
    paraphrase sits in train). Connected components over the given
    near-dup ``pairs`` (operators/dedup.py:dedup_survivors — cluster
    = smallest member id, every unpaired doc is its own cluster),
    then ``split_label`` hashes the CLUSTER id; members inherit it.
    Returns (id, cluster, split).

    Scale: the CC pass is the q43 machinery (edge-count-driven
    iterations, at most 20); the split itself is one md5 per
    row — no extra shuffle beyond CC's own."""
    from us_immigration_data_lake_spark.operators.dedup import dedup_survivors

    surv = dedup_survivors(df, pairs, id_col)
    return surv.select(
        id_col,
        "cluster",
        split_label(F.col("cluster")).alias("split"),
    )
