"""Hybrid-retrieval operators (SURVEY.md §2.10 extension): fuse the
rankings of independent retrieval systems — lexical BM25
(textstats.bm25_multiterm_topk) and semantic ANN (similarity.cosine_knn
/ srp_lsh_knn) — into one result list.

The reference has no retrieval surface at all; this is part of the
mandated training-data/RAG-pipeline extension (a corpus pipeline uses
the same fusion to pick decontamination or curriculum exemplars from
multiple signals).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str,
    rank_col: str,
    k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009
    — public): fuse N per-system rankings into one list scored

        rrf(d) = Σ_systems 1 / (60 + rank_s(d))

    60 is the paper's constant (damps the head so one system's #1
    can't dominate two systems' #3s). Exact-integer form (oracle rule
    1): each reciprocal integer-izes as ``1_000_000 div (60 + rank)``
    — BIGINT floor division, bit-identical in any engine — and the
    per-document sum is exact integer arithmetic, order-free. Ties
    break on the id.

    Each input frame needs (id_col, rank_col) with rank ≥ 1 dense per
    system (the convention of bm25_multiterm_topk's ``rnk`` and
    cosine_knn's ``rn``); extra columns are ignored. Returns
    (id_col, n_systems, rrf_micro) ordered by score desc, optionally
    top-``k`` (one global TakeOrderedAndProject).

    Scale: inputs are top-k lists — system-sized, not corpus-sized —
    so the union + one groupBy is negligible next to the retrieval
    stages that produced them; fusion adds no corpus-wide work.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking frame")
    un = None
    for r in rankings:
        part = r.select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias("__rank"),
        )
        un = part if un is None else un.unionByName(part)
    fused = (
        un.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_systems"),
            F.sum(F.expr("CAST(1000000 div (60 + __rank) AS BIGINT)"))
            .cast("long")
            .alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), F.asc(id_col))
    )
    return fused.limit(k) if k is not None else fused
