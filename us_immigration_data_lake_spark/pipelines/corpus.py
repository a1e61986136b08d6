"""End-to-end LLM training-corpus build — the composition that turns
the engine's individual operators into the product (BASELINE.json
north star: "add the LLM-data-pipeline operators … design every
operator for 100 TB scale").

Stages, in the order a real corpus build runs them:

1. language-ID + quality scoring  (operators/textstats.py)
2. quality-gate filter
3. PII scrub (operators/pii.py) — before dedup, so scrubbed text is
   what fingerprints/ships
4. benchmark decontamination (optional; operators/dedup.py:
   contaminated_docs anti-join)
5. exact dedup on content fingerprint — cheapest dedup, run first
6. MinHash-LSH near-dup pairs → connected components → survivors
   (operators/dedup.py)
7. chunking into context windows  (textstats.chunk_documents)
8. deterministic train/test split (hash of doc id)
9. partitioned parquet write (split / predicted lang)

Every stage is declarative DataFrame work; the only iteration is the
component loop (checkpointed). At 100 TB the stage order matters:
exact dedup removes byte-identical mass before the quadratic-ish
near-dup machinery sees it, and the quality gate shrinks everything
downstream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.splits import split_label
from us_immigration_data_lake_spark.operators import dedup as dd
from us_immigration_data_lake_spark.operators import pii, storage
from us_immigration_data_lake_spark.operators import textstats as ts
from us_immigration_data_lake_spark.sources.writers import write_parquet


def _stage_counts(stages: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every stage frame in ONE action and ONE shuffle: a
    ``groupBy("k").count()`` over the union of the frames, each row
    tagged with its stage name (one exchange, where a union of global
    aggregates pays one single-partition exchange per stage). A stage
    with no rows has no group, so it reads 0."""
    tagged = [df.select(F.lit(k).alias("k")) for k, df in stages.items()]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.union(t)
    got = {r["k"]: r["count"] for r in union.groupBy("k").count().collect()}
    return {k: got.get(k, 0) for k in stages}


@dataclass
class CorpusStats:
    input_docs: int
    after_quality: int
    after_decontamination: int
    after_exact_dedup: int
    after_near_dedup: int
    chunks: int
    # LSH band buckets larger than max_bucket_size. These would have
    # been silently truncated by candidate_pairs; the pipeline instead
    # recovers them via anchor-star candidates (linear cost) AND counts
    # them here so a boilerplate mega-cluster is observable, never a
    # silent duplicate leak.
    oversized_lsh_buckets: int = 0


def build_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
    chunk_tokens: int = 50,
    overlap: int = 10,
    train_pct: int = 80,
    out_dir: str | None = None,
    max_bucket_size: int = 1000,
    benchmark: DataFrame | None = None,
    scrub: bool = True,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> tuple[DataFrame, CorpusStats]:
    """Run the full corpus build; returns (chunked corpus, stage stats).

    Output columns: doc_id, chunk_idx, chunk_start_token, chunk_text,
    n_tokens, predicted_lang, quality_score, split.
    """
    # the scope releases every stage cache on exit, also when a stage
    # raises: the returned frame recomputes if re-executed, and a
    # long-lived session does not accumulate pinned blocks per call
    with storage.scope() as s:
        # 1-2: score and gate — per-row projections on docs, not id
        # self-joins of frames derived from docs; 3: PII scrub — in place,
        # BEFORE anything caches or fingerprints, so downstream stages only
        # ever see scrubbed text. Map-side regexes, no shuffle, no row change.
        gated = ts.with_predicted_lang(
            ts.with_quality_score(docs, id_col, text_col), id_col, text_col
        ).filter(F.col("quality_score") >= min_quality)
        if scrub:
            gated = pii.scrub_pii(gated, text_col, out_col=text_col)

        # 4: benchmark decontamination — anti-join away documents sharing
        # any 5-gram with the (broadcast) benchmark set. Without a
        # benchmark the stage is the identity and n_quality == n_decontam
        # (one aggregate serves both — no extra pass).
        if benchmark is not None:
            storage.cache(gated)
            flagged = dd.contaminated_docs(gated, benchmark, id_col, text_col)
            scored = gated.join(flagged.select(id_col), id_col, "left_anti")
        else:
            scored = gated
        storage.cache(scored)

        # 5: exact dedup — smallest doc id survives per normalized content
        exact = storage.cache(
            dd.dedup_exact_by_content(scored, id_col, text_col)
        )

        # 6: near-dup clustering — keep one survivor per cluster.
        # recover_oversized: mega-buckets (boilerplate clusters) contribute
        # anchor-star candidates instead of being dropped, so they still
        # collapse to one survivor; the bucket count lands in CorpusStats.
        frames = dd.near_dup_frames(
            exact, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands,
            threshold=jaccard_threshold, max_bucket_size=max_bucket_size,
            recover_oversized=True, portable=portable,
        )
        pairs = frames["pairs"]
        n_oversized = frames["n_oversized"]  # counted by the bucket census
        survivors = dd.dedup_survivors(exact, pairs, id_col).filter(F.col("keep"))
        deduped = storage.cache(exact.join(survivors.select(id_col), id_col))

        # 7: chunk, carrying the per-document metadata onto every chunk;
        # 8: deterministic split — shared helper so the pipeline can never
        # diverge from the gate-checked q48 definition
        corpus = ts.chunk_documents(
            deduped, id_col, text_col, chunk_tokens, overlap,
            carry=(
                "predicted_lang", "quality_score",
                split_label(F.col(id_col), train_pct).alias("split"),
            ),
        )
        # one execution serves the stats pass AND the write
        storage.cache(corpus)

        # EVERY stage count in ONE action (r16, guide §2.6/§5; the r15
        # form paid one count() round-trip per stage). None of these counts
        # gates a plan decision (the near-dup census above does, and stays
        # eager inside near_dup_frames), so they are pure observations over
        # the MATERIALIZED stage caches — multi-referenced
        # InMemoryRelations, not observe() on lazy frames, which is exactly
        # the double-count hazard the r15 analysis rejected. The collect is
        # the action that materializes the deduped/corpus caches;
        # scored/exact are already warm from the census + components passes.
        stages = {
            "input": docs, "decontam": scored, "exact": exact,
            "near": deduped, "chunks": corpus,
        }
        if benchmark is not None:
            stages["quality"] = gated
        counts = _stage_counts(stages)
        n_in = counts["input"]
        n_decontam = counts["decontam"]
        n_quality = counts["quality"] if benchmark is not None else n_decontam
        n_exact = counts["exact"]
        n_near = counts["near"]
        n_chunks = counts["chunks"]

        # 9: partitioned write
        if out_dir is not None:
            write_parquet(corpus, out_dir, "corpus", partition_by=["split", "predicted_lang"])

        return s.hand_off(corpus), CorpusStats(
            n_in, n_quality, n_decontam, n_exact, n_near, n_chunks, n_oversized
        )


@dataclass
class IncrementStats:
    new_docs: int
    after_quality: int
    after_cross_dedup: int
    after_within_dedup: int


def update_corpus_increment(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    shingle_n: int = 2,
    num_hashes: int = 8,
    bands: int = 8,
    threshold: float = 0.055,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> tuple[DataFrame, IncrementStats]:
    """The INCREMENTAL corpus update — what a weekly crawl lands as,
    composing the round's cross-corpus machinery into the stage order
    a production update actually runs:

    1. quality-gate the NEW batch (the reference corpus is already
       curated and passes as-is);
    2. CROSS-corpus dedup: drop new docs that are near-dups of the
       reference (operators/dedup.py:cross_dedup_survivors — a
       reference index build, one new×ref band join, the reference
       never self-joins);
    3. WITHIN-batch dedup of the cross survivors (near_dup_frames with
       the cap + anchor-star guard → connected components →
       keep-smallest survivors).

    Returns (surviving new rows ready to append to the corpus,
    IncrementStats with every stage boundary pinned). Each stage's
    count is one action on a cached frame (the build_training_corpus
    discipline); caches release before return.
    """
    with storage.scope() as s:
        gated = storage.cache(
            ts.with_quality_score(new_docs, id_col, text_col)
            .filter(F.col("quality_score") >= min_quality)
            .drop("quality_score")
        )

        surv_cross = storage.cache(dd.cross_dedup_survivors(
            gated, ref_docs, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
            max_bucket_size=max_bucket_size, portable=portable,
        ))

        within_frames = dd.near_dup_frames(
            surv_cross, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
            max_bucket_size=max_bucket_size, recover_oversized=True,
            portable=portable,
        )
        within = within_frames["pairs"].select("id1", "id2")
        keep = (
            dd.dedup_survivors(surv_cross, within, id_col)
            .filter(F.col("keep"))
            .select(id_col)
        )
        final = storage.cache(
            surv_cross.join(keep, on=id_col, how="left_semi")
        )

        # every stage count in ONE action over the materialized stage
        # caches (the build_training_corpus consolidation; the counts
        # are pure observations, nothing gates on them)
        counts = _stage_counts({
            "new": new_docs, "quality": gated, "cross": surv_cross,
            "within": final,
        })

        return s.hand_off(final), IncrementStats(
            new_docs=counts["new"],
            after_quality=counts["quality"],
            after_cross_dedup=counts["cross"],
            after_within_dedup=counts["within"],
        )


@dataclass(frozen=True)
class EmbeddingIncrementStats:
    new_vectors: int
    after_dim_gate: int
    after_cross_dedup: int
    after_within_dedup: int


def update_embedding_increment(
    new_emb: DataFrame,
    ref_emb: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    num_bits: int = 8,
    cross_bucket_cap: int = 1000,
    within_bucket_cap: int = 1000,
) -> tuple[DataFrame, EmbeddingIncrementStats]:
    """The EMBEDDING-side incremental corpus update — the semantic twin
    of ``update_corpus_increment`` (this week's embedding batch vs the
    curated reference, both (vec_id, embedding) frames), composing the
    cross-corpus SRP machinery into the production stage order:

    1. DIMENSION gate: vectors whose width is not ``dim`` are dropped
       (a malformed vector would silently score nonsense cosines — the
       embedding analog of the text quality gate);
    2. CROSS-corpus semantic dedup: drop new vectors that are cosine
       near-dups of the reference (one new×ref bucket join, the
       reference never self-joins — similarity.srp_ref_index_frames
       probed by cross_srp_pairs_indexed);
    3. WITHIN-batch semantic dedup of the cross survivors
       (capped-SRP pairs + anchor-star recovery → connected
       components → keep-smallest survivors — similarity.semantic_dedup).

    Returns (surviving new rows ready to append, EmbeddingIncrementStats
    with every stage boundary pinned — the q200 discipline: each count
    is one action on a cached frame; caches release before return)."""
    from us_immigration_data_lake_spark.operators import similarity as sim

    id_col, vec_col = "vec_id", "embedding"
    with storage.scope() as s:
        gated = storage.cache(new_emb.filter(F.size(F.col(vec_col)) == dim))

        ref_index = sim.srp_ref_index_frames(
            ref_emb, id_col, vec_col, dim=dim, num_bits=num_bits,
            max_bucket_size=cross_bucket_cap,
        )
        cross_pairs = sim.cross_srp_pairs_indexed(
            gated, ref_index["index"], id_col, vec_col, threshold=threshold,
            dim=dim, num_bits=ref_index["num_bits"],
        )
        surv_cross = storage.cache(gated.join(
            cross_pairs.select(F.col("id_new").alias(id_col)).dropDuplicates(),
            on=id_col,
            how="left_anti",
        ))

        keep = (
            sim.semantic_dedup(
                surv_cross, id_col, vec_col, threshold=threshold, dim=dim,
                num_bits=num_bits, max_bucket_size=within_bucket_cap,
            )
            .filter(F.col("keep"))
            .select(id_col)
        )
        final = storage.cache(
            surv_cross.join(keep, on=id_col, how="left_semi")
        )

        # every stage count in ONE action over the materialized stage
        # caches (the build_training_corpus consolidation)
        counts = _stage_counts({
            "new": new_emb, "gate": gated, "cross": surv_cross,
            "within": final,
        })

        return s.hand_off(final), EmbeddingIncrementStats(
            new_vectors=counts["new"],
            after_dim_gate=counts["gate"],
            after_cross_dedup=counts["cross"],
            after_within_dedup=counts["within"],
        )
