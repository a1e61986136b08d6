"""Streaming deduplication against a static reference corpus.

The streaming shape of cross-corpus dedup (operators/dedup.py:
cross_ref_index_frames + cross_near_dup_pairs_indexed): NEW
documents arrive as a stream (this week's crawl), the REFERENCE corpus
(the training set you already have) is a static frame, and every
micro-batch's near-dups are emitted as they arrive. The entire hot
path is STATELESS per row — shingle hashing, MinHash signatures and
band keys are pure array arithmetic, and candidate generation + exact
verification ride ONE stream-static join (no streaming state beyond
the final pair-dedup guard) — so this runs as append mode at any
input rate, with the static side broadcast/cached once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.dedup import (
    cross_near_dup_pairs_indexed,
    cross_ref_index_frames,
)


def stream_cross_near_dup_pairs(
    new_stream: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    portable: bool = False,
    event_time_col: str | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Verified (id_new, id_ref, jaccard) near-dup pairs of a document
    STREAM against a static reference corpus.

    Plan shape per micro-batch:
    - stream side: hashed shingle set → MinHash signature → band keys,
      all per-row expressions (zero shuffles, zero state); the shingle
      set is CARRIED through the band explode so verification needs no
      second look at the stream (a rejoin of the stream with itself
      would be a stream-stream join and need watermark state);
    - static side (built once, cached): the reference's band frame
      with its ``max_bucket_size`` smallest ids per bucket (the
      cross_ref_index_frames cap — bounded fan-out per band key, same
      truncation semantics as a batch ingest) joined to its hashed
      shingle sets;
    - ONE stream-static inner join on (band_idx, band_hash), exact
      hashed-set Jaccard inline, threshold filter;
    - a streaming dropDuplicates on the pair key: the same pair
      collides in several bands. Unbounded state BY DEFAULT — the key
      space is the emitted-pair set, and jaccard is a pure function of
      the pair so any kept row is THE row; the finite availableNow
      runs the oracle gate uses need no bound. For an infinite stream,
      pass ``event_time_col`` + ``watermark_delay``: the event time is
      carried through the per-row signature chain and the pair dedup
      becomes ``dropDuplicatesWithinWatermark`` — pair-key state is
      EVICTED once the watermark passes (bounded by the delay window;
      eviction is pinned by tests/test_streaming.py). All of a pair's
      band collisions originate in one stream row, so within-watermark
      dedup emits the identical pair set unless the same id_new
      re-arrives after the delay.

    Batch-equivalence: with an availableNow trigger the emitted set
    equals the batch probe of the same index on the same inputs
    (q195's oracle is exactly q190's SQL), regardless of how
    many micro-batches the source splits into — per-row expressions
    can't see batch boundaries and the pair-dedup state spans batches.

    Construction is shared with the batch path: the static side IS
    ``operators.dedup.cross_ref_index_frames``'s index (cached here —
    reused every micro-batch) and the hot path IS
    ``cross_near_dup_pairs_indexed`` over the stream frame (which
    skips the batch path's spread, so the per-row hot path stays
    shuffle-free); the streaming twin differs from an indexed batch
    ingest only in what the new side is bound to.
    """
    # static side: materialize once, reused every micro-batch
    capped_ref = storage.cache(cross_ref_index_frames(
        ref_df, id_col, text_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands,
        max_bucket_size=max_bucket_size, portable=portable,
    )["index"])
    return cross_near_dup_pairs_indexed(
        new_stream, capped_ref, id_col, text_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        portable=portable,
        event_time_col=event_time_col, watermark_delay=watermark_delay,
    )


def stream_cross_srp_near_dup_pairs(
    new_stream: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    num_bits: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Verified (id_new, id_ref, cosine_sim) SEMANTIC near-dup pairs of
    an EMBEDDING stream against a static reference corpus — the
    embedding twin of stream_cross_near_dup_pairs (q195), same
    construction sharing: the static side IS the index of
    similarity.srp_ref_index_frames (cached — reused every
    micro-batch) and the hot path IS
    similarity.cross_srp_pairs_indexed over the stream frame.

    Even more state-free than the text twin: a vector lands in exactly
    ONE SRP bucket (single table, no banding), so a pair can surface
    at most once and append mode needs no streaming dropDuplicates —
    the whole hot path is per-row signature arithmetic plus one
    stream-static join. Batch-equivalence with availableNow is
    immediate: per-row expressions cannot see batch boundaries and
    there is no cross-batch state to diverge (q204's oracle is q192's
    SQL verbatim; the multi-batch test splits the stream into files).
    """
    from us_immigration_data_lake_spark.operators.similarity import (
        cross_srp_pairs_indexed,
        srp_ref_index_frames,
    )

    # static side: materialize once, reused every micro-batch
    frames = srp_ref_index_frames(
        ref_df, id_col, vec_col, dim, num_bits=num_bits,
        max_bucket_size=max_bucket_size,
    )
    return cross_srp_pairs_indexed(
        new_stream, storage.cache(frames["index"]), id_col, vec_col,
        threshold, dim, num_bits=frames["num_bits"],
    )
