from us_immigration_data_lake_spark.operators.aggregate import dedup_exact
from us_immigration_data_lake_spark.operators.joins import (
    dim_join,
    semi_join,
    anti_join,
    as_of_join,
    range_join,
    salted_join,
)
from us_immigration_data_lake_spark.operators.dedup import (
    near_dup_pairs,
    simhash,
    connected_components,
    dedup_survivors,
    contaminated_docs,
)
from us_immigration_data_lake_spark.operators.similarity import (
    cosine_knn,
    srp_lsh_knn,
    ivf_knn,
    train_ivf_centroids,
    cosine_near_dup_pairs,
)
from us_immigration_data_lake_spark.operators.textstats import (
    text_features,
    quality_score,
    lang_id,
    winnow_fingerprints,
    repetition_stats,
    ngram_profile,
)
from us_immigration_data_lake_spark.operators.pii import (
    pii_counts,
    scrub_pii,
    PII_PATTERNS,
)
from us_immigration_data_lake_spark.operators.sampling import (
    sample_bucket,
    stratified_sample,
)
from us_immigration_data_lake_spark.operators.zorder import (
    zorder_key,
    zorder_layout,
    zorder_sql,
)
from us_immigration_data_lake_spark.operators.aggregate import salted_sum
from us_immigration_data_lake_spark.operators.textstats import oov_rate
from us_immigration_data_lake_spark.operators.history import merge_upsert, scd2_history
from us_immigration_data_lake_spark.operators.quantize import (
    int_dot,
    quantize_int8,
    quantized_topk,
)
from us_immigration_data_lake_spark.operators.aggregate import (
    rolling_distinct_count,
)
from us_immigration_data_lake_spark.operators.audit import (
    profile_table,
    referential_audit,
)
from us_immigration_data_lake_spark.operators.basket import cooccurrence_pairs
from us_immigration_data_lake_spark.operators.history import snapshot_diff
from us_immigration_data_lake_spark.operators.orderstats import (
    skyline_2d,
    weighted_median,
)
from us_immigration_data_lake_spark.operators.sketches import (
    bloom_build_bits,
    bloom_contract,
    bloom_probe,
)

from us_immigration_data_lake_spark.operators.regress import (
    ewma_smooth,
    group_median2,
    groupwise_ols,
    mad_outlier_stats,
)
from us_immigration_data_lake_spark.operators.incremental import (
    agg_state,
    merge_states,
)
from us_immigration_data_lake_spark.operators.graph import (
    canonical_edges,
    pagerank_quantized,
    triangle_count,
)
from us_immigration_data_lake_spark.operators.sketches import kmv_distinct
from us_immigration_data_lake_spark.operators.audit import constraint_report
from us_immigration_data_lake_spark.operators.codecs import (
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
    spectral_features,
)
from us_immigration_data_lake_spark.operators.jpeg import decode_jpeg, encode_jpeg
from us_immigration_data_lake_spark.operators.gif import decode_gif, encode_gif
from us_immigration_data_lake_spark.operators.avi import (
    decode_mjpeg_avi,
    encode_mjpeg_avi,
)

__all__ = [
    "dedup_exact",
    "dim_join",
    "semi_join",
    "anti_join",
    "as_of_join",
    "range_join",
    "salted_join",
    "near_dup_pairs",
    "simhash",
    "connected_components",
    "dedup_survivors",
    "cosine_knn",
    "srp_lsh_knn",
    "ivf_knn",
    "train_ivf_centroids",
    "cosine_near_dup_pairs",
    "text_features",
    "quality_score",
    "lang_id",
    "winnow_fingerprints",
    "repetition_stats",
    "ngram_profile",
    "pii_counts",
    "scrub_pii",
    "PII_PATTERNS",
    "sample_bucket",
    "stratified_sample",
    "contaminated_docs",
    "zorder_key",
    "zorder_layout",
    "zorder_sql",
    "salted_sum",
    "oov_rate",
    "merge_upsert",
    "scd2_history",
    "int_dot",
    "quantize_int8",
    "quantized_topk",
    "rolling_distinct_count",
    "profile_table",
    "referential_audit",
    "cooccurrence_pairs",
    "snapshot_diff",
    "skyline_2d",
    "weighted_median",
    "bloom_build_bits",
    "bloom_contract",
    "bloom_probe",
    "ewma_smooth",
    "group_median2",
    "groupwise_ols",
    "mad_outlier_stats",
    "agg_state",
    "merge_states",
    "canonical_edges",
    "pagerank_quantized",
    "triangle_count",
    "kmv_distinct",
    "constraint_report",
    "decode_bmp",
    "decode_png",
    "encode_bmp",
    "encode_png",
    "spectral_features",
    "decode_jpeg",
    "encode_jpeg",
    "decode_gif",
    "encode_gif",
    "decode_mjpeg_avi",
    "encode_mjpeg_avi",
]

# round-4 second-session additions
from us_immigration_data_lake_spark.operators.sketches import (
    hll_registers,
    hll_merge,
    hll_estimate,
    histogram_build,
    histogram_merge,
    histogram_quantile,
)
from us_immigration_data_lake_spark.operators.similarity import (
    pq_codebooks,
    pq_encode,
    pq_train_codebooks,
    ivfpq_knn,
)
from us_immigration_data_lake_spark.operators.dedup import (
    doc_segments,
    remove_boilerplate,
    prefix_jaccard_pairs,
)
from us_immigration_data_lake_spark.operators.sampling import token_budget_fill
from us_immigration_data_lake_spark.operators.textstats import (
    linear_quality_classifier,
)
from us_immigration_data_lake_spark.operators.windows import interpolate_fill
from us_immigration_data_lake_spark.operators.multimodal import (
    perceptual_hash_media,
    phash_near_dups,
    audio_fingerprints,
    audio_match_pairs,
)

__all__ += [
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "histogram_build",
    "histogram_merge",
    "histogram_quantile",
    "pq_codebooks",
    "pq_encode",
    "pq_train_codebooks",
    "ivfpq_knn",
    "doc_segments",
    "remove_boilerplate",
    "prefix_jaccard_pairs",
    "token_budget_fill",
    "linear_quality_classifier",
    "interpolate_fill",
    "perceptual_hash_media",
    "phash_near_dups",
    "audio_fingerprints",
    "audio_match_pairs",
]

from us_immigration_data_lake_spark.operators.multimodal import (
    video_frame_hashes,
    video_match_pairs,
)

__all__ += ["video_frame_hashes", "video_match_pairs"]

from us_immigration_data_lake_spark.operators.sketches import (
    countmin_inner_product,
    histogram_rank,
)

__all__ += ["countmin_inner_product", "histogram_rank"]

from us_immigration_data_lake_spark.operators.retrieval import rrf_fuse
from us_immigration_data_lake_spark.operators.sampling import (
    dsir_logratio,
    dsir_select,
)
from us_immigration_data_lake_spark.operators.dedup import (
    cross_dedup_survivors,
    cross_near_dup_pairs_indexed,
    cross_ref_index_frames,
)
from us_immigration_data_lake_spark.operators.similarity import (
    srp_ref_index_frames,
)

__all__ += [
    "rrf_fuse", "dsir_logratio", "dsir_select",
    "cross_dedup_survivors", "cross_near_dup_pairs_indexed",
    "cross_ref_index_frames", "srp_ref_index_frames",
]

from us_immigration_data_lake_spark.operators.textstats import bpe_merges

__all__ += ["bpe_merges"]

from us_immigration_data_lake_spark.operators.dedup import (
    multi_pass_sorted_neighborhood_pairs,
    sorted_neighborhood_pairs,
)
from us_immigration_data_lake_spark.operators.windows import global_row_number

__all__ += [
    "sorted_neighborhood_pairs", "multi_pass_sorted_neighborhood_pairs",
    "global_row_number",
]

from us_immigration_data_lake_spark.operators.dedup import edit_distance_pairs
from us_immigration_data_lake_spark.operators.regress import (
    cusum_drift,
    holt_linear,
    holt_winters_additive,
)

__all__ += [
    "edit_distance_pairs", "cusum_drift", "holt_linear",
    "holt_winters_additive",
]

from us_immigration_data_lake_spark.operators.training import (
    calibration_bins,
    hashed_token_features,
    pr_auc_exact,
    roc_auc_exact,
    train_logreg_hashed,
)

__all__ += [
    "calibration_bins", "hashed_token_features", "pr_auc_exact",
    "roc_auc_exact", "train_logreg_hashed",
]

from us_immigration_data_lake_spark.operators.similarity import (
    choose_srp_config,
    hard_negative_recall,
    hard_negatives_indexed,
    recommended_num_bits,
)

__all__ += [
    "choose_srp_config", "hard_negative_recall",
    "hard_negatives_indexed", "recommended_num_bits",
]
