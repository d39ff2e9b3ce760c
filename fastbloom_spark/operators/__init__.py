from .bloom import (
    bloom_agg,
    bloom_build,
    bloom_contains_col,
    bloom_merge,
    bloom_merge_sharded,
    bloom_partials,
    bloom_partials_sharded,
    bloom_rollup,
    bloom_semi_join,
    sketch_row_to_filter,
)

__all__ = [
    "bloom_agg",
    "bloom_build",
    "bloom_contains_col",
    "bloom_merge",
    "bloom_merge_sharded",
    "bloom_partials",
    "bloom_partials_sharded",
    "bloom_rollup",
    "bloom_semi_join",
    "sketch_row_to_filter",
]

from .dedup import (
    ConvergenceError,
    connected_min_ids,
    minhash_candidate_pairs,
    minhash_dedup,
    minhash_jaccard_est_col,
    minhash_signature_col,
    ngram_jaccard_pairs,
    shingles_col,
    simhash64_col,
    simhash_dedup,
    simhash_near_dup_pairs,
    winnow_fingerprints_col,
    winnow_near_dup_pairs,
)
from .multimodal import (
    audio_features,
    decode_audio,
    decode_image,
    fake_codec,
    media_dedup_exact,
    media_features,
    resize_media,
    sample_frames,
    synth_bmp_table,
    synth_media_table,
    synth_wav_table,
)
from .similarity import (
    ann_topk_rhp,
    cosine_topk,
    embedding_dedup,
    embedding_near_dup_pairs,
    ivf_topk,
    ivf_topk_from_index,
    kmeans_centroids,
    write_ivf_index,
)
from .text import (
    bpe_token_count_col,
    dedup_exact,
    detect_lang_col,
    doc_fingerprint_col,
    pii_features,
    quality_features,
    redact_pii_col,
    repetition_features,
    token_count_col,
    word_ngrams_col,
)
from .decontam import (
    benchmark_grams,
    contamination_report,
    decontaminate,
)
from .incremental import (
    incremental_dedup,
    incremental_minhash_dedup,
)
from .pack import (
    global_block_ids,
    pack_documents,
    pack_stats,
)

__all__ += [
    "bpe_token_count_col", "ivf_topk_from_index", "minhash_jaccard_est_col",
    "resize_media", "sample_frames", "winnow_fingerprints_col",
    "winnow_near_dup_pairs", "write_ivf_index",
    "ConvergenceError",
    "connected_min_ids", "minhash_candidate_pairs", "minhash_dedup",
    "minhash_signature_col",
    "ngram_jaccard_pairs", "shingles_col", "simhash64_col", "simhash_dedup",
    "simhash_near_dup_pairs", "fake_codec", "media_dedup_exact",
    "media_features", "synth_media_table", "audio_features", "decode_audio",
    "decode_image", "synth_bmp_table", "synth_wav_table",
    "ann_topk_rhp", "cosine_topk",
    "embedding_dedup", "embedding_near_dup_pairs", "ivf_topk",
    "kmeans_centroids",
    "dedup_exact", "detect_lang_col", "doc_fingerprint_col",
    "pii_features", "quality_features", "redact_pii_col",
    "repetition_features", "token_count_col", "word_ngrams_col",
    "benchmark_grams", "contamination_report", "decontaminate",
    "global_block_ids", "incremental_dedup", "incremental_minhash_dedup",
    "pack_documents", "pack_stats",
]

from .sketch_agg import (
    sketch_agg,
    sketch_build,
    sketch_merge,
    sketch_partials,
    sketch_rollup,
)

__all__ += [
    "sketch_agg", "sketch_build", "sketch_merge", "sketch_partials",
    "sketch_rollup",
]

from .sample import (
    key_hash,
    sample_distinct,
    sample_fraction,
    split_assign,
    split_thresholds,
    stratified_sample,
)

__all__ += [
    "key_hash", "sample_distinct", "sample_fraction", "split_assign",
    "split_thresholds", "stratified_sample",
]
