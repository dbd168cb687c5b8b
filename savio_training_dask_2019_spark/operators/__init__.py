"""Custom DataFrame-level operators the reference surface (or the LLM-pipeline
extension set) needs but Spark lacks as single built-ins. All are library-level
compositions of DataFrame ops — no custom Catalyst rules (SURVEY.md §4: the
reference's optimizer is strictly weaker than Catalyst, so the physical
strategy is Catalyst's job; ours is expressing the logical plan well).
"""

from .asof import asof_join
from .decontam import contamination_report, decontaminate
from .bpe import bpe_train, corpus_piece_stats, word_frequency_table
from .packing import assign_bins, pack_block_for, pack_offsets
from .dedup import (
    connected_components,
    connected_components_star,
    embedding_near_dup_pairs,
    exact_dedup_stats,
    keep_best_by_hash,
    keep_first_by_hash,
    minhash_banded_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    shingle_array,
    simhash,
    simhash_near_dup_pairs,
    substring_dup_removal,
    substring_dup_scrub,
    word_shingles,
)
from .multimodal import (
    MEDIA_META_SCHEMA,
    audio_features,
    decode_meta,
    image_features,
    pack_payload,
    resize_images,
    sample_frames,
    synthesize_raw_audio,
    synthesize_raw_images,
    synthesize_raw_video,
)
from .linalg import gramian, project_principal, svd_singular_values
from .sampling import stratified_sample_cropped, stratified_sample_exact
from .lm import (
    fit_bigram_lm,
    fit_unigram_lm,
    score_bigram_nll,
    score_unigram_nll,
)
from .similarity import (
    IVFIndex,
    RPIndex,
    assign_cells,
    brute_knn,
    brute_knn_join,
    hard_negative_mining,
    build_ivf_index,
    build_rp_index,
    ivf_knn,
    ivf_query,
    lsh_knn,
    probe_cells_for,
    rp_query,
    write_ivf_corpus,
)
from .skew import salted_agg, salted_join, with_salt

__all__ = [
    "bpe_train",
    "corpus_piece_stats",
    "word_frequency_table",
    "pack_offsets",
    "pack_block_for",
    "assign_bins",
    "connected_components_star",
    "stratified_sample_exact",
    "stratified_sample_cropped",
    "contamination_report",
    "decontaminate",
    "fit_unigram_lm",
    "score_unigram_nll",
    "fit_bigram_lm",
    "score_bigram_nll",
    "with_salt",
    "salted_agg",
    "salted_join",
    "gramian",
    "svd_singular_values",
    "project_principal",
    "asof_join",
    "exact_dedup_stats",
    "keep_best_by_hash",
    "keep_first_by_hash",
    "word_shingles",
    "ngram_jaccard_pairs",
    "connected_components",
    "minhash_banded_pairs",
    "shingle_array",
    "embedding_near_dup_pairs",
    "semantic_dedup",
    "simhash",
    "simhash_near_dup_pairs",
    "substring_dup_removal",
    "substring_dup_scrub",
    "brute_knn",
    "brute_knn_join",
    "hard_negative_mining",
    "lsh_knn",
    "ivf_knn",
    "assign_cells",
    "IVFIndex",
    "build_ivf_index",
    "ivf_query",
    "probe_cells_for",
    "write_ivf_corpus",
    "RPIndex",
    "build_rp_index",
    "rp_query",
    "MEDIA_META_SCHEMA",
    "pack_payload",
    "decode_meta",
    "resize_images",
    "sample_frames",
    "synthesize_raw_images",
    "synthesize_raw_video",
    "synthesize_raw_audio",
    "audio_features",
    "image_features",
]
