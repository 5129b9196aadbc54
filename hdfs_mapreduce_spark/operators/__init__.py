from hdfs_mapreduce_spark.operators.asof import as_of_join
from hdfs_mapreduce_spark.operators.band import band_join
from hdfs_mapreduce_spark.operators.bpe import bpe_encode, bpe_learn
from hdfs_mapreduce_spark.operators.components import (
    canonical_assignment,
    connected_components,
    connected_components_logrounds,
)
from hdfs_mapreduce_spark.operators.dedup import (
    auto_band_config,
    exact_dedup,
    incremental_minhash_pairs,
    incremental_pairs_against_sketch,
    minhash_pairs,
    resolve_sketch_shape,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from hdfs_mapreduce_spark.operators.materialize import (
    materialize,
    materialize_banded_sketch,
    materialize_minhash_pairs,
    purge_scratch,
    session_scratch_dir,
)
from hdfs_mapreduce_spark.operators.packing import pack_sequences
from hdfs_mapreduce_spark.operators.relevance import (
    bm25_scores,
    nb_classify,
    nb_fit,
    nb_score,
    tfidf_top_terms,
    unigram_lm_scores,
)
from hdfs_mapreduce_spark.operators.sampling import (
    stratified_head_sample,
    weighted_sample,
)
from hdfs_mapreduce_spark.operators.similarity import (
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_lsh,
    cosine_pairs,
    kmeans_assign,
    kmeans_fit,
)
from hdfs_mapreduce_spark.operators.multimodal import (
    attach_payload,
    audio_windows,
    content_dedup,
    decode_payload,
    frame_sample,
    payload_stats,
    tile_grid,
)
from hdfs_mapreduce_spark.operators.sketches import (
    cm_estimate,
    cm_merge,
    cm_sketch,
    mg_merge,
    mg_summary,
)

__all__ = [
    "as_of_join",
    "band_join",
    "bpe_encode",
    "bpe_learn",
    "canonical_assignment",
    "connected_components",
    "connected_components_logrounds",
    "exact_dedup",
    "auto_band_config",
    "incremental_minhash_pairs",
    "incremental_pairs_against_sketch",
    "minhash_signatures",
    "minhash_pairs",
    "resolve_sketch_shape",
    "simhash_signatures",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "materialize",
    "materialize_banded_sketch",
    "materialize_minhash_pairs",
    "purge_scratch",
    "session_scratch_dir",
    "pack_sequences",
    "bm25_scores",
    "nb_classify",
    "nb_fit",
    "nb_score",
    "tfidf_top_terms",
    "unigram_lm_scores",
    "stratified_head_sample",
    "weighted_sample",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "cosine_pairs",
    "kmeans_assign",
    "kmeans_fit",
    "cm_estimate",
    "cm_merge",
    "cm_sketch",
    "mg_merge",
    "mg_summary",
    "attach_payload",
    "audio_windows",
    "content_dedup",
    "decode_payload",
    "frame_sample",
    "payload_stats",
    "tile_grid",
]
