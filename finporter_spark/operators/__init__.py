from finporter_spark.operators.joins import asof_join
from finporter_spark.operators.dedup import (
    exact_dedup,
    keep_latest,
    minhash_near_duplicates,
    simhash_fingerprints,
    simhash_near_duplicates,
    upsert_by_key,
)
from finporter_spark.operators.graph import connected_components_star
from finporter_spark.operators.audio import extract_wav_features, wav_decode, wav_encode
from finporter_spark.operators.gif import gif_decode, gif_encode
from finporter_spark.operators.jpeg import jpeg_decode, jpeg_encode, split_mjpeg
from finporter_spark.operators.prep import (
    chunk_documents,
    decontaminate,
    redact,
    sample_bucket,
    stratified_sample,
)
from finporter_spark.operators.scale import (
    ensure_bucketed,
    salted_agg,
    source_fingerprint,
    write_bucketed,
)
from finporter_spark.operators.similarity import (
    brute_force_knn,
    ivf_knn_det,
    lsh_bucket_knn_exact_probe,
)
from finporter_spark.operators.text import (
    language_id,
    token_count,
    fingerprint,
)

__all__ = [
    "asof_join",
    "exact_dedup",
    "keep_latest",
    "minhash_near_duplicates",
    "simhash_fingerprints",
    "simhash_near_duplicates",
    "upsert_by_key",
    "connected_components_star",
    "extract_wav_features",
    "wav_decode",
    "wav_encode",
    "gif_decode",
    "gif_encode",
    "jpeg_decode",
    "jpeg_encode",
    "split_mjpeg",
    "chunk_documents",
    "decontaminate",
    "redact",
    "sample_bucket",
    "stratified_sample",
    "ensure_bucketed",
    "salted_agg",
    "source_fingerprint",
    "write_bucketed",
    "brute_force_knn",
    "ivf_knn_det",
    "lsh_bucket_knn_exact_probe",
    "language_id",
    "token_count",
    "fingerprint",
]
