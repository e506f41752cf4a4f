"""The benchmark's workloads: which declared queries each one draws.

A workload is a list of declared query names from
``simple_vector_spark.registry``.  Every query receives only the
fixture directory.  The seed sets the query order within each round;
every round draws each query once, so the query mix of a run never
depends on the seed.  See README.md for why each workload exists and
what was left out.
"""

from __future__ import annotations

# Fixture tables the workload queries read (the other fixture tables
# are not read by any of them).
TABLES = ("documents", "embeddings", "events")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # read-only serving surface; ann_ivf searches the IVF index the
    # session trains on first use
    "vector_search": (
        "knn_exact_topk", "knn_filtered_eq", "knn_filtered_range",
        "knn_cosine_topk", "knn_batch_join", "knn_shard_topk",
        "point_lookup", "ann_ivf",
    ),
    # LLM-data path: executor, Python-worker and shuffle work
    "dedup_curation": (
        "curation_pipeline", "doc_quality_gate", "pii_redaction_audit",
        "text_quality", "dedup_exact", "dedup_minhash_signatures",
        "dedup_minhash_pairs", "dedup_clusters", "dedup_simhash",
        "dedup_weighted_minhash", "dedup_embedding_cosine",
        "text_bm25_search", "vocab_top100",
    ),
    # writes beside reads: upsert, WAL, snapshot, streaming, JSON
    "ingest_replay": (
        "upsert_latest_wins", "delete_then_count", "wal_replay_state",
        "snapshot_roundtrip", "wal_compaction_audit",
        "stream_foreach_batch_merge", "json_source_roundtrip",
    ),
}
