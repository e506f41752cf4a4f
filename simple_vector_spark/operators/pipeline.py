"""End-to-end curation pipeline composite — the north-star showcase.

One declared query chaining the curation stages a 100-TB training-data
build actually runs, in the order that minimizes work per stage:

  exact dedup (keep group keeper)           -- shuffle on content digest
  -> quality scoring + threshold            -- map-side expressions
  -> deterministic hash sampling            -- map-side predicate
  -> join to the embedding table            -- the only key shuffle

Each stage drops rows BEFORE the next pays for them: dedup halves
first, the quality gate is a pure scan-stage filter, sampling gates
before the join moves any data.  Every stage is an operator declared
elsewhere (dedup.py / text_analysis.py) — this module only composes,
proving the operators are pipeline-ready rather than demo-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import hash_sample, token_quality


def exact_dedup_keepers(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text: the group keeper (min id).
    Window form (rank over digest) so the full row survives without a
    self-join back."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    qvec: list[float] | None,
    terms: list[str],
    k: int = 20,
    pool: int = 100,
    c: int = 60,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the vector k-NN list
    and the BM25 keyword list — score(id) = sum over lists of
    1/(c + rank), missing from a list contributes 0.

    Plan: both candidate lists are pool-sized (top-100), so the rank
    windows and the full-outer fusion join run on request-sized data —
    the corpus-scale work is exactly one k-NN scan + one BM25 pass,
    both already distributed.  This is the standard hybrid-search
    shape (vector recall + lexical precision) a retrieval stack runs
    on top of this engine."""
    from .knn import knn_topk
    from .text_analysis import bm25_search

    from .ranking import ranked_global

    vec = knn_topk(emb, qvec, pool, "sqL2")
    vecrank = ranked_global(
        vec, [F.col("dist").asc(), F.col("vec_id").asc()], rank_name="rv"
    ).select(F.col("vec_id").alias("id"), "rv")
    bm = bm25_search(docs, terms, pool)
    bmrank = ranked_global(
        bm, [F.col("score").desc(), F.col("doc_id").asc()], rank_name="rb"
    ).select(F.col("doc_id").alias("id"), "rb")
    fused = vecrank.join(bmrank, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rv")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rb")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("id").asc()).limit(k)


def curate(
    docs: DataFrame,
    emb: DataFrame,
    quality_floor: float = 0.15,
    sample_pct: int = 50,
) -> DataFrame:
    """dedup -> quality gate -> hash sample -> embedding join.
    Output: (doc_id, label, n_tokens, quality) — the curated training
    subset with its vectors attached."""
    uniq = exact_dedup_keepers(docs)
    scored = token_quality(uniq).filter(F.col("quality") >= quality_floor)
    sampled = hash_sample(scored, rates={}, default_rate=sample_pct, strata_col="doc_id")
    return (
        sampled.join(emb, sampled.doc_id == emb.vec_id)
        .select("doc_id", "label", "n_tokens", "quality")
    )


# Context-window packing: token budget per pack and the shard width that
# keeps the per-shard sequential scan balanced (packing is inherently
# order-dependent, so the distributable unit is a bounded contiguous
# shard of doc_ids — exactly how file-sharded corpus packing runs in
# production: pack within an input shard, never across the whole
# corpus).
PACK_CAPACITY = 512
PACK_SHARD_DOCS = 1000


def pack_context_windows(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    shard_docs: int = PACK_SHARD_DOCS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy sequential context-window packing audit.

    Documents are packed contiguously in doc_id order within a
    (source, shard) group: a doc starts pack floor(tokens_before /
    capacity), i.e. each pack holds ~capacity tokens of consecutive
    docs (the last doc may straddle the boundary — token-budget
    sharding, the shape sequence-packing pipelines use before the
    actual concat step).  Returns per-source packing efficiency:
    number of packs, docs per pack, and fill ratio vs the token budget.

    Scale: the running sum is windowed by (source, shard) where shard
    is a bounded contiguous id-range (shard_docs docs), so no task ever
    sees more than shard_docs rows — the scalable replacement for a
    per-source global cumsum (|docs per source| grows with the corpus;
    shards don't).  Final agg is |sources| groups."""
    from ..functions.text import tokens

    per = docs.select(
        "source",
        F.col(id_col),
        F.floor(F.col(id_col) / shard_docs).alias("_shard"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "_shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = per.withColumn(
        "pack_id", F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / capacity)
    )
    per_pack = packed.groupBy("source", "_shard", "pack_id").agg(
        F.count("*").alias("_docs"), F.sum("n_tok").alias("_tok")
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.sum("_docs").cast("long").alias("n_docs"),
            F.sum("_tok").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_packs"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_packs",
            F.round(F.col("n_docs").cast("double") / F.col("n_packs"), 6).alias(
                "docs_per_pack"
            ),
            F.round(
                F.col("n_tokens").cast("double")
                / (F.col("n_packs") * F.lit(capacity)).cast("double"),
                6,
            ).alias("fill_ratio"),
        )
    )


CURRICULUM_BUCKETS = 10


def curriculum_deciles(docs: DataFrame, k: int = CURRICULUM_BUCKETS) -> DataFrame:
    """Curriculum-ordering audit: rank the corpus by the linear quality
    score (easy/clean first) into k global buckets and report each
    bucket's size and token mass — the statistic that prices a
    quality-ordered training schedule.

    Scale: the global ordering uses the two-phase range-partitioned
    ntile (ranking.grouped_ntile), never a single-partition global
    window; the quality score itself is map-side expressions."""
    from .ranking import grouped_ntile

    scored = token_quality(docs).select("doc_id", "n_tokens", "quality")
    tiled = grouped_ntile(
        scored,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        k,
        "bucket",
    )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "n_tokens",
            "min_quality",
            "max_quality",
        )
    )
