"""Deduplication operators — the LLM-data-pipeline extension suite.

Not in the reference (its store trivially "dedups" by id overwrite,
src/scalar_storage.cc:20-32); mandated by the north star for 100-TB
training-data curation.  Five strategies, cheapest-first:

- exact: hash-groupBy on content digest.  One shuffle on the digest.
- minhash LSH: shingle -> 8 universal hashes -> 2-row bands ->
  bucket-join.  Candidate generation never compares all pairs: the
  shuffle key is the band bucket, so cost is O(sum of bucket^2) —
  at 100 TB this is THE near-dup strategy.
- simhash: 16-bit fingerprint per doc, linear scan, no shuffle;
  hamming-ball lookup joins on fingerprint bands.
- n-gram jaccard: exact set similarity for candidate verification,
  blocked by a grouping key to bound the pair space.
- embedding cosine: semantic near-dup via the vector column —
  brute-force pairs here (oracle-checkable); LSH/IVF (operators/ann.py)
  is the scale path.

All deterministic cross-engine: md5-prefix integer hashing, integer
minhash arithmetic, f64 cosine rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_A,
    md5_int,
    minhash_from_hashes,
    simhash_from_hashes,
    tokens,
    word_shingles,
)
from ..functions.vector import as_double_array, dot_product, l2_norm
from ..sources.loaders import fan_out


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of byte-identical texts (md5 digest key).
    Returns one row per duplicate group: digest, copy count, keeper id
    (min).  At scale: one shuffle on the digest; the digest itself is
    computed map-side."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(F.col(id_col)).alias("keeper"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_audit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup audit row: total rows, exact distinct texts, and the HLL
    sketch estimate (approx_count_distinct, default 5% rsd).  At
    100 TB the exact distinct is the expensive one (full shuffle of
    digests); the sketch is map-side mergeable and is what a
    monitoring pipeline actually runs — this operator exists to
    measure that trade."""
    digest = F.md5(F.col(text_col))
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(digest).alias("exact_distinct"),
        F.approx_count_distinct(digest).alias("approx_distinct"),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature (8 hashes over 3-word shingles).
    Pure per-row array expressions: zero shuffles, linear scan.  Two
    projections: (1) shingle + md5-hash once, (2) the 8 affine mins —
    see ``minhash_from_hashes`` for the codegen-CSE rationale."""
    hashed = (
        fan_out(docs)
        .filter(F.size(tokens(F.col(text_col))) >= 3)
        .select(
            F.col(id_col),
            F.transform(word_shingles(tokens(F.col(text_col))), md5_int).alias("_h"),
        )
    )
    return hashed.select(F.col(id_col), *minhash_from_hashes(F.col("_h")))


def minhash_candidate_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs agreeing on ALL hashes of
    at least one band.  Implementation: explode signature into
    (band, bucket_key) rows, self-join per band bucket, distinct pairs.
    The shuffle key is (band, bucket) — never all-pairs.

    The band table is materialized (``localCheckpoint``) before the
    self-join: without it Catalyst would recompute the full
    shingle->md5->minhash derivation on BOTH join branches — at 100 TB
    the signature table (#docs x 8 longs) is orders of magnitude
    smaller than the corpus, so persisting it is the only sane plan."""
    sigs = minhash_signatures(docs, text_col, id_col)
    n_bands = len(MINHASH_A) // rows_per_band
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket").localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact 3-gram Jaccard similarity for pairs within a blocking key
    (same crawl shard / source).  intersection via shingle equi-join,
    union = |A| + |B| - intersection.  Shuffle keys: (block, shingle)
    then (doc_a, doc_b) — pair space bounded by block sizes.

    The exploded shingle table is materialized once (``localCheckpoint``)
    — it feeds three plan branches (sizes + both self-join sides), which
    would otherwise re-shingle the corpus three times."""
    sh = (
        fan_out(docs).select(
            F.col(id_col),
            F.col(block_col).alias("blk"),
            F.explode(F.array_distinct(word_shingles(tokens(F.col(text_col))))).alias("sh"),
        )
    ).localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jacc"),
        )
        .filter(F.col("jacc") >= threshold)
    )


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc 16-bit SimHash fingerprint — linear scan, no shuffle.
    Token hashes materialized once, then 16 bit-votes over the column."""
    hashed = fan_out(docs).select(
        F.col(id_col), F.transform(tokens(F.col(text_col)), md5_int).alias("_h")
    )
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("_h")).alias("simhash")
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over candidate-pair edges: near-dup PAIRS
    become near-dup CLUSTERS (the keep-one-per-cluster step that
    actually shrinks a corpus).  Iterative min-label propagation:
    every node's label becomes min(own, neighbors') until fixpoint —
    O(cluster diameter) rounds, and dup clusters are near-cliques so
    diameter is tiny.  Each round is one join + one groupBy;
    localCheckpoint truncates the growing lineage (mandatory in
    iterative DataFrame algorithms).  At web scale swap in the
    alternating large-star/small-star variant; the loop shape is
    identical.  Output: (node, cluster) with cluster = min id of the
    component — matched by a recursive-CTE transitive closure in the
    oracle."""
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a filter over already-materialized rows
        # instead of an extra labels-vs-new_labels join per round
        new_labels = (
            labels.join(prop, labels.node == prop.src, "left")
            .select(
                F.col("node"),
                F.col("label").alias("prev"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("prev") != F.col("label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster"))


def keep_canonical_summary(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The corpus-shrink accounting for keep-one-per-cluster dedup:
    given the full corpus and (node, cluster) labels from dup_clusters,
    report how many docs exist, how many sit in a dup cluster, how many
    clusters there are, and the surviving count (every doc minus the
    non-canonical cluster members).  One row; drives the "we removed
    X% of the corpus" decision before committing a filtered rewrite.
    Both inputs aggregate independently (no join needed — survivors =
    total - members + clusters), so this costs two tiny reductions."""
    totals = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    cl = clusters.agg(
        F.count("*").cast("bigint").alias("n_dup_members"),
        F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
    )
    return totals.crossJoin(cl).select(
        "n_docs",
        "n_dup_members",
        "n_clusters",
        (F.col("n_docs") - F.col("n_dup_members") + F.col("n_clusters")).alias(
            "n_surviving"
        ),
    )


# cosine of a scored pair (va, na) x (vb, nb) from its stored norms
_PAIR_COSINE = f"ROUND({dot_product('va', 'vb')} / (na * nb), 6) AS sim"


def embedding_cosine_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Semantic near-dup: all pairs with cosine >= threshold.
    Brute-force O(n^2) pair generation (broadcast nested-loop) — the
    oracle-checkable baseline; at 100 TB use LSH bucketing
    (operators/ann.py) to generate candidates, then this as verifier
    on the candidate set only.

    Plan shape: each vector's L2 norm is computed ONCE per row (n ops),
    not once per pair (n^2 ops); per-pair work is the dot product only.
    The streamed side is fanned out to all cores — a broadcast
    nested-loop join's parallelism equals the streamed side's partition
    count, and the fixture parquet scans as a single split."""
    a = fan_out(
        emb.select(F.col(id_col).alias("ia"), as_double_array(vec_col).alias("va"))
    ).withColumn("na", F.expr(l2_norm("va")))
    b = emb.select(
        F.col(id_col).alias("ib"), as_double_array(vec_col).alias("vb")
    ).withColumn("nb", F.expr(l2_norm("vb")))
    return (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.expr(_PAIR_COSINE))
        .filter(F.col("sim") >= threshold)
    )


def embedding_cosine_pairs_blocked(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-blocked semantic near-dup: assign every vector to its IVF
    cell in-scan, then compare ONLY same-cell pairs.  This is the
    100 TB path that replaces embedding_cosine_pairs' O(n^2) broadcast
    cross join: the join key is the cell id, so Spark runs a plain
    shuffle join and the pair space is sum(cell^2) instead of n^2 —
    the MinHash-LSH trade (bounded candidate space, recall paid at
    cell borders) applied to the embedding column.  Blocking recall
    vs the brute-force baseline is measured by
    embedding_blocked_recall (registry).

    The assigned table is localCheckpoint'd: a self-join recomputes
    both branches, and cell assignment is the expensive part of the
    row."""
    from .ann import ivf_cell

    v = (
        fan_out(emb.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")))
        .select(
            "id",
            "v",
            F.expr(f"{ivf_cell('v', centroids)} AS cell"),
            F.expr(f"{l2_norm('v')} AS n"),
        )
        .localCheckpoint()
    )
    a = v.select(F.col("id").alias("ia"), F.col("v").alias("va"), F.col("n").alias("na"), "cell")
    b = v.select(F.col("id").alias("ib"), F.col("v").alias("vb"), F.col("n").alias("nb"), "cell")
    return (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.col("cell").cast("int").alias("cell"),
            F.expr(_PAIR_COSINE),
        )
        .filter(F.col("sim") >= threshold)
    )


def lsh_band_tuning(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate-pair volume per MinHash band layout (8 bands x 1 row /
    4 x 2 / 2 x 4) — the measured form of the LSH S-curve trade: more
    rows per band = higher precision, fewer candidates (less shuffle);
    fewer rows = higher recall, more pairs.  At 100 TB the band layout
    IS the dedup job's shuffle-volume knob, so this audit is what you
    run on a sample before committing a config.

    One signature scan (localCheckpoint — three layouts read it), then
    per layout a (band, bucket)-keyed self-join and a distinct-pair
    count; the three single-row results union into the report."""
    sigs = minhash_signatures(docs, text_col, id_col).localCheckpoint()
    spark = docs.sparkSession
    # ONE (layout, band, bucket)-keyed self-join for all three layouts
    # (r08: was one join + distinct + agg per layout — 3x the shuffles
    # for the same pair volume; guide §2.4).  The layout tag rides the
    # band key, so per-layout candidate sets stay disjoint in one join.
    layouts = [(len(MINHASH_A) // rpb, rpb) for rpb in (1, 2, 4)]
    entries = []
    for n_bands, rows_per_band in layouts:
        for b in range(n_bands):
            entries.append(
                F.struct(
                    F.lit(f"{n_bands}x{rows_per_band}").alias("layout"),
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"mh{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    ).alias("bucket"),
                )
            )
    bands = sigs.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("bb")
    ).select(id_col, "bb.layout", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    counts = (
        a.join(
            b,
            (F.col("a.layout") == F.col("b.layout"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col("a.layout").alias("layout"),
            F.col(f"a.{id_col}").alias("da"),
            F.col(f"b.{id_col}").alias("db"),
        )
        .distinct()
        .groupBy("layout")
        .agg(F.count("*").cast("bigint").alias("n_candidate_pairs"))
    )
    # literal layout frame keeps a zero-candidate layout in the report
    # (a bare GROUP BY would drop it; the old per-layout agg emitted 0)
    base = None
    for n_bands, rows_per_band in layouts:
        row = spark.range(1).select(
            F.lit(f"{n_bands}x{rows_per_band}").alias("layout"),
            F.lit(n_bands).cast("int").alias("n_bands"),
            F.lit(rows_per_band).cast("int").alias("rows_per_band"),
        )
        base = row if base is None else base.unionByName(row)
    return base.join(F.broadcast(counts), "layout", "left").select(
        "layout",
        "n_bands",
        "rows_per_band",
        F.coalesce(F.col("n_candidate_pairs"), F.lit(0).cast("bigint")).alias(
            "n_candidate_pairs"
        ),
    )


def dup_rate_by_source(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-source near-duplication rate: of each source's documents,
    how many participate in at least one candidate pair — the
    slice-level dup report that decides WHICH crawl shard gets the
    aggressive dedup pass (dup density varies by orders of magnitude
    across sources).

    Plan: the pair list (already bounded by LSH banding) unions its
    two id columns, distinct, joins back to the doc->source map
    (id-keyed shuffle), one tiny agg per source against the per-source
    totals."""
    involved = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    flagged = docs.join(involved, id_col).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_dup_docs")
    )
    totals = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("bigint").alias("n_dup_docs"),
            F.round(
                F.coalesce(F.col("n_dup_docs"), F.lit(0)) / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


def shingle_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    block_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (|A∩B| / |A|, both directions) for
    pairs within a blocking key — the subset-duplicate detector Jaccard
    misses: a doc quoted or embedded inside a larger one scores high
    containment but low Jaccard.  The standard second pass after
    LSH/Jaccard in a curation pipeline.

    Same plan shape as ngram_jaccard_pairs (shared checkpointed shingle
    table, (block, shingle) then pair-keyed shuffles); keeps a pair
    when EITHER direction's containment clears the threshold."""
    sh = (
        fan_out(docs).select(
            F.col(id_col),
            F.col(block_col).alias("blk"),
            F.explode(F.array_distinct(word_shingles(tokens(F.col(text_col))))).alias("sh"),
        )
    ).localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    cont_a = F.round(F.col("i").cast("double") / F.col("na"), 6)
    cont_b = F.round(F.col("i").cast("double") / F.col("nb"), 6)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            cont_a.alias("cont_a"),
            cont_b.alias("cont_b"),
        )
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


def pair_graph_degree_histogram(pairs: DataFrame) -> DataFrame:
    """Degree histogram of the candidate-pair graph: how many docs have
    1, 2, ... near-dup neighbors.  The graph-health audit run BEFORE
    connected components — a heavy tail (hub nodes) means a boilerplate
    shingle or a too-loose band config is about to glue the corpus into
    one giant cluster, and the fix (tighter bands, shingle stoplist) is
    cheaper than the million-row component it would create.  Two tiny
    aggs over the pair list."""
    degrees = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        degrees.groupBy("degree")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.col("degree").cast("bigint").alias("degree"), "n_docs")
    )


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """Cluster-size histogram off the connected-components labels:
    size -> number of clusters.  The shape report that prices the
    keep-one-per-cluster rewrite (many pairs = cheap; one giant
    component = investigate the band config first — see
    pair_graph_degree_histogram for the pre-clustering warning).
    Two aggregate-of-aggregate folds over the label table."""
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(F.col("size").cast("bigint").alias("size"), "n_clusters")
    )


def incremental_minhash_pairs(
    docs: DataFrame,
    new_mod: int = 10,
    new_rem: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    rows_per_band: int = 2,
) -> DataFrame:
    """Incremental-ingest dedup: candidate pairs INVOLVING the new
    batch (doc_id % new_mod == new_rem models the arriving delta)
    against the standing signature index — the production shape where
    each ingest batch is checked against the corpus WITHOUT
    recomputing or re-joining corpus x corpus.

    Plan: the band table is materialized once (the stored index); the
    batch side is filtered from it and BROADCAST into the band-bucket
    join, so per batch the cost is |batch bands| x bucket fanout, not
    a corpus self-join.  Pair orientation: (doc_a < doc_b), new-new
    pairs counted once via the id inequality.  Output equals the full
    LSH pair set restricted to pairs touching the batch."""
    n_bands = len(MINHASH_A) // rows_per_band
    sigs = minhash_signatures(docs, text_col, id_col)
    bands = (
        sigs.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                "_",
                                *[
                                    F.col(f"mh{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(id_col, "bb.band", "bb.bucket")
        .localCheckpoint()
    )
    newb = bands.filter((F.col(id_col) % new_mod) == F.lit(new_rem))
    n = F.broadcast(newb).alias("n")
    o = bands.alias("o")
    other_is_old = (F.col(f"o.{id_col}") % new_mod) != F.lit(new_rem)
    return (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (other_is_old | (F.col(f"o.{id_col}") > F.col(f"n.{id_col}")))
            & (F.col(f"o.{id_col}") != F.col(f"n.{id_col}")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )


def cluster_keep_best(
    labels: DataFrame, scored: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep-BEST-per-cluster canonical selection: instead of the min-id
    keeper (keep_canonical_summary), each near-dup cluster keeps its
    highest-quality member (quality desc, id tiebreak) — what a
    production dedup pass actually ships, since near-dups often differ
    in truncation/boilerplate.  ``labels`` is (node, cluster) from
    dup_clusters; ``scored`` carries (id, quality).

    One join keys quality onto cluster members; the keeper is a
    rank-limit window partitioned by cluster (WindowGroupLimit) and
    sizes fold in the same shuffle."""
    m = labels.join(
        scored.select(F.col(id_col).alias("node"), "quality"), "node"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("node").asc()
    )
    best = (
        m.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster", F.col("node").alias("keeper"), "quality")
    )
    sizes = m.groupBy("cluster").agg(F.count("*").cast("long").alias("n_members"))
    return best.join(sizes, "cluster").select(
        "cluster",
        "keeper",
        "n_members",
        F.round("quality", 6).alias("keeper_quality"),
    )


SIMHASH_PAIR_BITS = 32  # pair generation needs a wider fingerprint than
SIMHASH_BANDS = 4       # the 16-bit audit one: 4 x 8-bit bands = 256
SIMHASH_MAX_HAMMING = 3  # buckets/band, or bucket collisions explode
                         # quadratically at corpus scale


def simhash_candidate_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: band the 16-bit fingerprint into
    {SIMHASH_BANDS} 4-bit LSH buckets (Hamming <= {SIMHASH_MAX_HAMMING}
    guarantees at least one clean band by pigeonhole), candidates from
    the band equi-join, exact popcount Hamming gate after — the
    bit-vector sibling of the MinHash pipeline, catching
    high-overlap docs whose token multisets vote the same bits.
    Shuffle key is (band, bucket); never all-pairs.  Uses a
    {SIMHASH_PAIR_BITS}-bit fingerprint (vs the 16-bit audit one):
    band buckets must stay selective or candidate volume grows
    quadratically with corpus size."""
    bits_per = SIMHASH_PAIR_BITS // SIMHASH_BANDS
    sigs = (
        fan_out(docs)
        .select(
            F.col(id_col),
            F.transform(tokens(F.col(text_col)), md5_int).alias("_h"),
        )
        .select(
            F.col(id_col),
            simhash_from_hashes(F.col("_h"), bits=SIMHASH_PAIR_BITS).alias("simhash"),
        )
        .localCheckpoint()
    )
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("bucket"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    a, b = bands.alias("sa"), bands.alias("sb")
    hamming = F.bit_count(
        F.col("sa.simhash").bitwiseXOR(F.col("sb.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("sa.band") == F.col("sb.band"))
            & (F.col("sa.bucket") == F.col("sb.bucket"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        # Hamming-gate BEFORE the pair distinct: the gate is a cheap
        # per-row popcount, and multi-band agreements of true near-dups
        # would otherwise inflate the distinct's input several-fold
        .select(
            F.col(f"sa.{id_col}").alias("doc_a"),
            F.col(f"sb.{id_col}").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def pair_graph_triangles(pairs: DataFrame) -> DataFrame:
    """Triangle census of the near-dup pair graph: triangle count and
    the global clustering coefficient (3*triangles / open triads) —
    distinguishes clique-like duplicate clusters (high closure: true
    re-posts) from chain-like ones (low closure: drifting
    template/boilerplate families).

    The canonical distributed triangle count on oriented edges
    (a < b): wedges from the (b)-keyed self-join, closed by a
    semi-join back onto the edge set — two key shuffles, never an
    all-pairs product; triads come from the degree aggregate."""
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).distinct()
    e = e.localCheckpoint()
    w1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = w1.join(w2, "y").filter(F.col("x") < F.col("y"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = wedges.join(closing, ["x", "z"], "left_semi")
    n_tri = tris.agg(F.count("*").cast("long").alias("n_triangles"))
    deg = (
        e.select(F.col("a").alias("n")).unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("_triads"),
    )
    return stats.crossJoin(F.broadcast(n_tri)).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.round(
            F.when(
                F.col("_triads") > 0,
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("_triads").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coeff"),
    )


def tfidf_verify_pairs(docs_plus: DataFrame, pairs: DataFrame) -> DataFrame:
    """TF-IDF cosine VERIFICATION stage for LSH candidate pairs — the
    second half of the real dedup pipeline (candidates from banded
    MinHash, exact-ish scoring only on the candidate set, never
    all-pairs).  MinHash estimates set-Jaccard over shingles; TF-IDF
    cosine weighs repeated and rare terms, so the two disagree exactly
    where a reviewer would want a second signal.

    Determinism recipe: w = tf * ln(N/df) rounded to 6 and cast to
    DECIMAL(18,6); squares/products then sum as exact DECIMAL(38,12)
    (order-insensitive), with the sqrt+divide the only trailing f64.

    Scale: weights join candidates on doc id, the numerator join is
    keyed by (pair, term); every row after the tf/df aggregates is
    candidate-sized."""
    from ..functions.text import tokens

    tk = docs_plus.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tk.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs_plus.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norm2 = w.groupBy("doc_id").agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)")).alias("n2")
    )
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    num = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,12)")).alias(
                "num"
            ),
            F.count("*").cast("long").alias("n_shared_terms"),
        )
    )
    na = norm2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norm2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.round(
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )


KCORE_ROUNDS = 2
KCORE_K = 2


def kcore_peel(pairs: DataFrame, rounds: int = KCORE_ROUNDS, k: int = KCORE_K) -> DataFrame:
    """k-core peeling of the near-dup graph (fixed ``rounds`` of
    remove-degree<k, the deterministic prefix of the full
    fixpoint): per round, node degrees over the surviving edge set,
    drop light nodes, keep edges whose BOTH endpoints survive.
    Returns one row per round (0 = input) with node/edge counts — the
    dense-core profile that separates boilerplate mega-clusters from
    incidental pairs.

    Scale: each round is a degree aggregate + two semi-joins on the
    (already candidate-sized) edge list; lineage cut per round."""
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint()
    out = []

    def stats(e: DataFrame, rnd: int) -> DataFrame:
        nodes = e.select(F.col("a").alias("n")).unionByName(
            e.select(F.col("b").alias("n"))
        ).distinct()
        return nodes.agg(
            F.lit(rnd).alias("round"),
            F.count("*").cast("long").alias("n_nodes"),
        ).crossJoin(e.agg(F.count("*").cast("long").alias("n_edges")))

    out.append(stats(edges, 0))
    cur = edges
    for rnd in range(1, rounds + 1):
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionByName(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("n").localCheckpoint()
        cur = (
            cur.join(keep.select(F.col("n").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("n").alias("b")), "b", "left_semi")
            .localCheckpoint()
        )
        out.append(stats(cur, rnd))
    import functools

    return functools.reduce(lambda x, y: x.unionByName(y), out)


def matcher_eval(
    pairs: DataFrame, docs_plus: DataFrame, plant_mod: int, plant_shift: int
) -> DataFrame:
    """Matcher evaluation against the PLANTED ground truth: the
    fixture's known duplicate pairs (doc_id % plant_mod == 0 copied to
    doc_id + plant_shift) are the labels; candidate pairs from the LSH
    matcher are scored as TP (planted) or FP (incidental collisions —
    possibly real near-dups, but not planted, so they count against
    planted-truth precision; stated semantics).  Recall counts planted
    pairs the matcher missed (e.g. docs too short to signature).

    One summary row: tp/fp/fn, precision, recall, f1 — the
    record-linkage scorecard every dedup rollout reports."""
    base_ids = docs_plus.filter(
        (F.col("doc_id") % plant_mod == 0) & (F.col("doc_id") < plant_shift)
    ).select("doc_id")
    truth = base_ids.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + plant_shift).alias("doc_b"),
    )
    tp = pairs.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
        F.count("*").cast("long").alias("tp")
    )
    n_pairs = pairs.agg(F.count("*").cast("long").alias("n_cand"))
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    joined = tp.crossJoin(n_pairs).crossJoin(n_truth)
    p = F.col("tp").cast("double") / F.col("n_cand")
    r = F.col("tp").cast("double") / F.col("n_truth")
    return joined.select(
        "tp",
        (F.col("n_cand") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_truth") - F.col("tp")).cast("long").alias("fn"),
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / (p + r), 6).alias("f1"),
    )


def storage_savings(docs_plus: DataFrame, labels: DataFrame) -> DataFrame:
    """Dedup business case: for every near-dup cluster keep the
    smallest doc_id, count every other member's bytes as reclaimable —
    per source, the doc counts and byte savings a storage-review deck
    quotes.  Singletons (docs in no cluster) contribute nothing.

    One join of the (candidate-sized) label table back to doc bytes,
    then a source aggregate."""
    lab = labels.select(F.col("node").alias("doc_id"), "cluster")
    sized = docs_plus.select(
        "doc_id", "source", F.length("text").cast("long").alias("bytes")
    ).join(lab, "doc_id")
    keepers = sized.groupBy("cluster").agg(F.min("doc_id").alias("keeper"))
    merged = sized.join(F.broadcast(keepers), "cluster")
    return (
        merged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_clustered_docs"),
            F.sum((F.col("doc_id") != F.col("keeper")).cast("long"))
            .cast("long")
            .alias("n_redundant"),
            F.sum(
                F.when(F.col("doc_id") != F.col("keeper"), F.col("bytes"))
                .otherwise(0)
            )
            .cast("long")
            .alias("bytes_reclaimable"),
        )
    )


def embedding_exact_dupes(emb: DataFrame) -> DataFrame:
    """Exact-duplicate vectors by content address: md5 of the
    ROUND(x,6)-canonicalized component string (float noise below 1e-6
    is storage jitter, not signal) — the cheap first pass before any
    cosine blocking; duplicate groups with keeper and copy count.
    One digest shuffle, digests computed inside the scan."""
    from ..functions.vector import double_array

    canon = (
        f"array_join(transform({double_array('embedding')},"
        " x_ -> format_string('%.6f', ROUND(x_, 6))), ',')"
    )
    return (
        emb.groupBy(F.expr(f"md5({canon}) AS vec_md5"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min("vec_id").alias("keeper"),
        )
        .filter(F.col("n_copies") > 1)
    )


def pair_graph_assortativity(pairs: DataFrame) -> DataFrame:
    """Degree ASSORTATIVITY of the candidate-pair graph: Pearson
    correlation of endpoint degrees over (symmetrized) edges — do
    near-dup hubs link to other hubs (assortative boilerplate cliques,
    r > 0) or to leaves (template-plus-variants stars, r < 0)?  The
    network-structure companion to the degree histogram and triangle
    census; r < 0 with high hub degree is the template-explosion
    signature.

    Exactness: degrees are integers, all five power sums stay integer
    until one final double formula — shuffle-order invariant.  Plan:
    degree agg (one shuffle on doc id), two broadcast-friendly degree
    lookups on the edge list, one scalar aggregate."""
    degrees = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    sym = pairs.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y"))
    )
    e = (
        sym.join(
            degrees.select(F.col("doc_id").alias("x"), F.col("degree").alias("dx")),
            "x",
        )
        .join(
            degrees.select(F.col("doc_id").alias("y"), F.col("degree").alias("dy")),
            "y",
        )
        .select("dx", "dy")
    )
    sums = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nn = degrees.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            F.try_divide(
                num.cast("double"),
                F.nullif(
                    F.sqrt(varx.cast("double") * vary.cast("double")), F.lit(0.0)
                ),
            ),
            6,
        ).alias("assortativity"),
    )


def simhash_bit_balance(docs: DataFrame) -> DataFrame:
    """SimHash QUALITY AUDIT: per-bit balance of the fingerprint
    population (share of docs with each bit set).  A healthy SimHash
    has every bit near 0.5 — a bit pinned toward 0 or 1 (corpus-wide
    boilerplate dominating its votes) carries no discrimination, which
    silently halves the effective band resolution of the 4x4-bit LSH
    join.  This is the check to run BEFORE trusting simhash_pairs
    candidate volumes.

    Plan: fingerprints are a linear scan (no shuffle); the bit explode
    is 16x in-scan fan-out feeding one 16-group partial aggregate."""
    fp = simhash_fingerprints(docs)
    bits = fp.select(
        "simhash", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit")
    ).select(
        "bit",
        (
            (F.floor(F.col("simhash") / F.pow(F.lit(2), F.col("bit"))).cast("long"))
            % 2
        ).alias("_set"),
    )
    return bits.groupBy("bit").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_set").cast("long").alias("n_set"),
        F.round(F.sum("_set") / F.count(F.lit(1)), 6).alias("share_set"),
        F.round(
            F.abs(F.sum("_set") / F.count(F.lit(1)) - 0.5), 6
        ).alias("abs_dev"),
    )


def lsh_scurve(
    docs: DataFrame,
    cands: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MEASURED LSH S-CURVE: for every within-source pair with any
    shingle overlap, bucket its exact Jaccard into 0.1 bands and report
    (a) the share the banded MinHash join actually surfaced as a
    candidate — the empirical catch probability the theoretical
    1-(1-s^r)^b curve promises — and (b) the mean signature-agreement
    Jaccard estimate, the estimator-bias read.  Together they answer
    'is the band config catching what it claims, and is the cheap
    estimate honest' — per similarity band, measured, not derived.

    Plan: the exact pair space is the source-blocked shingle equi-join
    (bounded by block sizes); candidates and signatures reuse the
    shared LSH machinery; agreement stays exact integers (sum of 8
    equality indicators / 8n)."""
    pairs = ngram_jaccard_pairs(docs, threshold=0.0)
    if cands is None:
        cands = minhash_candidate_pairs(docs)
    cands = cands.select("doc_a", "doc_b", F.lit(1).alias("_c"))
    if sigs is None:
        sigs = minhash_signatures(docs).localCheckpoint()
    n_h = len(MINHASH_A)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"_a{j}") for j in range(n_h)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"_b{j}") for j in range(n_h)],
    )
    agree = sum(
        (F.col(f"_a{j}") == F.col(f"_b{j}")).cast("long") for j in range(n_h)
    )
    j = (
        pairs.join(cands, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least(F.floor(F.col("jacc") * 10).cast("int"), F.lit(9)).alias(
                "jacc_band"
            ),
            F.coalesce(F.col("_c"), F.lit(0)).alias("_hit"),
            agree.alias("_agree"),
        )
    )
    return j.groupBy("jacc_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("_hit").cast("long").alias("n_candidates"),
        F.round(F.sum("_hit") / F.count(F.lit(1)), 6).alias("hit_rate"),
        F.round(F.sum("_agree") / (F.lit(float(n_h)) * F.count(F.lit(1))), 6).alias(
            "mean_sig_jaccard"
        ),
    )


def dup_clusters_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 12,
) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the provably O(log^2 n)-round variant :func:`dup_clusters`'s
    docstring promises for web scale: label propagation needs
    O(diameter) rounds, which is fine for near-clique dup clusters but
    collapses on chain-shaped candidate graphs (transitive near-dup
    chains do occur in crawl data); star operations flatten chains
    exponentially fast regardless of shape.

      large-star: every neighbor v > u re-points to m(u) = min(N(u)+u)
      small-star: every neighbor v <= u re-points to m(u)

    Each half-round is ONE groupBy(src) for m plus ONE semi-sized
    join back to the edge list, checkpointed; convergence is an
    edge-checksum compare (cheap scalar), and the result is the same
    (node, min-of-component) labeling the recursive-CTE oracle
    computes."""
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods are undirected: process every edge from both
        # endpoints, as the MapReduce formulation's map phase does
        und = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        m = (
            und.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
        )
        nbrs = und.join(m, "src")
        cond = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
        out = nbrs.filter(cond).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        if not large:
            out = out.unionByName(m.select(F.col("src"), F.col("m").alias("dst")))
        return (
            out.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
        )

    def _checksum(e: DataFrame) -> int:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.hash("src", "dst").cast("long")), F.lit(0)).alias(
                "h"
            ),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        edges = _star(edges, large=True)
        edges = _star(edges, large=False)
        cs = _checksum(edges)
        if cs == prev:
            break
        prev = cs
    # after convergence every edge points node -> component min; nodes
    # that ARE the minimum appear only as dst, so union them back
    labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("cluster"))
    roots = edges.select(F.col("dst").alias("node")).subtract(
        edges.select(F.col("src").alias("node"))
    )
    return labels.unionByName(
        roots.withColumn("cluster", F.col("node"))
    ).distinct()


WMH_TOPK = 30


def weighted_minhash_pairs(docs: DataFrame, topk: int = WMH_TOPK) -> DataFrame:
    """WEIGHTED-Jaccard near-dup detection by INTEGER-EXPANSION
    MinHash: expanding each token t with term frequency tf into
    elements (t,1)..(t,tf) makes plain Jaccard over the expanded sets
    EXACTLY the weighted Jaccard sum(min tf)/sum(max tf) — so the
    ordinary MinHash machinery estimates the tf-aware similarity that
    plain set MinHash (dedup_minhash_*) throws away (a doc repeating
    'spam' 500 times looks very different from one mentioning it
    once).  The standard trick for integer weights; ICWS generalizes
    to reals but needs per-(token,hash) sampled exponentials.

    Plan: (doc, token) tf aggregate; copies exploded in-expression;
    per-doc signature = 8 MIN aggregates over universal hashes (one
    shuffle); banded (2-row bands) candidate join — never all-pairs;
    exact weighted Jaccard recomputed ONLY for candidates via a
    token-keyed pair join; output the top candidate pairs with
    estimate vs exact and the absolute estimator error."""
    from ..functions.text import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        md5_int,
        tokens,
    )

    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .localCheckpoint()
    )
    expanded = tf.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("tf"))).alias("copy"),
        "t",
    ).select(
        "doc_id",
        md5_int(F.concat_ws("#", F.col("t"), F.col("copy").cast("string"))).alias(
            "h"
        ),
    )
    sigs = expanded.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P))
            .cast("long")
            .alias(f"mh{k}")
            for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
        ]
    ).localCheckpoint()
    # 2 bands x 4 rows (not 4x2): the fixture's small vocabulary makes
    # 2-row buckets collide into near-all-pairs candidate sets (2.7M
    # pairs from 5k docs measured); 4-row bands move the S-curve
    # threshold to (1/2)^(1/4) ~ 0.84 — the right operating point for
    # a HIGH-similarity tf-aware dup detector, and candidates stay
    # bucket-bounded at 100 TB.
    bands = None
    for bidx in range(2):
        part = sigs.select(
            "doc_id",
            F.lit(bidx).alias("band"),
            F.concat_ws(
                "_",
                *[F.col(f"mh{4 * bidx + j}").cast("string") for j in range(4)],
            ).alias("bucket"),
        )
        bands = part if bands is None else bands.unionByName(part)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        # candidate-pair-sized; referenced by the estimate, intersection
        # and exact branches — checkpoint so the band self-join runs once
        .localCheckpoint()
    )
    # Round-9 negative result (measured, reverted): folding the sizes
    # aggregate into sigs (sz = COUNT(*) of expanded copies) and fusing
    # est+sizes into one pair pass with a single LEFT join to inter cut
    # the plan from 5 Exchanges / 2 SMJ to 2 / 1 — but measured 2.46 ->
    # 2.69 s mean over 4 interleaved A/B sessions at sf0.1 (slower in
    # all 4 cycles).  The removed ops all ran on checkpoint-sized or
    # pair-sized data off the critical path (tf/sigs/cand checkpoint
    # builds + the token-keyed inter join dominate), so the extra AQE
    # stages of the fused form cost more than the dropped work saved.
    est = (
        cand.join(sigs.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"mh{k}").alias(f"a{k}") for k in range(8)],
        ), "doc_a")
        .join(sigs.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"mh{k}").alias(f"b{k}") for k in range(8)],
        ), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                sum(
                    (F.col(f"a{k}") == F.col(f"b{k}")).cast("int")
                    for k in range(8)
                ).cast("double")
                / F.lit(8.0),
                6,
            ).alias("est_wjaccard"),
        )
    )
    ta = tf.select(F.col("doc_id").alias("doc_a"), "t", F.col("tf").alias("tfa"))
    tb = tf.select(F.col("doc_id").alias("doc_b"), "t", F.col("tf").alias("tfb"))
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "t"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.least(F.col("tfa"), F.col("tfb"))).cast("long").alias("smin")
        )
    )
    sizes = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("sz"))
    exact = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("smin"), F.lit(0)).cast("double")
                / (
                    F.col("sza") + F.col("szb")
                    - F.coalesce(F.col("smin"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("exact_wjaccard"),
        )
    )
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "est_wjaccard",
            "exact_wjaccard",
            F.round(
                F.abs(F.col("est_wjaccard") - F.col("exact_wjaccard")), 6
            ).alias("abs_err"),
        )
        .orderBy(
            F.col("exact_wjaccard").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
        .limit(topk)
    )
