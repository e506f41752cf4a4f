"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, num_partitions, session_cached

from . import query
from .core_knn import PLANT_MOD, PLANT_SHIFT


# --------------------------------------------------------------------------
# Dedup suite (north-star extension: training-data curation at 100 TB).
# The fixture corpus has no duplicate texts, so the text-dedup queries
# plant deterministic copies (doc_id % 100 == 0, shifted by 1e6) inside
# the query — identically in Spark and the oracle.
# --------------------------------------------------------------------------
from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_P  # noqa: E402
from ..operators import dedup as D  # noqa: E402

COSINE_DUP_THRESHOLD = 0.4

_DOCS_PLUS_SQL = f"""
docs_plus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_SHIFT} AS doc_id, text, source
  FROM documents WHERE doc_id % {PLANT_MOD} = 0
)
"""

_TOKS_SQL = """
toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS tk
  FROM docs_plus
),
sh AS (
  SELECT doc_id, source,
    CASE WHEN len(tk) >= 3
      THEN list_transform(range(len(tk) - 2),
                          i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
      ELSE [] END AS shingles,
    len(tk) AS n_tk
  FROM toks
)
"""

_H_SQL = "CAST(concat('0x', substr(md5({v}), 1, 8)) AS BIGINT)"

_SIG_COLS_SQL = ",\n  ".join(
    f"list_aggregate(list_transform(shingles, s -> ({a} * "
    + _H_SQL.format(v="s")
    + f" + {b}) % {MINHASH_P}), 'min') AS mh{i}"
    for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
)


def _cached_index(spark, sf_dir: str, name: str, builder):
    """Session-cached checkpointed index relation
    (``sources.loaders.session_cached``): the MinHash pairs and cluster
    labels, the IVF cells and the navigable graph are INDEX structures
    (build once, query many — the vector-DB contract the reference
    implements with a persisted FAISS index); ``localCheckpoint`` pins
    the materialized blocks.

    The checkpoint is re-blocked to ceil(n / 64Ki) partitions: an
    index-sized relation checkpointed straight off a shuffle keeps the
    shuffle's partition count (32 here, often near-empty), so every
    later scan pays that many tasks.  A relation with an array column
    keeps its partitions: its consumers do heavy per-row compute off
    them (the vector-bearing cell-assignment table feeds quadratic
    same-cell joins; compacting it to one block serialized that compute,
    r05 bench: 0.85 -> 3.6 s), so there the input partitioning IS the
    compute parallelism."""

    def build() -> DataFrame:
        df = builder().localCheckpoint()
        if any(isinstance(f.dataType, ArrayType) for f in df.schema):
            return df
        n_rows = df.count()
        parts = num_partitions(df)
        want = max(1, min(parts, -(-n_rows // 65536)))
        return df.coalesce(want).localCheckpoint() if want < parts else df

    return session_cached(spark, sf_dir, name, build)


def _minhash_pairs(spark, sf_dir):
    return _cached_index(
        spark, sf_dir, "mh_pairs",
        lambda: D.minhash_candidate_pairs(_docs_plus_spark(spark, sf_dir)),
    )


def _dup_cluster_labels(spark, sf_dir):
    return _cached_index(
        spark, sf_dir, "dup_clusters",
        lambda: D.dup_clusters(_minhash_pairs(spark, sf_dir)),
    )


def _docs_plus_spark(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    planted = docs.filter(F.col("doc_id") % PLANT_MOD == 0).select(
        (F.col("doc_id") + PLANT_SHIFT).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(planted)


@query(
    "events_top_users_per_hour",
    """
WITH h AS (
  SELECT date_trunc('hour', ts) AS bucket, user_id,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, user_id, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n DESC, user_id) AS INT) AS rnk
  FROM h
)
SELECT bucket, user_id, n, rnk FROM r WHERE rnk <= 3
""",
)
def events_top_users_per_hour(spark, sf_dir):
    """Trending: top-3 most active users per hour — windowed agg + the
    same rank-limit the k-NN join uses (WindowGroupLimit keeps the
    shuffle at k rows per bucket per task)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("b"), F.col("user_id")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("b").orderBy(F.col("n").desc(), F.col("user_id").asc())
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "user_id",
            "n",
            "rnk",
        )
    )


@query(
    "grouping_sets_revenue",
    """
SELECT r_name, o_orderstatus,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (o_orderstatus), (r_name, o_orderstatus))
""",
)
def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube sugar over)
    via the SQL API — three grouping combinations in one shuffle."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name, o_orderstatus,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (o_orderstatus), (r_name, o_orderstatus))
        """
    )


@query(
    "dedup_exact",
    f"""
WITH {_DOCS_PLUS_SQL}
SELECT md5(text) AS text_md5,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keeper
FROM docs_plus GROUP BY 1 HAVING COUNT(*) > 1
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-digest groupBy (one shuffle on digest)."""
    return D.exact_dedup_groups(_docs_plus_spark(spark, sf_dir))


@query(
    "dedup_audit_approx",
    f"""
WITH {_DOCS_PLUS_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_distinct,
       TRUE AS approx_within_bound
FROM docs_plus
""",
)
def dedup_audit_approx(spark, sf_dir):
    """Dedup monitoring row: exact distinct vs HLL estimate (the sketch
    is the 100-TB path).  Checked projection: exact counts (DuckDB
    recomputes them) plus the boolean estimate-within-5% contract
    column — the raw estimate stays on the operator, and the bound is
    also pytest-held (VERDICT r03 item 5)."""
    a = D.dedup_audit(_docs_plus_spark(spark, sf_dir))
    rel = F.try_divide(
        F.abs(F.col("approx_distinct") - F.col("exact_distinct")),
        F.nullif(F.col("exact_distinct").cast("double"), F.lit(0.0)),
    )
    return a.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        # empty corpus: exact 0 and approx 0 -> trivially within bound
        F.coalesce(rel <= 0.05, F.lit(True)).alias("approx_within_bound"),
    )


@query(
    "dedup_minhash_signatures",
    f"""
WITH docs_plus AS (SELECT doc_id, text, source FROM documents),
{_TOKS_SQL}
SELECT doc_id,
  {_SIG_COLS_SQL}
FROM sh WHERE n_tk >= 3
""",
)
def dedup_minhash_signatures(spark, sf_dir):
    """Per-doc MinHash signature: 8 universal hashes over 3-word
    shingles — zero-shuffle linear scan (pure array expressions)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return D.minhash_signatures(docs)


@query(
    "dedup_minhash_pairs",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
sigs AS (
  SELECT doc_id,
  {_SIG_COLS_SQL}
  FROM sh WHERE n_tk >= 3
),
bands AS (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
""",
)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: agreement on any 2-hash band.
    Shuffle key = (band, bucket) — never all-pairs."""
    return _minhash_pairs(spark, sf_dir)


# Shared recursive-CTE chain ending in ``labels(node, cluster)`` — the
# transitive-closure oracle for the MinHash cluster labels, used by
# dedup_clusters and the split-leakage audit (one source of truth).
_CLUSTER_LABELS_CTES = f"""{_DOCS_PLUS_SQL},
{_TOKS_SQL},
sigs AS (
  SELECT doc_id,
  {_SIG_COLS_SQL}
  FROM sh WHERE n_tk >= 3
),
bands AS (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
labels AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
)"""


@query(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_CLUSTER_LABELS_CTES}
SELECT node, cluster FROM labels
""",
)
def dedup_clusters(spark, sf_dir):
    """MinHash candidate pairs -> connected components (iterative
    min-label propagation; recursive-CTE transitive closure as the
    oracle) — near-dup CLUSTERS, the keep-one-per-cluster step."""
    return _dup_cluster_labels(spark, sf_dir)


@query(
    "dedup_keep_canonical",
    f"""
WITH RECURSIVE {_DOCS_PLUS_SQL},
{_TOKS_SQL},
sigs AS (
  SELECT doc_id,
  {_SIG_COLS_SQL}
  FROM sh WHERE n_tk >= 3
),
bands AS (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
labels AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM docs_plus) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_dup_members,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       CAST((SELECT COUNT(*) FROM docs_plus) - COUNT(*)
            + COUNT(DISTINCT cluster) AS BIGINT) AS n_surviving
FROM labels
""",
)
def dedup_keep_canonical(spark, sf_dir):
    """The corpus-shrink step: MinHash pairs -> clusters -> keep-one-
    per-cluster accounting (docs / dup members / clusters / survivors,
    one row)."""
    docs = _docs_plus_spark(spark, sf_dir)
    return D.keep_canonical_summary(docs, _dup_cluster_labels(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
shx AS (SELECT DISTINCT doc_id, source, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shx a JOIN shx b
    ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jacc
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard >= 0.5 within a source block."""
    return D.ngram_jaccard_pairs(_docs_plus_spark(spark, sf_dir), 0.5)


@query(
    "dedup_simhash",
    """
WITH docs_plus AS (SELECT doc_id, text, source FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS tk
  FROM docs_plus
),
tokh AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
),
votes AS (
  SELECT doc_id, b,
         SUM(2 * (CAST(floor(h / pow(2, b)) AS BIGINT) % 2) - 1) AS w
  FROM tokh, unnest(range(16)) AS bb(b)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN w > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""",
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint per doc — linear scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return D.simhash_fingerprints(docs)


@query(
    "dedup_embedding_cosine",
    f"""
WITH p AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         unnest(CAST(a.embedding AS DOUBLE[])) AS x,
         unnest(CAST(b.embedding AS DOUBLE[])) AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
d AS (
  SELECT ia, ib,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS sim
  FROM p GROUP BY ia, ib
)
SELECT ia, ib, sim FROM d WHERE sim >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Semantic near-dup pairs (cosine >= threshold), brute-force
    baseline; ann.py LSH/IVF is the candidate generator at scale.
    Pair generation runs as the blocked cogrouped tile kernel (numpy,
    only the sparse matching pairs shuffle); the expression form
    (D.embedding_cosine_pairs) stays the oracle-checkable verifier
    primitive for candidate sets."""
    from ..operators import knn as K

    emb = load_table(spark, sf_dir, "embeddings")
    return K.allpairs_cosine_pairs_arrow(emb, COSINE_DUP_THRESHOLD)


