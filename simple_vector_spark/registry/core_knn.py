"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..operators.ann import fit_vectors
from ..sources.loaders import load_table, scratch_path, session_cached

from . import _ORACLES, query


# --------------------------------------------------------------------------
# Shared parameters (fixed so Spark + oracle agree).
# --------------------------------------------------------------------------
KNN_K = 10
BATCH_K = 5
N_QUERIES = 8  # batch search: query vectors = embeddings with vec_id < 8
FILTER_LABEL = 7  # the int_field analog (FIXTURES.md: label == int_field)
LOOKUP_IDS = [7, 42, 99]
DELETE_MOD = 10  # tombstones: vec_id % 10 == 0
PLANT_MOD = 100  # planted duplicates: doc_id % 100 == 0 ...
PLANT_SHIFT = 1_000_000  # ... copied to doc_id + 1e6
WAU_WINDOW_DAYS = 7  # rolling-WAU window, shared by operator + oracle SQL


def _seed_codebook(spark, sf_dir: str, ids: list[int]):
    """The seed vectors ``ids`` (``A.CENTROID_IDS`` or ``A.PLANE_IDS``)
    of the fixture's corpus: model parameters, collected once per
    session like the trained codebooks."""
    return session_cached(
        spark, sf_dir, f"seed_codebook_{'_'.join(map(str, ids))}",
        lambda: fit_vectors(load_table(spark, sf_dir, "embeddings"), ids),
    )


def _query_vector(spark, sf_dir: str, qid: int = 0) -> list[float] | None:
    """The declared query: the vector of corpus row ``qid``, collected
    once per session like the seed codebooks, as the request a search
    receives.  None when the corpus has no row ``qid``."""
    rows = _seed_codebook(spark, sf_dir, [qid])
    return rows[0][1] if rows else None

# DuckDB fragment: per-(corpus row, query row) parallel-unnest of the two
# double-cast vectors; DuckDB zips parallel unnests positionally, giving
# one row per dimension — SUM() then folds exactly the same f64 terms
# Spark's aggregate() folds.
_PAIR_L2 = "ROUND(SUM((x - y) * (x - y)), 6)"
_PAIR_IP = "ROUND(SUM(x * y), 6)"
_PAIR_COS = "ROUND(SUM(x * y) / (SQRT(SUM(x * x)) * SQRT(SUM(y * y))), 6)"


def _single_query_oracle(score: str, order: str, where: str = "TRUE") -> str:
    return f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
pairs AS (
  SELECT e.vec_id, e.label,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
  WHERE {where}
),
d AS (
  SELECT vec_id, label, {score} AS {order.split()[0]}
  FROM pairs GROUP BY vec_id, label
)
SELECT * FROM d ORDER BY {order}, vec_id LIMIT {KNN_K}
"""


# --------------------------------------------------------------------------
# Reference query surface: exact k-NN (O3/O5/O9)
# --------------------------------------------------------------------------
@query("knn_exact_topk", _single_query_oracle(_PAIR_L2, "dist ASC"))
def knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O9: brute-force squared-L2 top-k, query = embedding of vec_id 0.
    Plan: one stage, corpus scan scored against the query literal ->
    TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(emb, _query_vector(spark, sf_dir), KNN_K, "sqL2")


@query("knn_ip_topk", _single_query_oracle(_PAIR_IP, "sim DESC"))
def knn_ip_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: inner-product metric — similarity, larger=better, DESC order
    (FAISS METRIC_INNER_PRODUCT convention)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(emb, _query_vector(spark, sf_dir), KNN_K, "ip")


@query("knn_cosine_topk", _single_query_oracle(_PAIR_COS, "sim DESC"))
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension of O5: cosine = IP / norms, computed directly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(emb, _query_vector(spark, sf_dir), KNN_K, "cosine")


# --------------------------------------------------------------------------
# Filtered k-NN (O6/O7/O8): pre-filter semantics
# --------------------------------------------------------------------------
@query(
    "knn_filtered_eq",
    _single_query_oracle(_PAIR_L2, "dist ASC", where=f"e.label = {FILTER_LABEL}"),
)
def knn_filtered_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O8: ``label = v`` pushed below the ranking — k valid results,
    mirroring the reference's bitmap pre-filter (src/faiss_index.cc:40-47)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(
        emb,
        _query_vector(spark, sf_dir),
        KNN_K,
        "sqL2",
        pred=K.eq_filter("label", FILTER_LABEL),
    )


@query(
    "knn_filtered_ne",
    _single_query_oracle(
        _PAIR_L2,
        "dist ASC",
        where=f"e.label IS NOT NULL AND e.label != {FILTER_LABEL}",
    ),
)
def knn_filtered_ne(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7+O8: reference ``!=`` = union of all other values' bitmaps =>
    field must be present AND differ (src/filter_index.cc:70-79)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(
        emb,
        _query_vector(spark, sf_dir),
        KNN_K,
        "sqL2",
        pred=K.ne_filter("label", FILTER_LABEL),
    )


@query("knn_udf_cosine_sql", _single_query_oracle(_PAIR_COS, "sim DESC"))
def knn_udf_cosine_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF/extension surface (SURVEY.md §2.2 UDF row — the
    reference has none): a scalar Arrow UDF registered into
    the SQL namespace and invoked from raw SQL.  Same result set as
    knn_cosine_topk's built-in-expression path; the two routes differ
    only in where the kernel runs (JVM codegen vs NumPy per Arrow
    batch)."""
    from ..functions.vector import cosine_arrow_udf
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    spark.udf.register("cos_sim", cosine_arrow_udf())
    return spark.sql(
        f"""
        SELECT e.vec_id, e.label,
               ROUND(cos_sim(e.embedding, q.embedding), 6) AS sim
        FROM embeddings e
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ORDER BY sim DESC, e.vec_id LIMIT {KNN_K}
        """
    )


@query(
    "knn_filtered_range",
    _single_query_oracle(
        _PAIR_L2,
        "dist ASC",
        where="e.label BETWEEN 3 AND 12 AND e.vec_id % 2 = 1",
    ),
)
def knn_filtered_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension of O6-O8: compound predicate (range AND parity)
    pre-filtered below the ranking.  The reference supports exactly one
    int `=`/`!=` per query (src/vector_database.cc:186-202); full
    boolean algebra is free in Spark and the range half still pushes to
    the parquet scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_topk(
        emb,
        _query_vector(spark, sf_dir),
        KNN_K,
        "sqL2",
        pred=F.expr("label >= 3 AND label <= 12 AND vec_id % 2 = 1"),
    )


# --------------------------------------------------------------------------
# Batch k-NN join (O15)
# --------------------------------------------------------------------------
@query(
    "knn_batch_join",
    f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM embeddings q CROSS JOIN embeddings e
  WHERE q.vec_id < {N_QUERIES}
),
d AS (
  SELECT query_id, vec_id, {_PAIR_L2} AS dist
  FROM pairs GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rnk
  FROM d
)
SELECT query_id, vec_id, dist, rnk FROM r WHERE rnk <= {BATCH_K}
""",
)
def knn_batch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: multi-query batch search as a broadcast k-NN join; window
    rank-limit => WindowGroupLimit partial top-k before the shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = K.knn_join(emb, emb.filter(F.col("vec_id") < N_QUERIES), BATCH_K, "sqL2")
    return out.select("query_id", "vec_id", "dist", "rnk")


@query(
    "knn_shard_topk",
    f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
pairs AS (
  SELECT e.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
d AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM pairs GROUP BY vec_id)
SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT {KNN_K}
""",
)
def knn_shard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 scale path: per-partition NumPy top-k (Arrow batches) +
    global TakeOrderedAndProject merge — exact, same oracle as the
    expression form."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn_shard_topk(emb, _query_vector(spark, sf_dir), KNN_K)


@query("knn_shard_join", _ORACLES["knn_batch_join"])
def knn_shard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 scale path: batch k-NN join via per-partition NumPy distance
    blocks + rank-limit merge — same oracle as the expression form."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = K.knn_shard_join(emb, emb.filter(F.col("vec_id") < N_QUERIES), BATCH_K)
    return out.select("query_id", "vec_id", "dist", F.col("rnk").cast("int").alias("rnk"))


@query(
    "knn_batch_filtered",
    f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM embeddings q CROSS JOIN embeddings e
  WHERE q.vec_id < {N_QUERIES}
    AND e.label IS NOT NULL AND e.label != {FILTER_LABEL}
),
d AS (
  SELECT query_id, vec_id, {_PAIR_L2} AS dist
  FROM pairs GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rnk
  FROM d
)
SELECT query_id, vec_id, dist, rnk FROM r WHERE rnk <= {BATCH_K}
""",
)
def knn_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15+O7+O8: the flagship entry() plan as a declared query —
    batch k-NN join with the != pre-filter pushed below the ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = K.knn_join(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        BATCH_K,
        "sqL2",
        pred=K.ne_filter("label", FILTER_LABEL),
    )
    return out.select("query_id", "vec_id", "dist", "rnk")


# --------------------------------------------------------------------------
# Point lookup + metadata projection (O10/O21)
# --------------------------------------------------------------------------
@query(
    "point_lookup",
    f"""
SELECT e.vec_id, e.label, d.lang, d.source, d.n_chars
FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
WHERE e.vec_id IN ({", ".join(str(i) for i in LOOKUP_IDS)})
""",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10+O21: point fetch by id, full record projected back via a
    broadcast equi-join to the doc-store table (RocksDB-get analog)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    hits = K.point_lookup(emb, LOOKUP_IDS)
    return hits.join(
        F.broadcast(docs), hits.vec_id == docs.doc_id, "inner"
    ).select("vec_id", "label", "lang", "source", "n_chars")


# --------------------------------------------------------------------------
# Mutation semantics (O12/O13/O20)
# --------------------------------------------------------------------------
@query(
    "upsert_latest_wins",
    """
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13+O20: the events table is the WAL; current state = latest row
    per key (one shuffle-by-key window, WindowGroupLimit partial)."""
    events = load_table(spark, sf_dir, "events")
    cur = M.latest_wins(events, ["user_id"], ["ts", "event_id"])
    return cur.select("user_id", "event_id", "event_type", "value")


@query(
    "delete_then_count",
    f"""
SELECT label, CAST(COUNT(*) AS BIGINT) AS n
FROM embeddings
WHERE NOT (vec_id % {DELETE_MOD} = 0)
GROUP BY label
""",
)
def delete_then_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12: delete = anti-filter (tombstone pattern); verified via a
    post-delete aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    alive = M.delete_ids(emb, F.col("vec_id") % DELETE_MOD == 0)
    return alive.groupBy("label").agg(F.count("*").alias("n"))


EMB_DIM = 64
BAD_MOD = 50


@query(
    "validate_ingest",
    f"""
WITH emb_plus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_SHIFT}, embedding[1:32]
  FROM embeddings WHERE vec_id % {BAD_MOD} = 0
),
c AS (
  SELECT vec_id,
         CASE WHEN vec_id IS NULL THEN 'null_id'
              WHEN embedding IS NULL THEN 'null_vec'
              WHEN len(embedding) != {EMB_DIM} THEN 'bad_dim'
              ELSE 'ok' END AS status
  FROM emb_plus
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n, MIN(vec_id) AS min_id
FROM c GROUP BY status
""",
)
def validate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: request-validation as a scan-stage classifier (the reference
    never dim-checks, SURVEY.md §1.2 — we close that gap).  Bad rows
    are planted in-query (sliced vectors at shifted ids), identically
    in the oracle."""
    from ..operators import validate as V

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bad = emb.filter(F.col("vec_id") % BAD_MOD == 0).select(
        (F.col("vec_id") + PLANT_SHIFT).alias("vec_id"),
        F.slice("embedding", 1, 32).alias("embedding"),
    )
    return V.validation_report(emb.unionByName(bad), EMB_DIM)


@query(
    "label_centroid_topk",
    """
WITH ex AS (
  SELECT vec_id, label,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
d AS (
  SELECT e.vec_id, e.label, ROUND(SUM((e.x - c.c) * (e.x - c.c)), 6) AS dist
  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, dist, CAST(rnk AS INT) AS rnk FROM (
  SELECT vec_id, label, dist,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rnk
  FROM d
) WHERE rnk <= 3
""",
)
def label_centroid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid rollup + 3 closest members (medoid-ish) —
    posexplode -> per-dim avg -> rejoin -> rank-limit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.label_centroid_topk(emb, 3)


@query(
    "wal_replay_state",
    """
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type != 'error'
""",
)
def wal_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17+O12: WAL replay with tombstones — latest op per key wins,
    keys whose latest op is a delete ('error' here) have no row.  One
    shuffle-by-key window regardless of log length."""
    events = load_table(spark, sf_dir, "events")
    state = M.wal_replay(events, ["user_id"], ["ts", "event_id"], "event_type", "error")
    return state.select("user_id", "event_id", "event_type", "value")


@query(
    "allocate_doc_ids",
    """
SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) AS BIGINT) AS new_id
FROM documents
""",
)
def allocate_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O20: deterministic dense id allocation over a total order (the
    reference's increaseID_ counter, distributed)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return M.allocate_ids(docs, ["source", "doc_id"]).select("doc_id", "new_id")


@query(
    "snapshot_roundtrip",
    """
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vec_id) AS BIGINT) AS sum_id
FROM embeddings WHERE label < 5 GROUP BY 1
""",
)
def snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/O18/O19: snapshot = Parquet write partitioned by the hot
    filter column (the filter-index analog), restore = read back; the
    label predicate after restore prunes at the directory level.
    Values must round-trip losslessly — checked by the oracle reading
    the ORIGINAL table."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_path("snap_embeddings", sf_dir)
    back = M.restore(spark, path, M.snapshot(emb, path, partition_by=["label"]))
    return (
        back.filter(F.col("label") < 5)
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.sum("vec_id").alias("sum_id"),
        )
    )


@query(
    "json_source_roundtrip",
    """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
""",
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: the reference's only ingress is HTTP JSON
    (src/http_server.cc:14-38); the Spark analog is the JSON
    source/sink.  Write the doc table as JSON lines, read it back with
    an explicit schema (schema inference is a full extra pass at
    100 TB — never rely on it), aggregate; the oracle reads the
    ORIGINAL parquet, so the check proves lossless JSON round-trip."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_json", sf_dir)
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "csv_source_roundtrip",
    """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
""",
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd read-back (quote/escape handling proven by
    the oracle reading the ORIGINAL parquet — the fixture text contains
    commas).  Explicit schema, never inferSchema (a full extra pass at
    100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_csv", sf_dir)
    docs.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "orc_source_roundtrip",
    """
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang, source
""",
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + read-back (the third columnar interchange format
    after Parquet/JSON/CSV; same predicate-pushdown/column-pruning
    contract as Parquet).  Oracle reads the ORIGINAL parquet, proving
    the round-trip lossless."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_orc", sf_dir)
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "sql_api_revenue",
    """
SELECT n_name,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: fixture tables registered as temp views,
    query expressed as raw spark.sql — same Catalyst plan as the
    DataFrame form (the engine's two APIs are one planner)."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


