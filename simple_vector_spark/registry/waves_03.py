"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, local_frame, scratch_path

from . import _ORACLES, finalize_double, query
from .core_knn import KNN_K, _query_vector
from .core_relational import E, R
from .core_events import _SESSION_ORACLE
from .core_dedup import D, _CLUSTER_LABELS_CTES, _DOCS_PLUS_SQL, _SIG_COLS_SQL, _TOKS_SQL, _docs_plus_spark, _dup_cluster_labels, _minhash_pairs
from .core_ann import A, ANN_K, ANN_QUERY_ID, T
from .core_text import BM25_TERMS, _BM25_CTES, _BM25_TERMS_SQL, _TK_SQL
from .waves_01 import CU, SK
from .core_multimodal_streaming import SJ
from .waves_02 import WAL_DELETE_MOD, WAL_DOC_MOD, _wal_docs, _wal_log



# --------------------------------------------------------------------------
# Wave 43 (round 2): IR-eval metrics over the k-NN ranking, nucleus
# (top-p) audit over the bigram LM.
# --------------------------------------------------------------------------


@query(
    "knn_retrieval_metrics",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlab, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {K.RETRIEVAL_N_QUERIES}
),
pairs AS (
  SELECT q.query_id, q.qlab, e.vec_id, e.label,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
),
d AS (
  SELECT query_id, qlab, vec_id, label, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM pairs GROUP BY query_id, qlab, vec_id, label
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rnk2
  FROM d
),
top AS (SELECT * FROM rk WHERE rnk2 <= {K.RETRIEVAL_K}),
lab_tot AS (SELECT label AS qlab, COUNT(*) - 1 AS n_rel FROM embeddings GROUP BY label),
perq AS (
  SELECT t.query_id, t.qlab,
         MIN(CASE WHEN t.label = t.qlab THEN t.rnk2 END) AS first_rel,
         SUM(CASE WHEN t.label = t.qlab
                  THEN 1.0 / (ln(t.rnk2 + 1.0) / ln(2.0)) ELSE 0 END) AS dcg
  FROM top t GROUP BY t.query_id, t.qlab
),
wide AS (
  SELECT p.query_id, p.first_rel, p.dcg,
         least(l.n_rel, {K.RETRIEVAL_K}) AS m
  FROM perq p JOIN lab_tot l USING (qlab)
),
ideal AS (
  SELECT query_id, SUM(1.0 / (ln(i + 1.0) / ln(2.0))) AS idcg
  FROM (SELECT query_id, unnest(range(1, m + 1)) AS i FROM wide)
  GROUP BY query_id
)
SELECT w.query_id,
       CAST(COALESCE(w.first_rel, 0) AS INT) AS first_rel_rank,
       ROUND(COALESCE(1.0 / w.first_rel, 0.0), 4) AS rr,
       ROUND(w.dcg / i.idcg, 4) AS ndcg
FROM wide w JOIN ideal i USING (query_id)
""",
)
def knn_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation of the exact k-NN ranking: per query, reciprocal
    rank of the first same-label hit and binary-gain nDCG@{K.RETRIEVAL_K}
    — the retrieval-quality loop, as DataFrame ops."""
    return K.retrieval_metrics(load_table(spark, sf_dir, "embeddings"))


@query(
    "bigram_nucleus_audit",
    f"""
WITH tk AS (SELECT {_TK_SQL} AS tk FROM documents),
bi AS (
  SELECT tk[i] AS ctx, tk[i + 1] AS nxt, COUNT(*) AS c
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)
  GROUP BY 1, 2
),
ctx_tot AS (SELECT ctx, SUM(c) AS tot FROM bi GROUP BY ctx),
top_ctx AS (SELECT ctx, tot FROM ctx_tot ORDER BY tot DESC, ctx LIMIT {T.NUCLEUS_CONTEXTS}),
scoped AS (
  -- exact NANO-probabilities: round(c/tot, 9) as the integer HALF_UP
  -- division — no double is ever ROUNDed (tie-break semantics differ
  -- across engines) and the windowed cumsum is an exact integer fold
  -- (DuckDB's segment-tree window SUM and Spark's sequential fold
  -- disagree by ulps on raw f64)
  SELECT b.ctx, b.nxt, t.tot,
         (2 * CAST(b.c AS HUGEINT) * 1000000000 + t.tot)
           // (2 * CAST(t.tot AS HUGEINT)) AS pp
  FROM bi b JOIN top_ctx t USING (ctx)
),
cum AS (
  SELECT *, SUM(pp) OVER (PARTITION BY ctx ORDER BY pp DESC, nxt
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM scoped
)
SELECT ctx,
       CAST(MAX(tot) AS BIGINT) AS n_occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_next_types,
       CAST(SUM(CASE WHEN cum - pp < {int(round(T.NUCLEUS_P * 1e9))}
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS nucleus_size,
       CAST((2 * MAX(CASE WHEN cum - pp < {int(round(T.NUCLEUS_P * 1e9))}
                          THEN cum END) + 1000) // 2000 AS DOUBLE)
         / 1000000.0 AS nucleus_mass
FROM cum GROUP BY ctx
""",
)
def bigram_nucleus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p={T.NUCLEUS_P}) audit over the corpus bigram LM:
    smallest next-token set reaching the mass threshold for the most
    frequent contexts — the sampling-spikiness design statistic."""
    return T.bigram_nucleus_audit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 44 (round 2): day-of-week ANOVA, deterministic weighted sampling.
# --------------------------------------------------------------------------


@query(
    "orders_dow_anova",
    """
WITH per AS (
  SELECT dayofweek(o_orderdate) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS s,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2))
               * CAST(o_totalprice AS DECIMAL(15,2)) AS DECIMAL(30,4))) AS ss
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS N,
         CAST(SUM(s) AS DOUBLE) AS S, CAST(SUM(ss) AS DOUBLE) AS SS,
         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS SG
  FROM per
)
SELECT CAST(k AS INT) AS n_groups, N AS n_orders,
       ROUND(CASE WHEN (SG - S * S / N) + (SS - SG) > 0
             THEN (SG - S * S / N) / ((SG - S * S / N) + (SS - SG))
             ELSE 0.0 END, 6) AS eta_sq,
       ROUND(CASE WHEN SS - SG > 0
             THEN ((SG - S * S / N) / (k - 1)) / ((SS - SG) / (N - k))
             END, 4) AS f_stat
FROM tot
""",
)
def orders_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across day-of-week groups (F
    statistic + eta² from exact power sums) — the weekday-effect
    significance test."""
    return R.dow_revenue_anova(load_table(spark, sf_dir, "orders"))


@query(
    "doc_weighted_sample",
    f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         ROUND(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) + 1) / 4294967297.0)
               / n_chars, 10) AS k10
  FROM documents
)
SELECT doc_id, weight, ROUND(k10, 6) AS ares_key
FROM keyed ORDER BY k10, doc_id LIMIT {CU.ARES_K}
""",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-Res):
    content-stable md5 uniforms, key = -ln(u)/w, k smallest win —
    reproducible weighted-mixture sampling at scan speed."""
    return CU.weighted_sample_ares(load_table(spark, sf_dir, "documents"))


@query(
    "events_touch_attribution",
    """
WITH t AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
         COALESCE(last_value(CASE WHEN event_type != 'purchase' THEN event_type END
                             IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  'none') AS last_touch,
         COALESCE(first_value(CASE WHEN event_type != 'purchase' THEN event_type END
                              IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  'none') AS first_touch
  FROM events
),
p AS (SELECT * FROM t WHERE event_type = 'purchase'),
m AS (
  SELECT 'last' AS model, last_touch AS touch, v FROM p
  UNION ALL
  SELECT 'first', first_touch, v FROM p
)
SELECT model, touch, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(v) AS DOUBLE), 6) AS value
FROM m GROUP BY model, touch
""",
)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First- and last-touch purchase attribution in one pass: purchase
    value credited to the user's first/latest preceding non-purchase
    event type ('none' when untouched) — the marketing-credit report,
    both running touches off one window."""
    return E.touch_attribution(load_table(spark, sf_dir, "events"))


@query(
    "stream_live_index_knn",
    f"""
WITH recs AS (
  SELECT vec_id AS log_id,
         vec_id % {WAL_DOC_MOD} AS id,
         CASE WHEN vec_id % {WAL_DELETE_MOD} = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM embeddings
),
latest AS (
  SELECT id, op FROM (
    SELECT id, op, ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_id DESC) AS rn
    FROM recs
  ) WHERE rn = 1
),
live AS (SELECT id FROM latest WHERE op != 'delete'),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {ANN_QUERY_ID}
),
pairs AS (
  SELECT e.vec_id, e.label,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e JOIN live ON e.vec_id = live.id CROSS JOIN q
),
d AS (
  SELECT vec_id, label, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM pairs GROUP BY vec_id, label
)
SELECT * FROM d ORDER BY dist, vec_id LIMIT {KNN_K}
""",
)
def stream_live_index_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE lifecycle as one flow: the op log streams
    through the custom WAL source, a foreachBatch sink maintains the
    live id state (latest-wins + tombstone drop applied per drain),
    and exact k-NN then runs against the vectors surviving in that
    state — continuous-upsert-feed -> searchable-index, with the
    search result proven equal to a batch replay oracle.  Search cost
    shape is unchanged (semi-join of the corpus against the live-id
    state, then the usual heap top-k)."""
    import shutil

    from ..sources.wal_source import read_wal, write_wal_segments

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_path("wal_live", sf_dir)
    ck, raw = f"{path}_ck", f"{path}_raw"
    for p in (path, ck, raw):
        shutil.rmtree(p, ignore_errors=True)
    write_wal_segments(_wal_log(emb).repartition(4, "log_id"), path)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(raw)

    wal = read_wal(spark, path, stream=True)
    SJ.run_available_now(wal.writeStream.foreachBatch(sink).outputMode("append"), ck)

    from ..operators.mutation import wal_replay

    acc = _wal_docs(spark.read.parquet(raw))
    live = wal_replay(acc, ["id"], ["log_id"], "op", "delete").select("id")
    corpus = emb.join(live, emb.vec_id == live.id, "left_semi")
    return K.knn_topk(
        corpus, _query_vector(spark, sf_dir, ANN_QUERY_ID), KNN_K, "sqL2"
    )


# --------------------------------------------------------------------------
# Wave 46 (round 2): null-aware anti-join semantics audit, JSON
# schema-discovery stats over the props column.
# --------------------------------------------------------------------------


@query(
    "null_aware_anti_join",
    """
WITH fkeys AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
),
with_null AS (SELECT k FROM fkeys UNION ALL SELECT NULL),
stats AS (
  SELECT
    (SELECT COUNT(*) FROM customer) AS n_customers,
    (SELECT COUNT(*) FROM customer
      WHERE c_custkey NOT IN (SELECT k FROM with_null)) AS n_not_in_with_null,
    (SELECT COUNT(*) FROM customer
      WHERE c_custkey NOT IN (SELECT k FROM fkeys)) AS n_not_in_null_free,
    (SELECT COUNT(*) FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM with_null w WHERE w.k = c.c_custkey))
      AS n_anti_join
)
SELECT CAST(n_customers AS BIGINT) AS n_customers,
       CAST(n_not_in_with_null AS BIGINT) AS n_not_in_with_null,
       CAST(n_not_in_null_free AS BIGINT) AS n_not_in_null_free,
       CAST(n_anti_join AS BIGINT) AS n_anti_join
FROM stats
""",
)
def null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs anti-join under NULLs — the three-valued-logic trap:
    a single NULL in the subquery empties NOT IN (0 rows), while the
    NOT EXISTS anti join ignores it.  The engine-parity audit every
    migration off hand-written SQL needs; Spark plans the NOT IN as a
    null-aware anti join (NAAJ)."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH fkeys AS (
          SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        ),
        with_null AS (SELECT k FROM fkeys UNION ALL SELECT CAST(NULL AS BIGINT))
        SELECT
          CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_customers,
          CAST((SELECT COUNT(*) FROM customer
                WHERE c_custkey NOT IN (SELECT k FROM with_null)) AS BIGINT)
            AS n_not_in_with_null,
          CAST((SELECT COUNT(*) FROM customer
                WHERE c_custkey NOT IN (SELECT k FROM fkeys)) AS BIGINT)
            AS n_not_in_null_free,
          CAST((SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM with_null w
                                  WHERE w.k = c.c_custkey)) AS BIGINT)
            AS n_anti_join
        """
    )


@query(
    "events_props_key_stats",
    """
WITH kv AS (
  SELECT k, json_extract_string(props, '$.' || k) AS v
  FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       CAST(MIN(TRY_CAST(v AS BIGINT)) AS BIGINT) AS min_num,
       CAST(MAX(TRY_CAST(v AS BIGINT)) AS BIGINT) AS max_num
FROM kv GROUP BY k
""",
)
def events_props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the semi-structured props column: every
    JSON key's row count, distinct-value count, and numeric range —
    the profiling pass that decides which keys get promoted to typed
    columns.  One map-explode shuffle on key."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("k", "v")
    )
    return kv.groupBy("k").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
        # try_cast: non-numeric values profile as NULL instead of an
        # ANSI cast error (TRY_CAST on the oracle side)
        F.min(F.col("v").try_cast("long")).alias("min_num"),
        F.max(F.col("v").try_cast("long")).alias("max_num"),
    )


# --------------------------------------------------------------------------
# Wave 47 (round 2): SimHash near-dup pairs (the bit-vector LSH
# sibling of the MinHash pipeline), ABC revenue classification on the
# two-phase global prefix sum.
# --------------------------------------------------------------------------


@query(
    "dedup_simhash_pairs",
    f"""
WITH {_DOCS_PLUS_SQL},
toksh AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS tk
  FROM docs_plus
),
tokh AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(tk) AS t FROM toksh)
),
votes AS (
  SELECT doc_id, b,
         SUM(2 * (CAST(floor(h / pow(2, b)) AS BIGINT) % 2) - 1) AS w
  FROM tokh, unnest(range({D.SIMHASH_PAIR_BITS})) AS bb(b)
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, b AS band,
         CAST(floor(simhash / pow(2, b * {D.SIMHASH_PAIR_BITS // D.SIMHASH_BANDS}))
              AS BIGINT) % {1 << (D.SIMHASH_PAIR_BITS // D.SIMHASH_BANDS)} AS bucket
  FROM sh, unnest(range({D.SIMHASH_BANDS})) AS bb(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {D.SIMHASH_MAX_HAMMING}
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4x4-bit band candidates + exact popcount
    Hamming gate over the 16-bit fingerprints — the bit-vector LSH
    strategy beside MinHash, full oracle parity including the planted
    duplicates."""
    return D.simhash_candidate_pairs(_docs_plus_spark(spark, sf_dir))


@query(
    "parts_abc_classification",
    f"""
WITH per AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS rev
  FROM lineitem GROUP BY l_partkey
),
cum AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS total
  FROM per
),
classed AS (
  SELECT rev,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= {R.ABC_THRESHOLDS[0]}
                THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= {R.ABC_THRESHOLDS[1]}
                THEN 'B'
              ELSE 'C' END AS abc,
         total
  FROM cum
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(CAST(SUM(rev) AS DECIMAL(15,2)) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6)
         AS revenue_share
FROM classed GROUP BY abc
""",
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of parts by cumulative revenue share (A to
    80%, B to 95%, C tail) — cumulative shares from the two-phase
    range-partitioned prefix sum, never an unpartitioned ordered
    window."""
    return finalize_double(
        R.parts_abc_classification(load_table(spark, sf_dir, "lineitem")),
        "revenue",
    )


@query(
    "events_max_concurrent",
    """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) + INTERVAL 30 MINUTE AS e
  FROM g GROUP BY user_id, sid
),
deltas AS (
  SELECT s AS t, CAST(1 AS BIGINT) AS d FROM sess
  UNION ALL
  SELECT e, CAST(-1 AS BIGINT) FROM sess
),
swept AS (
  SELECT t, SUM(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS open
  FROM deltas
),
pk AS (SELECT MAX(open) AS peak FROM swept)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
       (SELECT CAST(peak AS BIGINT) FROM pk) AS peak,
       (SELECT strftime(MIN(t), '%Y-%m-%d %H:%M:%S')
        FROM swept, pk WHERE swept.open = pk.peak) AS peak_ts
""",
)
def events_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency via the interval sweep (+1/-1 deltas,
    global running sum, max) — the capacity-planning number, with the
    running sum on the two-phase range-partitioned prefix sum instead
    of a single-partition ordered window."""
    return E.max_concurrent_sessions(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 49 (round 2): triangle census of the dup graph, fulfilment
# latency percentiles.
# --------------------------------------------------------------------------


@query(
    "dedup_graph_triangles",
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
),
e AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
wedge AS (
  SELECT w1.a AS x, w1.b AS y, w2.b AS z
  FROM e w1 JOIN e w2 ON w1.b = w2.a
  WHERE w1.a < w1.b
),
tri AS (
  SELECT wedge.x, wedge.y, wedge.z
  FROM wedge JOIN e ON wedge.x = e.a AND wedge.z = e.b
),
deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
         CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS triads
  FROM deg
)
SELECT n_nodes, n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
       ROUND(CASE WHEN triads > 0
             THEN 3.0 * (SELECT COUNT(*) FROM tri) / triads
             ELSE 0.0 END, 6) AS clustering_coeff
FROM stats
""",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the MinHash
    pair graph — clique-like clusters (true re-posts) vs chain-like
    drift families, via the oriented wedge join (two key shuffles)."""
    return D.pair_graph_triangles(_minhash_pairs(spark, sf_dir))


@query(
    "order_ship_latency",
    """
WITH fs AS (
  SELECT l_orderkey, MIN(l_shipdate) AS ship FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(datediff('day', o_orderdate, CAST(ship AS DATE)), 0.50), 4) AS p50,
       ROUND(quantile_cont(datediff('day', o_orderdate, CAST(ship AS DATE)), 0.90), 4) AS p90,
       ROUND(quantile_cont(datediff('day', o_orderdate, CAST(ship AS DATE)), 0.99), 4) AS p99
FROM fs JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def order_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment SLA distribution: exact p50/p90/p99 of order-to-first-
    ship days per priority class — one fact-fact shuffle reduced to
    per-order first-ship."""
    return R.order_to_ship_latency(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


# --------------------------------------------------------------------------
# Wave 50 (round 2): seasonal decomposition, customer segment migration.
# --------------------------------------------------------------------------


@query(
    "orders_seasonal_decompose",
    """
WITH monthly AS (
  SELECT (CAST(strftime(o_orderdate, '%Y') AS INT) - 1992) * 12
         + CAST(strftime(o_orderdate, '%m') AS INT) - 1 AS t,
         CAST(strftime(o_orderdate, '%m') AS INT) AS moy,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS y
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(t AS DECIMAL(20,2)) * y) AS DOUBLE) AS sty
  FROM monthly
),
fit AS (
  SELECT (n * sty - st * sy) / (n * stt - st * st) AS b,
         (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n AS a
  FROM s
)
SELECT CAST(moy AS INT) AS moy, CAST(COUNT(*) AS BIGINT) AS n_months,
       ROUND(AVG(CAST(y AS DOUBLE) - (fit.a + fit.b * t)), 4) AS seasonal
FROM monthly CROSS JOIN fit
GROUP BY moy
""",
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-removed month-of-year seasonal profile of revenue
    (closed-form STL-lite from exact power sums) — which calendar
    months genuinely over/under-index once growth is removed."""
    return R.seasonal_decompose(load_table(spark, sf_dir, "orders"))


@query(
    "customer_segment_migration",
    f"""
WITH s1 AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
  FROM orders WHERE CAST(strftime(o_orderdate, '%Y') AS INT) = 1995
  GROUP BY o_custkey
),
s2 AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
  FROM orders WHERE CAST(strftime(o_orderdate, '%Y') AS INT) = 1996
  GROUP BY o_custkey
),
t1 AS (
  SELECT o_custkey,
         CAST(ntile({R.MIGRATION_TILES}) OVER (ORDER BY spend DESC, o_custkey) AS VARCHAR)
           AS seg_from
  FROM s1
),
t2 AS (
  SELECT o_custkey,
         CAST(ntile({R.MIGRATION_TILES}) OVER (ORDER BY spend DESC, o_custkey) AS VARCHAR)
           AS seg_to
  FROM s2
)
SELECT COALESCE(seg_from, 'none') AS seg_from,
       COALESCE(seg_to, 'none') AS seg_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM t1 FULL OUTER JOIN t2 USING (o_custkey)
GROUP BY 1, 2
""",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-tercile migration matrix between two years (plus
    churn/new rows) — retention quality for LTV planning, both tilings
    on the two-phase grouped ntile."""
    return R.customer_segment_migration(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 51 (round 2): equi-depth histogram statistics, part-name entity
# matching.
# --------------------------------------------------------------------------


@query(
    "orders_equidepth_histogram",
    f"""
WITH tiled AS (
  SELECT CAST(o_totalprice AS DECIMAL(15,2)) AS v,
         ntile({R.EQUIDEPTH_BUCKETS}) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(15,2)), o_orderkey)
           AS bucket
  FROM orders
)
SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi
FROM tiled GROUP BY bucket
""",
)
def orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order value (the ANALYZE-statistics
    structure selectivity estimation reads) — k equal-count buckets
    with value bounds, built on the two-phase ntile."""
    return finalize_double(
        R.equidepth_histogram(load_table(spark, sf_dir, "orders")),
        "lo", "hi",
    )


PART_MATCH_THRESHOLD = 0.5


@query(
    "part_name_matching",
    f"""
WITH t AS (
  SELECT p_partkey, p_brand,
         list_filter(regexp_split_to_array(lower(p_name), '\\s+'), x -> x != '') AS tk
  FROM part
),
sh AS (
  SELECT DISTINCT p_partkey, p_brand, tk[i] || ' ' || tk[i + 1] AS g
  FROM (SELECT p_partkey, p_brand, tk, unnest(range(1, len(tk))) AS i FROM t)
),
sizes AS (SELECT p_partkey, COUNT(*) AS n_g FROM sh GROUP BY p_partkey),
inter AS (
  SELECT a.p_partkey AS pa, b.p_partkey AS pb, COUNT(*) AS i
  FROM sh a JOIN sh b
    ON a.p_brand = b.p_brand AND a.g = b.g AND a.p_partkey < b.p_partkey
  GROUP BY 1, 2
)
SELECT pa, pb,
       ROUND(i * 1.0 / (sa.n_g + sb.n_g - i), 6) AS jacc
FROM inter
JOIN sizes sa ON sa.p_partkey = pa
JOIN sizes sb ON sb.p_partkey = pb
WHERE i * 1.0 / (sa.n_g + sb.n_g - i) >= {PART_MATCH_THRESHOLD}
""",
)
def part_name_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on the part dimension: near-identical part
    names (2-word-shingle Jaccard >= {PART_MATCH_THRESHOLD}) within a
    brand block — the catalog-hygiene fuzzy matcher, same blocked
    shingle-join shape as document dedup but on an entity name
    column."""
    from ..functions.text import tokens, word_shingles

    part = load_table(spark, sf_dir, "part")
    sh = (
        part.select(
            "p_partkey",
            "p_brand",
            F.explode(
                F.array_distinct(word_shingles(tokens(F.col("p_name")), 2))
            ).alias("g"),
        )
    ).localCheckpoint()
    sizes = sh.groupBy("p_partkey").agg(F.count("*").alias("n_g"))
    a, b = sh.alias("ma"), sh.alias("mb")
    inter = (
        a.join(
            b,
            (F.col("ma.p_brand") == F.col("mb.p_brand"))
            & (F.col("ma.g") == F.col("mb.g"))
            & (F.col("ma.p_partkey") < F.col("mb.p_partkey")),
        )
        .groupBy(
            F.col("ma.p_partkey").alias("pa"), F.col("mb.p_partkey").alias("pb")
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("p_partkey").alias("pa"), F.col("n_g").alias("na"))
    sb = sizes.select(F.col("p_partkey").alias("pb"), F.col("n_g").alias("nb"))
    jacc = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "pa")
        .join(sb, "pb")
        .select("pa", "pb", F.round(jacc, 6).alias("jacc"))
        .filter(F.col("jacc") >= PART_MATCH_THRESHOLD)
    )


@query(
    "events_session_paths",
    f"""
WITH o AS (
  SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS ch,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, ts, event_id, ch,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
paths AS (
  SELECT array_to_string(
           (list(ch ORDER BY ts, event_id))[1:{E.PATH_PREFIX_LEN}], '') AS path
  FROM g GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {E.PATH_TOP_N}
""",
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session entry paths: the first {E.PATH_PREFIX_LEN}
    event-type initials per session, frequency-ranked — clickstream
    path mining off the shared gaps-and-islands machinery."""
    return E.session_paths(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 52 (round 2): the Spark-4 surface — native XML source, VARIANT
# semi-structured extraction, SQL pipe syntax, string collations.  The
# reference speaks exactly one wire format (HTTP JSON,
# src/http_server.cc:14-38); a Spark-first engine exposes every ingest
# format and SQL dialect surface the platform ships.
# --------------------------------------------------------------------------


@query(
    "xml_source_roundtrip",
    """
SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys,
       CAST(SUM(length(n_name)) AS BIGINT) AS sum_name_chars
FROM nation GROUP BY n_regionkey
""",
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source (Spark 4 ships spark-xml in-core): write the
    nation dim as <nations><nation>...</nation></nations>, read it back
    with an explicit schema + rowTag (schema inference is an extra full
    pass at 100 TB — never rely on it), aggregate.  The oracle reads
    the ORIGINAL parquet, so a hash match proves the XML round-trip is
    lossless including entity-escaping of markup characters."""
    nation = load_table(spark, sf_dir, "nation")
    path = scratch_path("nation_xml", sf_dir)
    (
        nation.write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.option("rowTag", "nation")
        .schema(nation.schema)
        .format("xml")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("sum_keys"),
        F.sum(F.length("n_name")).cast("bigint").alias("sum_name_chars"),
    )


@query(
    "events_variant_extract",
    """
SELECT event_type,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
""",
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4): parse
    the JSON string once into the binary variant encoding, then typed
    variant_get extraction — the shredded-access pattern that replaces
    repeated get_json_object string re-parses (one parse, many typed
    reads; at 100 TB the parse is the cost).  Oracle: DuckDB JSON
    extraction over the same strings."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.try_parse_json("props").alias("v"))
    k = v.select(
        "event_type", F.variant_get("v", "$.k", "long").alias("k")
    )
    return k.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "sql_pipe_revenue",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2)
         AS revenue
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
""",
)
def sql_pipe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same Catalyst plan
    as the nested-SELECT form, written as a linear dataflow — proof the
    engine's third query surface (DataFrame, ANSI SQL, pipe SQL) all
    meet in one planner."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE COUNT(*) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2)
               AS revenue
   GROUP BY o_orderpriority
|> SELECT o_orderpriority, n_orders, revenue
"""
    )


COLLATION_PATTERNS = ("CLICK", "Error", "purchase")


@query(
    "events_collated_filter",
    f"""
SELECT p AS pattern,
       CAST(SUM(CASE WHEN lower(event_type) = lower(p) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ci,
       CAST(SUM(CASE WHEN event_type = p THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact
FROM events
CROSS JOIN (SELECT unnest({list(COLLATION_PATTERNS)}) AS p)
GROUP BY p
""",
)
def events_collated_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): the same equality predicate under
    UTF8_LCASE vs binary collation, evaluated JVM-side — the engine's
    case-insensitive matching is a collation property of the
    comparison, not a lower() rewrite (which would defeat dictionary
    and index pushdown on a collated column at scale).  Oracle models
    the collation with lower()= since DuckDB compares binary."""
    ev = load_table(spark, sf_dir, "events")
    pats = local_frame(spark, [(p,) for p in COLLATION_PATTERNS], "pattern string")
    j = ev.crossJoin(F.broadcast(pats))
    ci = F.collate(F.col("event_type"), "UTF8_LCASE") == F.collate(
        F.col("pattern"), "UTF8_LCASE"
    )
    exact = F.col("event_type") == F.col("pattern")
    return j.groupBy("pattern").agg(
        F.sum(ci.cast("int")).cast("bigint").alias("n_ci"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact"),
    )


# --------------------------------------------------------------------------
# Wave 53 (round 2): data-quality + training-pair construction —
# referential-integrity audit, Luhn PII gate, KMV set intersection,
# DPO-style preference pairs.
# --------------------------------------------------------------------------

_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fk,
       CAST((SELECT COUNT(*) FROM {child_t}) AS BIGINT) AS n_child_rows,
       CAST((SELECT COUNT(*) FROM {child_t} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent_t} p
                               WHERE p.{parent_k} = c.{child_k})) AS BIGINT)
         AS n_orphans"""
    for name, child_t, child_k, parent_t, parent_k in __import__(
        "simple_vector_spark.operators.validate", fromlist=["FK_EDGES"]
    ).FK_EDGES
)


@query("fk_orphan_audit", _FK_ORACLE)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity (dbt relationship-test) audit over every
    declared FK edge of the star schema — child row counts + orphan
    counts, dim parents broadcast, fact edges key-only hash joins."""
    from ..operators import validate as V

    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem")
    }
    return V.fk_orphan_audit(tables)


def _luhn_terms_sql(expr: str, n: int) -> str:
    terms = []
    for i in range(1, n + 1):
        d = f"CAST(substr({expr}, {i}, 1) AS INT)"
        if i % 2 == 0:
            terms.append(
                f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END)"
            )
        else:
            terms.append(d)
    return " + ".join(terms)


@query(
    "pii_luhn_audit",
    f"""
WITH cand AS (
  SELECT o_orderpriority,
         reverse(substr(lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
                        || lpad(CAST(o_custkey AS VARCHAR), 8, '0'), 1, 16)) AS rev
  FROM orders
),
checked AS (
  SELECT o_orderpriority,
         CASE WHEN ({_luhn_terms_sql('rev', 16)}) % 10 = 0 THEN 1 ELSE 0 END AS ok
  FROM cand
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(ok) AS BIGINT) AS n_luhn_valid,
       ROUND(SUM(ok) / CAST(COUNT(*) AS DOUBLE), 6) AS valid_rate
FROM checked GROUP BY o_orderpriority
""",
)
def pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-checksum card-number gate (the validation step of a PII
    scrubber) over deterministically synthesized 16-digit candidates —
    pure JVM arithmetic inside whole-stage codegen, no UDF."""
    from ..operators import curation as C

    return C.luhn_card_audit(load_table(spark, sf_dir, "orders"))


@query(
    "events_kmv_intersection",
    f"""
WITH hashed AS (
  SELECT event_type, user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events WHERE event_type IN ('click', 'purchase')
),
per_type AS (SELECT DISTINCT event_type, h FROM hashed),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rnk
    FROM per_type
  ) WHERE rnk <= {SK.KMV_K}
),
union_sk AS (
  SELECT h, rnk FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE rnk <= {SK.KMV_K}
),
ustats AS (
  SELECT COUNT(*) AS n_sk,
         CASE WHEN COUNT(*) < {SK.KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {SK.KMV_K - 1}.0 * 4294967296.0 /
                   CAST(MAX(CASE WHEN rnk = {SK.KMV_K} THEN h END) AS DOUBLE)
         END AS union_est
  FROM union_sk
),
member AS (
  SELECT COUNT(*) AS n_both_sk FROM union_sk u
  WHERE EXISTS (SELECT 1 FROM sk WHERE event_type = 'click' AND sk.h = u.h)
    AND EXISTS (SELECT 1 FROM sk WHERE event_type = 'purchase' AND sk.h = u.h)
),
ex AS (
  SELECT SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS n_both,
         COUNT(*) AS n_either
  FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nt
        FROM hashed GROUP BY user_id)
)
SELECT ROUND(n_both_sk / CAST(n_sk AS DOUBLE), 6) AS jaccard_est,
       ROUND(n_both_sk / CAST(n_sk AS DOUBLE) * union_est, 6) AS inter_est,
       ROUND(n_both / CAST(n_either AS DOUBLE), 6) AS jaccard_exact,
       CAST(n_both AS BIGINT) AS inter_exact,
       ROUND(ABS(n_both_sk / CAST(n_sk AS DOUBLE) * union_est - n_both)
             / CAST(n_both AS DOUBLE), 6) AS rel_err
FROM member, ustats, ex
""",
)
def events_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set-INTERSECTION (theta-sketch capability in
    exact-integer form): Jaccard + intersection estimates from the
    union sketch vs the exact answer."""
    return SK.kmv_intersection_audit(load_table(spark, sf_dir, "events"))


@query(
    "events_preference_pairs",
    """
WITH chosen AS (
  SELECT user_id, event_id AS chosen_event_id, ROUND(value, 6) AS chosen_value
  FROM (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
),
rejected AS (
  SELECT user_id, event_id AS rejected_event_id, ROUND(value, 6) AS rejected_value
  FROM (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value ASC, event_id) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
)
SELECT c.user_id, chosen_event_id, chosen_value,
       rejected_event_id, rejected_value,
       ROUND(chosen_value - rejected_value, 6) AS margin
FROM chosen c JOIN rejected r ON c.user_id = r.user_id
""",
)
def events_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: strongest purchase
    (chosen) vs weakest view (rejected) per user with the value
    margin — the training-pair shape a preference-tuning pipeline
    emits."""
    return E.preference_pairs(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 54 (round 2): grid spatial join, TF-IDF candidate verification,
# BPE merge training.
# --------------------------------------------------------------------------


@query(
    "embedding_grid_neighbors",
    f"""
WITH p AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[])[1] AS x,
         CAST(embedding AS DOUBLE[])[2] AS y
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 6)
         AS dist_sq
FROM p a JOIN p b ON a.vec_id < b.vec_id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {A.GRID_EPS * A.GRID_EPS!r}
""",
)
def embedding_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-neighbor pairs in 2D via grid blocking (the distributed
    spatial-join shape — floor(coord/eps) home cells, 3x3 neighbor
    explode, cell-keyed equi-join; never all-pairs).  Oracle is the
    brute-force quadratic filter."""
    return A.grid_neighbor_pairs(load_table(spark, sf_dir, "embeddings"))


_BANDS_SQL = """sigs AS (
  SELECT doc_id,
  {sig_cols}
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
)""".format(sig_cols=_SIG_COLS_SQL)


@query(
    "dedup_tfidf_verify",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
{_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
tk AS (SELECT doc_id, unnest({_TK_SQL}) AS term FROM docs_plus),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM docs_plus),
dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
w AS (
  SELECT doc_id, term,
         CAST(ROUND(tf * ln(n_docs / df), 6) AS DECIMAL(18,6)) AS w
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
norm2 AS (
  SELECT doc_id, SUM(CAST(w * w AS DECIMAL(38,12))) AS n2 FROM w GROUP BY doc_id
),
num AS (
  SELECT doc_a, doc_b,
         SUM(CAST(wa.w * wb.w AS DECIMAL(38,12))) AS num,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms
  FROM cand
  JOIN w wa ON wa.doc_id = doc_a
  JOIN w wb ON wb.doc_id = doc_b AND wb.term = wa.term
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_terms,
       ROUND(CAST(CAST(num AS VARCHAR) AS DOUBLE)
             / (SQRT(CAST(CAST(na.n2 AS VARCHAR) AS DOUBLE))
                * SQRT(CAST(CAST(nb.n2 AS VARCHAR) AS DOUBLE))), 6)
         AS cosine
FROM num
JOIN norm2 na ON na.doc_id = doc_a
JOIN norm2 nb ON nb.doc_id = doc_b
""",
)
def dedup_tfidf_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine verification of the MinHash-LSH candidate pairs —
    the scoring half of the dedup pipeline, exact-DECIMAL sums for
    cross-engine determinism, candidate-sized after the tf/df aggs."""
    return D.tfidf_verify_pairs(
        _docs_plus_spark(spark, sf_dir), _minhash_pairs(spark, sf_dir)
    )


def _bpe_round_ctes(i: int) -> str:
    prev = f"w{i - 1}"
    return f"""p{i} AS (
  SELECT unnest(list_transform(range(1, len(string_split(trim(w), '  '))),
           j -> string_split(trim(w), '  ')[j] || '  ' ||
                string_split(trim(w), '  ')[j + 1])) AS pair, n
  FROM {prev}
),
t{i} AS (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
  FROM p{i} GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
),
w{i} AS (
  SELECT word,
         replace(w, ' ' || (SELECT pair FROM t{i}) || ' ',
                 ' ' || replace((SELECT pair FROM t{i}), '  ', '') || ' ') AS w,
         n
  FROM {prev}
)"""


_BPE_ROUNDS_SQL = ",\n".join(
    _bpe_round_ctes(i) for i in range(1, T.BPE_MERGE_ROUNDS + 1)
)
_BPE_FINAL_SQL = " UNION ALL ".join(
    f"""SELECT CAST({i} AS INT) AS rank,
       split_part(pair, '  ', 1) AS left_sym,
       split_part(pair, '  ', 2) AS right_sym,
       replace(pair, '  ', '') AS merged, cnt FROM t{i}"""
    for i in range(1, T.BPE_MERGE_ROUNDS + 1)
)


@query(
    "bpe_train_merges",
    f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest({_TK_SQL}) AS word FROM documents) GROUP BY word
),
w0 AS (
  SELECT word,
         ' ' || array_to_string(
           list_transform(range(1, length(word) + 1),
                          i -> substr(word, i, 1)), '  ') || ' ' AS w, n
  FROM words
),
{_BPE_ROUNDS_SQL}
SELECT * FROM (
  {_BPE_FINAL_SQL}
)
""",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule training: {T.BPE_MERGE_ROUNDS} fixed rounds of
    count-adjacent-pairs -> merge-the-winner over the frequency-
    weighted word-type table — the iterative tokenizer trainer, corpus
    scanned once, loop on word types, driver holds only the winning
    pair per round (a model parameter)."""
    return T.bpe_train_merges(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 55 (round 2): built-in session-window TVF, LATERAL subquery,
# DDSketch quantiles, FD discovery, incremental join-view maintenance.
# --------------------------------------------------------------------------


@query("events_session_window_tvf", _SESSION_ORACLE)
def events_session_window_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN session_window TVF (vs events_sessionize's
    hand-rolled gaps-and-islands): groupBy(user, session_window(ts,
    gap)) — Spark's native merging-session-state aggregate, one user
    shuffle, window end = last event + gap.  Same oracle as the
    hand-rolled form: the two plans must agree row-for-row."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", E.TS_FMT).alias("session_start"),
            F.date_format("sw.end", E.TS_FMT).alias("session_end"),
            "n",
            "sum_value",
        )
    )


@query(
    "lateral_topk_orders",
    """
SELECT c_custkey, o_orderkey, CAST(price AS DOUBLE) AS price FROM (
  SELECT c_custkey, o_orderkey,
         CAST(o_totalprice AS DECIMAL(15,2)) AS price,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY CAST(o_totalprice AS DECIMAL(15,2)) DESC,
                                     o_orderkey) AS rn
  FROM customer JOIN orders ON o_custkey = c_custkey
) WHERE rn <= 2
""",
)
def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY ... LIMIT — the
    top-k-per-row SQL surface; Catalyst decorrelates it to the same
    windowed top-k the oracle spells out explicitly."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT c_custkey, o_orderkey, CAST(price AS DOUBLE) AS price
FROM customer,
LATERAL (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(15,2)) AS price
  FROM orders WHERE o_custkey = c_custkey
  ORDER BY price DESC, o_orderkey LIMIT 2
)
"""
    )


_DD_BUCKET_SQL = (
    f"CAST(ceil(ROUND(ln(CAST(o_totalprice AS DOUBLE)) / "
    f"ln({SK.DDSKETCH_GAMMA!r}), 9)) AS BIGINT)"
)
_DD_PARTS_SQL = " UNION ALL ".join(
    f"""SELECT {q} AS q,
       ROUND(2.0 * power({SK.DDSKETCH_GAMMA!r},
             (SELECT MIN(b) FROM cum WHERE cum >= ceil({q} * (SELECT n FROM nr))))
             / {SK.DDSKETCH_GAMMA + 1.0!r}, 6) AS est,
       (SELECT ROUND(v, 6) FROM ranked
        WHERE rn = ceil({q} * (SELECT n FROM nr))) AS exact"""
    for q in SK.DDSKETCH_QS
)


@query(
    "orders_ddsketch_quantiles",
    f"""
WITH b AS (
  SELECT {_DD_BUCKET_SQL} AS b, COUNT(*) AS cnt
  FROM orders GROUP BY 1
),
cum AS (
  SELECT b, SUM(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum FROM b
),
nr AS (SELECT COUNT(*) AS n FROM orders),
ranked AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
           AS rn
  FROM orders
)
SELECT q, est, exact, ROUND(ABS(est - exact) / exact, 6) AS rel_err
FROM ({_DD_PARTS_SQL})
""",
)
def orders_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch log-bucket quantile sketch vs exact (p50/p90/p99 of
    order value): the mergeable relative-error percentile structure —
    bucket table stays a few hundred rows at any input size; exact side
    via the two-phase global rank."""
    return SK.ddsketch_quantile_audit(load_table(spark, sf_dir, "orders"))


_FD_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det})"""
    for name, table, det, dep in __import__(
        "simple_vector_spark.operators.relational", fromlist=["FD_CANDIDATES"]
    ).FD_CANDIDATES
)


@query("fd_discovery_audit", _FD_ORACLE)
def fd_discovery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over declared candidates —
    the schema-normalization / data-contract profiling pass."""
    tables = {
        t: load_table(spark, sf_dir, t) for t in ("orders", "lineitem", "customer")
    }
    return R.fd_discovery_audit(tables)


@query(
    "ivm_join_delta",
    """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE), 2)
         AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the per-nation revenue view
    assembled from base partials + the three delta-join terms
    (ΔA⋈B, A⋈ΔB, ΔA⋈ΔB) instead of a full recompute — the oracle IS
    the full recompute, so matching hashes prove the delta algebra."""
    return R.ivm_join_delta(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


# --------------------------------------------------------------------------
# Wave 56 (round 2): recursive-CTE graph search, SQL UDF, parameterized
# SQL, Levenshtein entity matching.
# --------------------------------------------------------------------------

BFS_MAX_HOPS = 3

_BFS_EDGES_SQL = """ew AS (
  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY w DESC, dst) AS rn
    FROM ew
  ) WHERE rn = 1
)"""

_BFS_RECURSIVE_SQL = f"""paths(src, dst, hops) AS (
  SELECT src, dst, 1 AS hops FROM edges
  UNION ALL
  SELECT p.src, e.dst, p.hops + 1
  FROM paths p JOIN edges e ON p.dst = e.src
  WHERE p.hops < {BFS_MAX_HOPS}
)
SELECT src, dst, CAST(MIN(hops) AS INT) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM paths GROUP BY src, dst"""


@query(
    "nation_trade_bfs",
    f"""
WITH RECURSIVE {_BFS_EDGES_SQL},
{_BFS_RECURSIVE_SQL}
""",
)
def nation_trade_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded reachability over the dominant-trade-partner graph
    via Spark 4's RECURSIVE CTE (UNION ALL recursion, bounded by the
    hop predicate — the supported terminating form): each nation keeps
    only its top foreign customer-nation edge (one fact shuffle + a
    per-src top-1 window), then the recursion enumerates <= {BFS_MAX_HOPS}-hop
    paths and reports min hops + path count per reachable pair.
    Identical recursive SQL runs in the DuckDB oracle.

    Scale: recursion input is the |nations|-row dominant-partner edge
    list — graph search over a dimension-sized aggregate, the
    contracted-graph pattern; the fact table is touched once."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    edges = spark.sql(f"WITH {_BFS_EDGES_SQL} SELECT * FROM edges")
    edges.localCheckpoint().createOrReplaceTempView("edges")
    return spark.sql(f"WITH RECURSIVE {_BFS_RECURSIVE_SQL}")


PRICE_BANDS_SQL = (
    "CASE WHEN p > 200000 THEN 'high' "
    "WHEN p > 100000 THEN 'mid' ELSE 'low' END"
)


@query(
    "sql_udf_price_band",
    f"""
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders FROM (
  SELECT (SELECT {PRICE_BANDS_SQL.replace('p ', 'CAST(o_totalprice AS DECIMAL(15,2)) ')}) AS band
  FROM orders
) GROUP BY band
""",
)
def sql_udf_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN expr — Spark 4):
    the banding logic defined once as a catalog function and inlined
    by Catalyst into the same plan as the written-out CASE (no
    black-box UDF penalty — this is the governed-semantics surface a
    warehouse team shares)."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DECIMAL(15,2)) "
        f"RETURNS STRING RETURN {PRICE_BANDS_SQL}"
    )
    return spark.sql(
        """
SELECT price_band(CAST(o_totalprice AS DECIMAL(15,2))) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY band
"""
    )


PARAM_STATUS = "F"
PARAM_MIN_PRICE = 150000.0


@query(
    "sql_param_filter",
    f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderstatus = '{PARAM_STATUS}'
  AND CAST(o_totalprice AS DOUBLE) >= {PARAM_MIN_PRICE!r}
GROUP BY o_orderpriority
""",
)
def sql_param_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql named args — the injection-safe
    query surface): parameters bound server-side as literals, same
    Catalyst plan as inline constants."""
    from ..sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderstatus = :st AND CAST(o_totalprice AS DOUBLE) >= :minp
GROUP BY o_orderpriority
""",
        args={"st": PARAM_STATUS, "minp": PARAM_MIN_PRICE},
    )


LEV_MAX = 8


@query(
    "part_name_levenshtein",
    f"""
SELECT a.p_partkey AS pa, b.p_partkey AS pb,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
""",
)
def part_name_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity matching on the part dimension, blocked by
    (brand, type, size) so the pair space is sum-of-block-squares —
    the complementary signal to the shingle-Jaccard matcher (catches
    single-typo names Jaccard scores low)."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("pa"), F.col("p_name").alias("na"),
        "p_brand", "p_type", "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("pb"), F.col("p_name").alias("nb"),
        "p_brand", "p_type", "p_size",
    )
    lev = F.levenshtein(F.col("na"), F.col("nb"))
    return (
        a.join(b, ["p_brand", "p_type", "p_size"])
        .filter(F.col("pa") < F.col("pb"))
        .filter(lev <= LEV_MAX)
        .select("pa", "pb", lev.cast("int").alias("lev"))
    )


# --------------------------------------------------------------------------
# Wave 57 (round 2): Benford audit, Kaplan-Meier survival, inverted
# postings index, positional phrase search.
# --------------------------------------------------------------------------

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {s!r}" for d, s in R.BENFORD_SHARES.items()
) + " END"


@query(
    "orders_benford_audit",
    f"""
WITH dg AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders
),
g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dg GROUP BY digit),
t AS (SELECT SUM(n) AS tot FROM g)
SELECT digit, n,
       ROUND(n / CAST(tot AS DOUBLE), 6) AS obs_share,
       ROUND({_BENFORD_CASE}, 6) AS benford_share,
       ROUND(ABS(ROUND(n / CAST(tot AS DOUBLE), 6)
                 - ROUND({_BENFORD_CASE}, 6)), 6) AS abs_dev
FROM g, t
""",
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the money column — observed digit
    shares vs log10(1+1/d) with per-digit deviation; the fabricated-
    numbers data-quality gate."""
    return R.benford_audit(load_table(spark, sf_dir, "orders"))


@query(
    "events_kaplan_meier",
    """
WITH pu AS (
  SELECT user_id, MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
         MAX(ts) AS tl
  FROM events GROUP BY user_id
),
dur AS (
  SELECT CASE WHEN tp IS NOT NULL
              THEN CAST(CAST(tp AS DATE) - CAST(t0 AS DATE) AS BIGINT)
              ELSE CAST(CAST(tl AS DATE) - CAST(t0 AS DATE) AS BIGINT) END
           AS dur,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM pu
),
c AS (
  SELECT dur, CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS all_at
  FROM dur GROUP BY dur
),
r AS (
  SELECT dur, d,
         CAST((SELECT SUM(all_at) FROM c)
              - COALESCE(SUM(all_at) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM c
),
e AS (
  SELECT dur, n_risk, d,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS z,
         CASE WHEN d >= n_risk THEN NULL
              ELSE CAST(ROUND(ln(1.0 - d / CAST(n_risk AS DOUBLE)), 9)
                        AS DECIMAL(20,9)) END AS lnf
  FROM r WHERE d > 0
)
SELECT dur AS t, n_risk, d AS n_events,
       CASE WHEN MAX(z) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) = 1
            THEN 0.0
            ELSE ROUND(exp(CAST(SUM(lnf) OVER (ORDER BY dur
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
            END AS surv
FROM e
""",
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase survival curve with
    right-censoring at last observation — the retention/conversion
    estimator; running product via rounded-ln cumsum for cross-engine
    determinism."""
    return R.kaplan_meier(load_table(spark, sf_dir, "events"))


@query(
    "text_inverted_postings",
    f"""
WITH tk AS (SELECT doc_id, unnest({_TK_SQL}) AS term FROM documents),
pd AS (SELECT term, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2)
SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{T.POSTINGS_K}], ',')
         AS postings_head
FROM pd GROUP BY term
""",
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-term df, total tf, and the ascending
    postings-list head (comma-joined string — declared outputs keep
    flat hashable schemas) — the text-search index twin of the vector
    index builds."""
    return T.inverted_postings(load_table(spark, sf_dir, "documents"))


@query(
    "text_phrase_search",
    f"""
WITH base AS (SELECT doc_id, {_TK_SQL} AS tkk FROM documents),
tk AS (
  SELECT doc_id, i AS pos, tkk[i] AS term
  FROM (SELECT doc_id, tkk, unnest(range(1, len(tkk) + 1)) AS i FROM base)
),
a AS (SELECT doc_id, pos FROM tk WHERE term = '{T.PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM tk WHERE term = '{T.PHRASE[1]}')
SELECT CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
""",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase query through the positional index: the two terms'
    posting lists joined on (doc, pos+1) — posting-list-sized join, no
    text rescan."""
    return T.phrase_search(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 58 (round 2): binary-Hamming ANN, BPE apply/encode, power-sum
# higher moments, cluster-aware dataset split.
# --------------------------------------------------------------------------

_PACK_SQL = (
    "CAST(list_sum(list_transform(range(1, 33), d -> "
    "CASE WHEN {arr}[d + {off}] > 0 THEN CAST(POWER(2, d - 1) AS BIGINT) "
    "ELSE 0 END)) AS BIGINT)"
)


@query(
    "ann_binary_hamming",
    f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {ANN_QUERY_ID}
),
qp AS (
  SELECT {_PACK_SQL.format(arr="qv", off=0)} AS qlo,
         {_PACK_SQL.format(arr="qv", off=32)} AS qhi
  FROM q
),
pk AS (
  SELECT vec_id, e,
         {_PACK_SQL.format(arr="e", off=0)} AS lo,
         {_PACK_SQL.format(arr="e", off=32)} AS hi
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
),
hm AS (
  SELECT vec_id, e,
         CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INT)
           AS hamming
  FROM pk, qp
),
short AS (SELECT * FROM hm ORDER BY hamming, vec_id LIMIT {A.HAMMING_SHORTLIST}),
d AS (
  SELECT vec_id, hamming, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM (SELECT vec_id, hamming, unnest(e) AS x, unnest(qv) AS y
        FROM short, q)
  GROUP BY vec_id, hamming
)
SELECT vec_id, hamming, dist FROM d ORDER BY dist, vec_id LIMIT {ANN_K}
""",
)
def ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign quantization (64 dims -> two packed longs) +
    bit_count(xor) Hamming shortlist + exact f64 rerank — the
    1-bit-per-dim ANN path, 32x smaller than f32 storage."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.binary_hamming_search(emb, _query_vector(spark, sf_dir, ANN_QUERY_ID), ANN_K)


@query(
    "bpe_apply_encode",
    f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest({_TK_SQL}) AS word FROM documents) GROUP BY word
),
w0 AS (
  SELECT word,
         ' ' || array_to_string(
           list_transform(range(1, length(word) + 1),
                          i -> substr(word, i, 1)), '  ') || ' ' AS w, n
  FROM words
),
{_BPE_ROUNDS_SQL},
enc AS (
  SELECT word, len(string_split(trim(w), '  ')) AS n_syms
  FROM w{T.BPE_MERGE_ROUNDS}
),
tok AS (SELECT source, unnest({_TK_SQL}) AS word FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       ROUND(SUM(n_syms) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_symbols_per_token
FROM tok JOIN enc USING (word) GROUP BY source
""",
)
def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ENCODE step: apply the trained BPE merges to every
    word type, then per-source whitespace-token vs post-merge symbol
    accounting — completes the train->apply tokenizer loop."""
    return T.bpe_apply_encode(load_table(spark, sf_dir, "documents"))


@query(
    "lineitem_higher_moments",
    """
WITH a AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(10,2))) AS s1,
         SUM(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,4))) AS s2,
         SUM(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,6))) AS s3,
         SUM(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,8))) AS s4
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
       ROUND((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE) / n
              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
             / POWER(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                     1.5), 6) AS skewness,
       ROUND((CAST(s4 AS DOUBLE) / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s3 AS DOUBLE) / n
              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * CAST(s2 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / ((CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                * (CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             - 3.0, 6) AS excess_kurtosis
FROM a
""",
)
def lineitem_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis per returnflag from exact DECIMAL
    power sums — engine-neutral estimator convention, shuffle-order
    invariant."""
    return R.higher_moments(load_table(spark, sf_dir, "lineitem"))


@query(
    "dataset_split_by_cluster",
    f"""
WITH RECURSIVE {_CLUSTER_LABELS_CTES},
doc_cluster AS (
  SELECT dp.doc_id, COALESCE(l.cluster, dp.doc_id) AS cluster
  FROM docs_plus dp LEFT JOIN labels l ON l.node = dp.doc_id
),
gated AS (
  SELECT doc_id, cluster,
         CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, cluster,
           CAST(concat('0x', substr(md5(CAST(cluster AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS h
    FROM doc_cluster
  )
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
FROM gated GROUP BY split
""",
)
def dataset_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: the md5 gate keys on the
    near-dup CLUSTER id (singletons = own doc id), so a duplicate pair
    can never straddle the eval boundary — the fix the split-leakage
    audits motivate."""
    from ..functions.text import md5_int

    labels = _dup_cluster_labels(spark, sf_dir)
    docs = _docs_plus_spark(spark, sf_dir).select("doc_id")
    lab = labels.select(F.col("node").alias("doc_id"), "cluster")
    dc = docs.join(lab, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
    )
    h = md5_int(F.col("cluster").cast("string")) % 100
    gated = dc.withColumn(
        "split",
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test"),
    )
    return gated.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("cluster").cast("long").alias("n_clusters"),
    )


# --------------------------------------------------------------------------
# Wave 59 (round 2): CEP negation patterns, RM3 query expansion,
# table content fingerprints.
# --------------------------------------------------------------------------

_NEG_PATTERN_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS pattern,
       CAST(COUNT(CASE WHEN regexp_matches(seq, '{pat}') THEN 1 END) AS BIGINT)
         AS n_users
FROM seqs"""
    for name, pat in E.NEG_PATTERNS.items()
)


@query(
    "events_pattern_negation",
    f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
{_NEG_PATTERN_SQL}
""",
)
def events_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP patterns with NEGATION (A then B with no C between,
    trailing-failure classes) over the per-user event string — the
    exclusion semantics plain funnels can't express."""
    return E.sequence_pattern_negation(load_table(spark, sf_dir, "events"))


@query(
    "text_rm3_expansion",
    f"""
WITH {_BM25_CTES},
top AS (
  SELECT doc_id, CAST(score AS DOUBLE) AS s
  FROM bm ORDER BY score DESC, doc_id LIMIT {T.RM3_FEEDBACK_DOCS}
),
ftf AS (
  SELECT tk.doc_id, t, COUNT(*) AS tf
  FROM tk JOIN top USING (doc_id) GROUP BY 1, 2
),
ex AS (
  SELECT t AS term,
         ROUND(SUM(CAST(tf AS DOUBLE) / dl * s), 6) AS weight
  FROM ftf JOIN dl USING (doc_id) JOIN top USING (doc_id)
  WHERE t NOT IN ({_BM25_TERMS_SQL})
  GROUP BY t
)
SELECT term, weight FROM ex
ORDER BY weight DESC, term LIMIT {T.RM3_EXPANSION_K}
""",
)
def text_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite): BM25 top
    docs feed per-term (tf/dl)*score weights; top expansion terms
    excluding the query itself — the automatic query-expansion loop."""
    return T.rm3_expansion(load_table(spark, sf_dir, "documents"), BM25_TERMS)


_FP_TABLES = {
    "nation": "concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name, CAST(n_regionkey AS VARCHAR))",
    "customer": "concat_ws('|', CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR), c_mktsegment)",
    "orders": "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR), o_orderpriority)",
}

_FP_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(CAST(concat('0x', substr(md5({expr}), 1, 8))
                               AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0))
            % {{mod}} AS BIGINT) AS fingerprint
FROM {t}""".format(mod=__import__("simple_vector_spark.operators.validate", fromlist=["FINGERPRINT_MOD"]).FINGERPRINT_MOD, t=t, expr=expr)
    for t, expr in _FP_TABLES.items()
)


@query("table_fingerprint_audit", _FP_ORACLE)
def table_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprints (sum of row hashes mod
    2^61-1) for replica comparison: two copies of a 100-TB table
    compare by exchanging one number, partial sums merge map-side.
    Money columns rendered as DECIMAL strings for engine portability."""
    from ..operators import validate as V

    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    parts = [
        V.table_fingerprint(
            nation,
            [
                F.col("n_nationkey").cast("string"),
                F.col("n_name"),
                F.col("n_regionkey").cast("string"),
            ],
            "nation",
        ),
        V.table_fingerprint(
            customer,
            [
                F.col("c_custkey").cast("string"),
                F.col("c_nationkey").cast("string"),
                F.col("c_mktsegment"),
            ],
            "customer",
        ),
        V.table_fingerprint(
            orders,
            [
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
                F.col("o_orderpriority"),
            ],
            "orders",
        ),
    ]
    import functools

    return functools.reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------------------------
# Wave 60 (round 2): streaming PIT enrichment, k-anonymity audit,
# calibration bins.
# --------------------------------------------------------------------------

_PIT_ORACLE = _ORACLES["events_pit_user_state"]


@query("stream_pit_enrich", _PIT_ORACLE)
def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment: the error STREAM joined per
    micro-batch against the static SCD2 user-state dim on interval
    containment — stream-static PIT, availableNow == the batch PIT
    query (same oracle)."""
    from ..streaming.jobs import stream_pit_enrich as _job

    return _job(spark, sf_dir)


@query(
    "customer_k_anonymity",
    f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cls_n,
         COUNT(DISTINCT c_custkey) AS cls_l
  FROM customer GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(cls_n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN cls_n < {__import__("simple_vector_spark.operators.curation", fromlist=["K_ANON_K"]).K_ANON_K} THEN cls_n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(MIN(cls_l) AS BIGINT) AS min_l_diversity,
       MIN(cls_n) >= {__import__("simple_vector_spark.operators.curation", fromlist=["K_ANON_K"]).K_ANON_K} AS k_anonymous
FROM classes
""",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the (nation, segment)
    quasi-identifier — the anonymization gate before a data release."""
    from ..operators import curation as CU2

    return CU2.k_anonymity_audit(load_table(spark, sf_dir, "customer"))


@query(
    "orders_calibration_bins",
    f"""
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
rng AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM c),
binned AS (
  SELECT LEAST(((c - lo) * {R.CALIBRATION_BINS}) // (hi - lo + 1),
               {R.CALIBRATION_BINS - 1}) AS bin,
         c, y, lo, hi
  FROM c, rng
)
SELECT CAST(bin AS INT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((CAST(SUM(c) AS DOUBLE) / COUNT(*) - MIN(lo))
             / CAST(MIN(hi) - MIN(lo) AS DOUBLE), 6) AS mean_score,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
       ROUND(ABS(ROUND((CAST(SUM(c) AS DOUBLE) / COUNT(*) - MIN(lo))
                       / CAST(MIN(hi) - MIN(lo) AS DOUBLE), 6)
                 - ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6)), 6) AS abs_gap
FROM binned GROUP BY bin
""",
)
def orders_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins (exact integer-cents
    arithmetic): mean scaled score vs empirical positive rate per bin
    — the ECE inputs for any score/outcome pair."""
    return R.calibration_bins(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 61 (round 2): mixture epoch planning, malformed-ingest handling,
# grouping_id disambiguation.
# --------------------------------------------------------------------------


@query(
    "mixture_epoch_solver",
    f"""
WITH per AS (
  SELECT source, CAST(SUM(len({_TK_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt,
         SUM(SQRT(CAST(n_tokens AS DOUBLE))) AS ts
  FROM per
)
SELECT source, n_tokens,
       ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / ts, 6) AS weight,
       ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / ts * tt * {CU.MIX_BUDGET_X!r}, 2)
         AS target_tokens,
       ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / ts * tt * {CU.MIX_BUDGET_X!r}
             / CAST(n_tokens AS DOUBLE), 6) AS epochs_uncapped,
       ROUND(LEAST(SQRT(CAST(n_tokens AS DOUBLE)) / ts * tt * {CU.MIX_BUDGET_X!r}
             / CAST(n_tokens AS DOUBLE), {CU.MIX_MAX_EPOCHS!r}), 6) AS epochs,
       ROUND(GREATEST(SQRT(CAST(n_tokens AS DOUBLE)) / ts * tt * {CU.MIX_BUDGET_X!r}
             - {CU.MIX_MAX_EPOCHS!r} * n_tokens, 0.0), 2) AS forfeited_tokens
FROM per, tot
""",
)
def mixture_epoch_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget -> per-source repetition plan: temperature weights
    solved into target tokens and epoch factors with a repetition cap
    and forfeited-token accounting — the schedule a mixture sampler
    actually executes."""
    return CU.mixture_epoch_solver(load_table(spark, sf_dir, "documents"))


MALFORMED_MOD = 10


@query(
    "json_malformed_audit",
    f"""
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT CASE WHEN doc_id % {MALFORMED_MOD} = 0 THEN 'corrupt' ELSE 'ok' END
           AS status,
         CASE WHEN doc_id % {MALFORMED_MOD} = 0 THEN NULL ELSE n_chars END
           AS n_chars
  FROM documents
) GROUP BY status
""",
)
def json_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-ingest handling (PERMISSIVE mode): a JSON-lines feed
    with deterministically truncated records (doc_id % {MALFORMED_MOD}
    == 0 loses its closing brace) read back with an explicit schema +
    columnNameOfCorruptRecord — corrupt rows surface as quarantine
    rows instead of failing the job, the production ingest posture.
    Oracle recomputes the same partition from the corruption rule."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    mangled = F.when(
        F.col("doc_id") % MALFORMED_MOD == 0,
        F.expr(
            "substring(to_json(struct(doc_id, lang, n_chars)), 1, "
            "length(to_json(struct(doc_id, lang, n_chars))) - 1)"
        ),
    ).otherwise(line)
    path = scratch_path("docs_malformed", sf_dir)
    docs.select(mangled.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # materialize the parse: Spark refuses downstream plans whose
        # pruned column set is ONLY _corrupt_record (e.g. a bare
        # count()), and the checkpoint also keeps the parse single-pass
        .localCheckpoint()
    )
    return (
        back.select(
            F.when(F.col("_corrupt_record").isNull(), "ok")
            .otherwise("corrupt")
            .alias("status"),
            "n_chars",
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@query(
    "cube_grouping_id",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT)
         AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id(): the bitmask that distinguishes
    NULL-as-subtotal from NULL-as-data in rollup outputs — the
    correctness detail naive cube consumers get wrong."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").cast("long").alias("n"),
    )


# --------------------------------------------------------------------------
# Wave 62 (round 2): merkle-bucket replica diff, k-core peeling,
# id-sequence integrity.
# --------------------------------------------------------------------------

def _replica_fp_sql(status_expr: str) -> str:
    row = (
        "concat_ws('|', CAST(o_orderkey AS VARCHAR), " + status_expr + ", "
        "CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR))"
    )
    v = __import__(
        "simple_vector_spark.operators.validate",
        fromlist=["FINGERPRINT_MOD", "REPLICA_BUCKETS"],
    )
    return f"""
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % {v.REPLICA_BUCKETS} AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(CAST(SUM(CAST(CAST(concat('0x', substr(md5({row}), 1, 8))
                                 AS BIGINT) AS DECIMAL(38,0)))
                   AS DECIMAL(38,0)) % {v.FINGERPRINT_MOD} AS BIGINT) AS fp
  FROM orders GROUP BY 1"""


@query(
    "replica_bucket_diff",
    f"""
WITH a AS ({_replica_fp_sql("o_orderstatus")}),
b AS ({_replica_fp_sql(
    "CASE WHEN o_orderkey % "
    + str(__import__("simple_vector_spark.operators.validate", fromlist=["REPLICA_TAMPER_MOD"]).REPLICA_TAMPER_MOD)
    + " = 0 THEN 'X' ELSE o_orderstatus END"
)})
SELECT bucket, a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
       a.fp AS fp_a, b.fp AS fp_b
FROM a JOIN b USING (bucket) WHERE a.fp != b.fp
""",
)
def replica_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy: per-hash-bucket fingerprints of two
    replicas (one with a planted status mutation) — only disagreeing
    buckets surface, so replica repair narrows 100 TB to a handful of
    buckets before any row moves."""
    from ..operators import validate as V

    return V.replica_bucket_diff(load_table(spark, sf_dir, "orders"))


def _kcore_round_sql(i: int) -> str:
    prev = f"e{i - 1}"
    from ..operators.dedup import KCORE_K

    return f"""d{i} AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}
  ) GROUP BY n
),
k{i} AS (SELECT n FROM d{i} WHERE deg >= {KCORE_K}),
e{i} AS (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i})
)"""


def _kcore_stat_sql(i: int) -> str:
    return f"""SELECT CAST({i} AS INT) AS round,
       CAST((SELECT COUNT(*) FROM (
          SELECT a AS n FROM e{i} UNION SELECT b FROM e{i})) AS BIGINT)
         AS n_nodes,
       CAST((SELECT COUNT(*) FROM e{i}) AS BIGINT) AS n_edges"""


_KCORE_ROUNDS_SQL = ",\n".join(
    _kcore_round_sql(i)
    for i in range(1, __import__(
        "simple_vector_spark.operators.dedup", fromlist=["KCORE_ROUNDS"]
    ).KCORE_ROUNDS + 1)
)
_KCORE_STATS_SQL = "\nUNION ALL\n".join(
    _kcore_stat_sql(i)
    for i in range(0, __import__(
        "simple_vector_spark.operators.dedup", fromlist=["KCORE_ROUNDS"]
    ).KCORE_ROUNDS + 1)
)


@query(
    "dup_graph_kcore",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
{_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
e0 AS (SELECT doc_a AS a, doc_b AS b FROM cand),
{_KCORE_ROUNDS_SQL}
{_KCORE_STATS_SQL}
""",
)
def dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling of the near-dup candidate graph (fixed rounds of
    drop-degree<2): node/edge counts per round — the dense-core
    profile that separates boilerplate mega-clusters from incidental
    pairs."""
    return D.kcore_peel(_minhash_pairs(spark, sf_dir))


@query(
    "doc_id_gap_audit",
    """
WITH ids AS (SELECT doc_id AS id FROM documents),
st AS (
  SELECT MIN(id) AS mi, MAX(id) AS ma, CAST(COUNT(*) AS BIGINT) AS np
  FROM ids
),
gs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_gap_starts
  FROM ids, st
  WHERE id < ma AND id + 1 NOT IN (SELECT id FROM ids)
)
SELECT mi AS min_id, ma AS max_id, np AS n_present,
       CAST(ma - mi + 1 - np AS BIGINT) AS n_missing, n_gap_starts
FROM st, gs
""",
)
def doc_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key sequence integrity without a global sort: gap
    starts via a shifted-key anti-join, totals from min/max/count —
    the id-space health check behind allocate_doc_ids."""
    from ..operators import validate as V

    return V.id_gap_audit(load_table(spark, sf_dir, "documents"))

