"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, scratch_path, session_cached

from . import finalize_double, query
from .core_knn import PLANT_MOD, PLANT_SHIFT, _query_vector
from .core_relational import E, R
from .core_dedup import D, _CLUSTER_LABELS_CTES, _DOCS_PLUS_SQL, _SIG_COLS_SQL, _TOKS_SQL, _docs_plus_spark, _dup_cluster_labels, _minhash_pairs
from .core_ann import A, ANN_K, ANN_QUERY_ID, IVF_NPROBE, T, _CENTS_SQL, _emb_with_cells, _seed_codebook
from .core_text import _QUALITY_SCORED_SQL, _TK_SQL, _quality_scored_sql
from .core_multimodal_streaming import MM, SJ
from .waves_01 import CU, SK, _ASSIGN_SQL, _BLOCKED_PAIRS_SQL, _UNIGRAM_SCORED_SQL



# --------------------------------------------------------------------------
# Wave 23: containment dedup, error-burst detection.
# --------------------------------------------------------------------------


@query(
    "dedup_shingle_containment",
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
       ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS cont_a,
       ROUND(CAST(i AS DOUBLE) / sb.n, 6) AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE GREATEST(ROUND(CAST(i AS DOUBLE) / sa.n, 6),
               ROUND(CAST(i AS DOUBLE) / sb.n, 6)) >= 0.8
""",
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment >= 0.8 within a source block —
    the subset-duplicate (quote/embedding) detector Jaccard misses."""
    return D.shingle_containment_pairs(_docs_plus_spark(spark, sf_dir), 0.8)


@query(
    "events_error_bursts",
    """
WITH per AS (
  SELECT to_timestamp(CAST(floor(epoch(date_trunc('minute', ts)) / 600) AS BIGINT) * 600) AS bucket,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(n) AS total_n, SUM(n_err) AS total_err FROM per)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(n AS BIGINT) AS n, CAST(n_err AS BIGINT) AS n_err,
       ROUND(n_err / CAST(n AS DOUBLE), 6) AS err_share
FROM per CROSS JOIN tot
WHERE n_err * total_n > 3.0 * total_err * n
""",
)
def events_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute buckets whose error share exceeds 3x the stream-wide
    rate — exact integer cross-product comparison, one bucket-keyed
    shuffle."""
    return E.error_burst_detect(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 24: label-mix drift monitor, dup-graph degree histogram.
# --------------------------------------------------------------------------


@query(
    "orders_priority_mix_drift",
    """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
         o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
qt AS (SELECT quarter, SUM(n) AS qn FROM per GROUP BY quarter),
overall AS (SELECT o_orderpriority, COUNT(*) AS on_ FROM orders GROUP BY 1),
total AS (SELECT COUNT(*) AS tn FROM orders)
SELECT per.quarter, per.o_orderpriority,
       CAST(per.n AS BIGINT) AS n,
       ROUND(per.n / CAST(qt.qn AS DOUBLE), 6) AS share,
       ROUND(overall.on_ / CAST(total.tn AS DOUBLE), 6) AS overall_share,
       ROUND(per.n / CAST(qt.qn AS DOUBLE) - overall.on_ / CAST(total.tn AS DOUBLE), 6) AS drift
FROM per JOIN qt USING (quarter)
JOIN overall USING (o_orderpriority) CROSS JOIN total
""",
)
def orders_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quarter order-priority mix vs the overall mix with per-cell
    drift — the label-distribution check run on every data drop."""
    return R.priority_mix_drift(load_table(spark, sf_dir, "orders"))


@query(
    "dedup_graph_degree",
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
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
degrees AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY doc_id
)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM degrees GROUP BY degree
""",
)
def dedup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the MinHash candidate-pair graph — the
    hub-node early warning before connected components."""
    return D.pair_graph_degree_histogram(_minhash_pairs(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 25: supplier redundancy histogram, per-source token budget.
# --------------------------------------------------------------------------


@query(
    "part_supplier_redundancy",
    """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
per_part AS (SELECT l_partkey, COUNT(*) AS n_suppliers FROM pairs GROUP BY l_partkey)
SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM per_part GROUP BY n_suppliers
""",
)
def part_supplier_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of distinct suppliers per part — the
    single-point-of-failure audit via distinct-pairs then
    aggregate-of-aggregate."""
    return R.part_supplier_redundancy(load_table(spark, sf_dir, "lineitem"))


@query(
    "source_token_budget",
    f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TK_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
total AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt FROM per)
SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / total.tt, 6) AS token_share
FROM per CROSS JOIN total
""",
)
def source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts and corpus share — mixture weights are
    priced in tokens, not documents."""
    return T.source_token_budget(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 26: cluster-size histogram, document novelty, hour-of-week heatmap.
# --------------------------------------------------------------------------


@query(
    "dedup_cluster_sizes",
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
labels AS (SELECT a AS node, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
sizes AS (SELECT cluster, COUNT(*) AS size FROM labels GROUP BY cluster)
SELECT CAST(size AS BIGINT) AS size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY size
""",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup components — the shape
    report that prices the keep-one rewrite."""
    return D.cluster_size_histogram(_dup_cluster_labels(spark, sf_dir))


@query(
    "doc_novelty_share",
    f"""
WITH sh0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS tk
  FROM documents
),
shx AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) >= 3
      THEN list_transform(range(len(tk) - 2),
                          i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
      ELSE [] END) AS s
  FROM sh0
),
owner AS (SELECT s, MIN(doc_id) AS first_doc FROM shx GROUP BY s)
SELECT shx.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN owner.first_doc = shx.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN owner.first_doc = shx.doc_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM shx JOIN owner USING (s)
GROUP BY shx.doc_id
""",
)
def doc_novelty_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc share of shingles first seen in that doc (by id order)
    — the marginal-contribution / stitched-from-seen-text metric."""
    return T.novelty_share(load_table(spark, sf_dir, "documents"))


@query(
    "events_hour_of_week",
    """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(20,6)) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def events_hour_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day-of-week, hour) activity heatmap — at most 168 groups, one
    map-side-combined shuffle."""
    return finalize_double(
        E.hour_of_week_heatmap(load_table(spark, sf_dir, "events")),
        "sum_value",
    )


# --------------------------------------------------------------------------
# Wave 27: spend Gini coefficient, behavioral entropy.
# --------------------------------------------------------------------------


@query(
    "orders_spend_gini",
    """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT spend,
         CAST(ROW_NUMBER() OVER (ORDER BY spend ASC, o_custkey ASC) AS BIGINT) AS i
  FROM spend
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(spend) AS sx,
         SUM(CAST(i * spend AS DECIMAL(30,2))) AS six
  FROM ranked
)
SELECT n_customers,
       CAST(CAST(sx AS DECIMAL(15,2)) AS DOUBLE) AS total_spend,
       ROUND(2.0 * CAST(six AS DOUBLE) / (n_customers * CAST(sx AS DOUBLE))
             - (n_customers + 1.0) / n_customers, 6) AS gini
FROM agg
""",
)
def orders_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend from exact DECIMAL rank
    sums — the one-number inequality summary behind the Pareto
    deciles."""
    return finalize_double(
        R.spend_gini(load_table(spark, sf_dir, "orders")), "total_spend"
    )


@query(
    "events_user_type_entropy",
    """
WITH ct AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(log2(CAST(SUM(c) AS DOUBLE))
             - SUM(c * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 4) AS entropy_bits
FROM ct GROUP BY user_id
""",
)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix — the
    behavioral-diversity / bot-detection score."""
    return E.user_type_entropy(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 28: AOV trend, label-balance audit.
# --------------------------------------------------------------------------


@query(
    "orders_aov_trend",
    """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT month, n_orders,
       CAST(CAST(rev AS DECIMAL(15,2)) AS DOUBLE) AS revenue,
       ROUND(CAST(rev AS DOUBLE) / n_orders, 6) AS aov,
       ROUND(ROUND(CAST(rev AS DOUBLE) / n_orders, 6)
             - lag(ROUND(CAST(rev AS DOUBLE) / n_orders, 6)) OVER (ORDER BY month), 6) AS aov_delta
FROM monthly
""",
)
def orders_aov_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order value by month with MoM delta — lag window over
    the monthly aggregate only."""
    return finalize_double(
        R.aov_trend(load_table(spark, sf_dir, "orders")), "revenue"
    )


@query(
    "embeddings_label_balance",
    """
WITH per AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label
),
tot AS (SELECT CAST(SUM(n_vecs) AS DOUBLE) AS tn, CAST(COUNT(*) AS DOUBLE) AS k FROM per)
SELECT CAST(label AS INT) AS label, n_vecs,
       ROUND(n_vecs / tot.tn, 6) AS share,
       ROUND(n_vecs * tot.k / tot.tn, 6) AS skew_vs_uniform
FROM per CROSS JOIN tot
""",
)
def embeddings_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the filterable label field — counts,
    shares, skew vs uniform."""
    return A.label_balance_audit(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Wave 29 (round 2): the last two literal TPC-H shapes — Q2 (correlated
# min over a region-filtered supplier set) and Q4 (EXISTS semi-join).
# With these, all 22 TPC-H query shapes exist as literal tpch_q* entries
# (reference has no SQL at all — this is north-star relational surface).
# --------------------------------------------------------------------------


@query(
    "tpch_q2_min_cost_supplier",
    """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(ROUND(l_extendedprice / l_quantity, 6)) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
),
cand AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
         ps_supplycost, ps_suppkey,
         MIN(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
  FROM supply
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  JOIN part     ON ps_partkey = p_partkey
  WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 25
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_type,
       ROUND(ps_supplycost, 6) AS supplycost,
       CAST(ps_suppkey AS BIGINT) AS s_suppkey
FROM cand WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 literal: region-filtered min-cost supplier per part with
    the full Q2 projection/ordering; correlated min decorrelated to one
    partkey window (single shuffle), all dims broadcast."""
    return R.tpch_q2_min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 literal: EXISTS(late lineitem) as a LEFT SEMI equi-join
    with date residual; quarter filter pushed to the orders scan."""
    return R.tpch_q4_order_priority(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


# --------------------------------------------------------------------------
# Wave 30 (round 2): winnowing fingerprints (MOSS), SCD2 state intervals
# from the event log, HLL distinct-count audit.
# --------------------------------------------------------------------------


@query(
    "doc_winnowing_fingerprints",
    f"""
WITH t AS (SELECT doc_id, {_TK_SQL} AS tk FROM documents),
g AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 8)) AS BIGINT) AS h,
         len(tk) - 2 AS m
  FROM t, UNNEST(range(1, len(tk) - 1)) AS u(i)
),
wm AS (
  SELECT doc_id, i, m,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT doc_id,
       CAST(MAX(m) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
       ROUND(COUNT(DISTINCT fp) / CAST(MAX(m) AS DOUBLE), 6) AS density
FROM wm WHERE i <= GREATEST(m - 4, 0) + 1
GROUP BY doc_id
""",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing: k=3-word gram hashes, w=4 window minima — the
    sparse position-robust fingerprint set; one doc_id shuffle."""
    return T.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


@query(
    "events_user_state_scd2",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w != event_type
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
e AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS ep
  FROM o
),
epi AS (
  SELECT user_id, ep, MIN(event_type) AS state,
         CAST(COUNT(*) AS BIGINT) AS n_events, MIN(ts) AS valid_from
  FROM e GROUP BY user_id, ep
)
SELECT user_id, CAST(ep AS INT) AS version, state, n_events, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY ep) AS valid_to
FROM epi
""",
)
def events_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands SCD2 build: per-user state intervals with
    versions and [valid_from, valid_to) — one wide shuffle by user."""
    return E.user_state_scd2(load_table(spark, sf_dir, "events"))


@query(
    "events_hll_users",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_within_bound
FROM events GROUP BY event_type
""",
)
def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ vs exact distinct-user audit per event type.  The sketch
    ESTIMATE is engine-internal, but the error contract is checkable:
    the projection emits the exact distinct (DuckDB recomputes it) and
    a boolean rel_error <= 5*rsd (rsd=0.02 -> 10%) column whose
    expected value is TRUE — an HLL defect flips it and breaks the
    hash (VERDICT r03 item 5; raw estimate stays on the operator,
    bound also pytest-held)."""
    return E.hll_distinct_users_audit(load_table(spark, sf_dir, "events")).select(
        "event_type",
        "exact_users",
        # NULL rel_error (exact 0 on an all-NULL group) -> trivially
        # within bound
        F.coalesce(F.col("rel_error") <= 0.10, F.lit(True)).alias(
            "hll_within_bound"
        ),
    )


_ADAPTIVE_IVF_SQL = f"""
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
exact_b AS (
  SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM (
    SELECT e.vec_id,
           unnest(CAST(e.embedding AS DOUBLE[])) AS x,
           unnest(CAST(q.embedding AS DOUBLE[])) AS y
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
    WHERE e.label = {{LBL}} AND (SELECT n FROM cnt) <= {{THRESH}}
  ) GROUP BY vec_id ORDER BY dist, vec_id LIMIT {ANN_K}
),
pc AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN cents c
  WHERE (SELECT n FROM cnt) > {{THRESH}}
),
cd AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d FROM pc GROUP BY vec_id, cid),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd
  ) WHERE rn = 1
),
probe AS (
  SELECT cid AS cell FROM cd WHERE vec_id = {ANN_QUERY_ID} ORDER BY d, cid LIMIT {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id FROM assign a
  JOIN probe p ON a.cell = p.cell
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE e.label = {{LBL}}
),
qp AS (
  SELECT cand.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
),
ivf_b AS (
  SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM qp GROUP BY vec_id ORDER BY dist, vec_id LIMIT {ANN_K}
)
SELECT vec_id, dist, 'prefilter_exact' AS strategy FROM exact_b
UNION ALL
SELECT vec_id, dist, 'ivf_postfilter' AS strategy FROM ivf_b
"""

ADAPTIVE_LABEL = 7
ADAPTIVE_THRESH_SPARSE = 100   # sf0.01 has ~50 label-7 rows -> exact branch
ADAPTIVE_THRESH_DENSE = 10     # same data -> IVF post-filter branch


@query(
    "ann_adaptive_filter",
    "WITH cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings "
    f"WHERE label = {ADAPTIVE_LABEL}),"
    + _ADAPTIVE_IVF_SQL.format(LBL=ADAPTIVE_LABEL, THRESH=ADAPTIVE_THRESH_SPARSE),
)
def ann_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-adaptive filtered ANN: few predicate survivors ->
    exact pre-filter scan (this fixture's path), many -> IVF probe +
    post-filter.  The oracle replays the same count-gated CASE."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.adaptive_filtered_search(
        emb,
        _query_vector(spark, sf_dir, ANN_QUERY_ID),
        _seed_codebook(spark, sf_dir, A.CENTROID_IDS),
        ANN_K,
        ADAPTIVE_LABEL,
        ADAPTIVE_THRESH_SPARSE,
        IVF_NPROBE,
    )


@query(
    "ann_adaptive_filter_dense",
    "WITH cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings "
    f"WHERE label = {ADAPTIVE_LABEL}),"
    + _ADAPTIVE_IVF_SQL.format(LBL=ADAPTIVE_LABEL, THRESH=ADAPTIVE_THRESH_DENSE),
)
def ann_adaptive_filter_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other adaptive branch on the same fixture: threshold set
    below the predicate cardinality, so the planner picks IVF probe +
    post-filter; oracle replays the identical decision."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.adaptive_filtered_search(
        emb,
        _query_vector(spark, sf_dir, ANN_QUERY_ID),
        _seed_codebook(spark, sf_dir, A.CENTROID_IDS),
        ANN_K,
        ADAPTIVE_LABEL,
        ADAPTIVE_THRESH_DENSE,
        IVF_NPROBE,
    )


@query(
    "decontaminate_fuzzy_minhash",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
sigs AS (
  SELECT doc_id,
         (doc_id % {PLANT_MOD} = 0 AND doc_id < {PLANT_SHIFT}) AS is_bench,
  {_SIG_COLS_SQL}
  FROM sh WHERE n_tk >= 3
),
bands AS (
  SELECT doc_id, is_bench, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, is_bench, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, is_bench, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, is_bench, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sigs
),
cand AS (
  SELECT DISTINCT t.doc_id, b.doc_id AS bench_id
  FROM bands t JOIN bands b ON t.band = b.band AND t.bucket = b.bucket
  WHERE NOT t.is_bench AND b.is_bench
),
est AS (
  SELECT c.doc_id, c.bench_id,
         ROUND(({" + ".join(f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(8))}) / 8.0, 6) AS est_jaccard
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_id
  JOIN sigs b ON b.doc_id = c.bench_id
)
SELECT doc_id, bench_id, est_jaccard FROM est WHERE est_jaccard >= 0.5
""",
)
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-LSH) benchmark decontamination over the planted
    corpus: banded candidates with the benchmark side broadcast, then
    signature-agreement Jaccard estimate >= 0.5."""
    return CU.decontaminate_fuzzy(_docs_plus_spark(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 31 (round 2): incremental IVF index maintenance audit, batch
# replay of streaming watermark semantics.
# --------------------------------------------------------------------------


@query(
    "ivf_index_upsert_audit",
    f"""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
batch AS (
  SELECT vec_id, list_reverse(embedding) AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
  UNION ALL
  SELECT vec_id + 1000000, embedding
  FROM embeddings WHERE vec_id % 97 = 0
),
merged AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id NOT IN (SELECT vec_id FROM batch)
  UNION ALL SELECT vec_id, embedding FROM batch
),
pb AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN cents c
),
db AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d FROM pb GROUP BY vec_id, cid),
ab AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM db
  ) WHERE rn = 1
),
pm AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM merged e CROSS JOIN cents c
),
dm AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d FROM pm GROUP BY vec_id, cid),
am AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dm
  ) WHERE rn = 1
),
nb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_before FROM ab GROUP BY cell),
na AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_after FROM am GROUP BY cell)
SELECT CAST(COALESCE(nb.cell, na.cell) AS INT) AS cell,
       CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
       CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
       CAST(COALESCE(n_after, 0) - COALESCE(n_before, 0) AS BIGINT) AS delta
FROM nb FULL OUTER JOIN na ON nb.cell = na.cell
""",
)
def ivf_index_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: deterministic upsert batch merged
    latest-wins, per-cell population before/after + delta — the
    reference's on-mutation filter-index upkeep (O14) recast as cell
    stats maintenance."""
    return A.ivf_index_upsert_audit(
        _emb_with_cells(spark, sf_dir), _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    )


@query(
    "events_watermark_audit",
    """
WITH pb AS (
  SELECT CAST(FLOOR(event_id / 1000) + CASE WHEN event_id % 37 = 0 THEN 3 ELSE 0 END AS BIGINT) AS batch,
         MAX(ts) AS mx
  FROM events GROUP BY 1
),
wm AS (
  SELECT batch,
         MAX(mx) OVER (ORDER BY batch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - INTERVAL 10 MINUTE AS wmk
  FROM pb
),
fl AS (
  SELECT e.event_type,
         CASE WHEN e.ts < w.wmk THEN 1 ELSE 0 END AS late,
         CASE WHEN e.ts < w.wmk
              THEN epoch_us(w.wmk) - epoch_us(e.ts) END AS late_by_us
  FROM events e JOIN wm w
    ON CAST(FLOOR(e.event_id / 1000) + CASE WHEN e.event_id % 37 = 0 THEN 3 ELSE 0 END AS BIGINT) = w.batch
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(late) AS BIGINT) AS n_late,
       ROUND(SUM(late) / CAST(COUNT(*) AS DOUBLE), 6) AS late_share,
       CAST(MAX(late_by_us) AS BIGINT) AS max_late_us
FROM fl GROUP BY event_type
""",
)
def events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of streaming watermark semantics with a
    deterministic straggler source (every 37th event arrives 3 batches
    late): per-type share of rows a 10-min watermark would drop — the
    watermark-sizing report."""
    return E.watermark_late_audit(load_table(spark, sf_dir, "events"))


@query(
    "split_leakage_audit",
    f"""
WITH RECURSIVE {_CLUSTER_LABELS_CTES},
sp AS (
  SELECT cluster,
         CASE WHEN h < {CU.TRAIN_PCT} THEN 'train'
              WHEN h < {CU.VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT node, cluster,
           CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
    FROM labels
  )
),
per AS (
  SELECT cluster, COUNT(*) AS n_members, COUNT(DISTINCT split) AS n_splits
  FROM sp GROUP BY cluster
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
       CAST(SUM(CASE WHEN n_splits > 1 THEN n_members ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
       ROUND(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS leak_rate
FROM per
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware split hygiene: near-dup clusters spanning more than
    one train/val/test split = eval leakage the per-doc hash split
    cannot see; reuses the cached cluster labels."""
    return CU.split_leakage_audit(_dup_cluster_labels(spark, sf_dir))


@query(
    "multimodal_audio_windows",
    f"""
SELECT doc_id,
       CAST(floor(octet_length(encode(text)) / 2) AS BIGINT) AS n_samples,
       ROUND(floor(octet_length(encode(text)) / 2) * 1000 / {MM.AUDIO_RATE}, 3) AS duration_ms,
       CAST(CASE WHEN floor(octet_length(encode(text)) / 2) >= {MM.AUDIO_WIN}
                 THEN 1 + floor((floor(octet_length(encode(text)) / 2) - {MM.AUDIO_WIN}) / {MM.AUDIO_HOP})
                 ELSE 0 END AS BIGINT) AS n_windows
FROM documents
""",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing accounting off byte_len alone (25ms window / 10ms
    hop @16kHz PCM16): the STFT fan-out contract, decode stubbed."""
    return MM.audio_window_audit(
        MM.with_payload(load_table(spark, sf_dir, "documents"))
    )


@query(
    "doc_bigram_logprob",
    f"""
WITH t AS (SELECT doc_id, {_TK_SQL} AS tk FROM documents),
bg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c
  FROM (
    SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
    FROM t, UNNEST(range(1, len(tk))) AS u(i)
  ) GROUP BY doc_id, w1, w2
),
big AS (SELECT w1, w2, SUM(c) AS c12 FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(c) AS c1 FROM bg GROUP BY w1),
nxt AS (SELECT w2, SUM(c) AS c2 FROM bg GROUP BY w2),
total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM bg)
SELECT bg.doc_id,
       CAST(SUM(bg.c) AS BIGINT) AS n_bigrams,
       ROUND(SUM(bg.c * ln(0.7 * (big.c12 / ctx.c1) + 0.3 * (nxt.c2 / tt.n_total)))
             / SUM(bg.c), 4) AS avg_logprob
FROM bg
JOIN big USING (w1, w2)
JOIN ctx USING (w1)
JOIN nxt USING (w2)
CROSS JOIN total tt
GROUP BY bg.doc_id
""",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score (0.7 conditional + 0.3
    unigram prior) — the word-order-aware sibling of
    doc_unigram_logprob, off one checkpointed bigram table."""
    return T.bigram_logprob(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 32 (round 2): market-basket brand affinity, EWMA revenue trend,
# DAU/MAU stickiness.
# --------------------------------------------------------------------------


@query(
    "lineitem_brand_affinity",
    """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM ob),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
),
sup AS (SELECT p_brand, COUNT(*) AS n_with FROM ob GROUP BY 1)
SELECT brand_a, brand_b, n_ab,
       ROUND(n_ab * n.n_orders / (sa.n_with * sb.n_with), 6) AS lift
FROM pairs
JOIN sup sa ON sa.p_brand = brand_a
JOIN sup sb ON sb.p_brand = brand_b
CROSS JOIN n
WHERE n_ab >= 10
""",
)
def lineitem_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between co-purchased brands: in-expression
    pair explosion off per-order sorted brand sets (quadratic in
    basket size, never in orders)."""
    return R.brand_affinity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "orders_revenue_ewma",
    """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1
),
z AS (
  SELECT month, rev,
         CAST(ROW_NUMBER() OVER (ORDER BY month) - 1 AS DOUBLE) AS t,
         CAST(rev AS DOUBLE) * power(0.7, -(ROW_NUMBER() OVER (ORDER BY month) - 1)) AS zz
  FROM monthly
)
SELECT month, CAST(CAST(rev AS DECIMAL(15,2)) AS DOUBLE) AS revenue,
       ROUND(power(0.7, t) * (0.3 * (SUM(zz) OVER w - FIRST_VALUE(zz) OVER w)
                              + FIRST_VALUE(zz) OVER w), 2) AS ewma
FROM z
WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def orders_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue EWMA (alpha 0.3) via the closed-form prefix-sum
    rescaling — recursive smoothing with no driver loop."""
    return finalize_double(
        R.revenue_ewma(load_table(spark, sf_dir, "orders")), "revenue"
    )


@query(
    "events_dau_mau",
    """
WITH ud AS (
  SELECT DISTINCT date_trunc('week', ts) AS m, CAST(ts AS DATE) AS d, user_id
  FROM events
),
daily AS (SELECT m, d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY m, d),
ad AS (SELECT m, SUM(dau) / COUNT(*) AS avg_dau, CAST(COUNT(*) AS BIGINT) AS n_days
       FROM daily GROUP BY m),
wau AS (SELECT m, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM ud GROUP BY m)
SELECT strftime(ad.m, '%Y-%m-%d') AS week, n_days,
       ROUND(avg_dau, 6) AS avg_dau, wau.wau,
       ROUND(avg_dau / wau.wau, 6) AS stickiness
FROM ad JOIN wau ON ad.m = wau.m
""",
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per ISO week — exact distincts off one
    (week, day, user) dedup."""
    return E.dau_mau_stickiness(load_table(spark, sf_dir, "events"))


def _markov_stationary_ctes(iters: int) -> str:
    """v1..vN unrolled power-iteration CTEs in integer micro-units —
    exact, order-insensitive (see E.markov_stationary)."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""v{i} AS (
  SELECT t.next_type AS s,
         CAST(FLOOR((SUM(v.m * t.p6) + 500000) / 1000000) AS BIGINT) AS m
  FROM v{i - 1} v JOIN trans t ON v.s = t.prev_type
  GROUP BY t.next_type
)"""
        )
    return ",\n".join(steps)


MARKOV_ITERS = 10

@query(
    "events_markov_stationary",
    f"""
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
trans AS (
  SELECT prev_type, next_type,
         CAST(ROUND(ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) * 1e6) AS BIGINT) AS p6
  FROM counts
),
states AS (
  SELECT prev_type AS s FROM trans UNION SELECT next_type FROM trans
),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
v0 AS (SELECT s, CAST(ROUND(1000000.0 / k) AS BIGINT) AS m FROM states CROSS JOIN ns),
{_markov_stationary_ctes(MARKOV_ITERS)}
SELECT s AS state, ROUND(m / 1e6, 6) AS stationary FROM v{MARKOV_ITERS}
""",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run event-type mix: {MARKOV_ITERS} exact-integer power
    iterations over the distributed-built transition matrix (matrix =
    model parameters, |types|^2-bounded; the corpus-side work is the
    one user_id shuffle)."""
    return E.markov_stationary(load_table(spark, sf_dir, "events"), MARKOV_ITERS)


@query(
    "wal_compaction_audit",
    """
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
per_key AS (
  SELECT user_id, COUNT(*) AS n_records,
         MAX(CASE WHEN rn = 1 AND event_type != 'error' THEN 1 ELSE 0 END) AS live
  FROM r GROUP BY user_id
)
SELECT CAST(user_id % 32 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n_records) AS BIGINT) AS n_records,
       CAST(SUM(live) AS BIGINT) AS n_live_keys,
       CAST(SUM(n_records) - SUM(live) AS BIGINT) AS n_dead_records,
       ROUND((SUM(n_records) - SUM(live)) / CAST(SUM(n_records) AS DOUBLE), 6) AS dead_ratio
FROM per_key GROUP BY 1
""",
)
def wal_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket dead-record ratio of the WAL — the dirty check the
    reference's always-full snapshot rewrite lacks (doc/persistence.md:9);
    prices compacting each snapshot partition."""
    return M.compaction_audit(
        load_table(spark, sf_dir, "events"),
        ["user_id"], ["ts", "event_id"], "event_type", "error",
    )


@query(
    "stream_watermark_append",
    """
WITH ot AS (SELECT ts, value FROM events WHERE event_id % 37 != 0),
lt AS (SELECT ts, value FROM events WHERE event_id % 37 = 0),
wm1 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ot),
wm2 AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
inc AS (
  SELECT ts, value FROM ot
  UNION ALL
  SELECT ts, value FROM lt
  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm1)
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM inc
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm2)
GROUP BY 1
""",
)
def stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed stream over two checkpointed availableNow
    runs: stragglers (id % 37) arrive in run 2 and are dropped iff
    their window was finalized by run 1's watermark; the oracle states
    the drop/emit rules as batch SQL."""
    return SJ.watermark_append_stream(spark, sf_dir)


@query(
    "snapshot_diff_audit",
    """
WITH old_state AS (
  SELECT user_id, event_id, value FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '2024-01-21'
  ) WHERE rn = 1 AND event_type != 'error'
),
new_state AS (
  SELECT user_id, event_id, value FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1 AND event_type != 'error'
),
j AS (
  SELECT COALESCE(o.user_id, n.user_id) AS k,
         o.user_id IS NOT NULL AS has_old,
         n.user_id IS NOT NULL AS has_new,
         o.event_id IS NOT DISTINCT FROM n.event_id
           AND o.value IS NOT DISTINCT FROM n.value AS same
  FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
)
SELECT CASE WHEN NOT has_old THEN 'insert'
            WHEN NOT has_new THEN 'delete'
            WHEN same THEN 'unchanged'
            ELSE 'update' END AS op,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM j GROUP BY 1
""",
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog between two WAL-replayed snapshot versions (state
    at day 20 vs final): per-key insert/delete/update/unchanged mix —
    the incremental-consumer feed the reference's full-replay recovery
    lacks.  One full-outer key join (bucketed -> shuffle-free at
    scale)."""
    ev = load_table(spark, sf_dir, "events")
    old_state = M.wal_replay(
        ev.filter(F.col("ts") < F.lit("2024-01-21")),
        ["user_id"], ["ts", "event_id"], "event_type", "error",
    ).select("user_id", "event_id", "value")
    new_state = M.wal_replay(
        ev, ["user_id"], ["ts", "event_id"], "event_type", "error"
    ).select("user_id", "event_id", "value")
    return M.snapshot_diff(old_state, new_state, ["user_id"], ["event_id", "value"])


@query(
    "schema_evolution_roundtrip",
    """
SELECT CAST(c_nationkey AS INT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_bal,
       ROUND(CAST(SUM(CASE WHEN c_custkey % 2 = 1
                           THEN CAST(c_acctbal AS DECIMAL(15,2)) END) AS DOUBLE), 2) AS sum_bal
FROM customer GROUP BY 1
""",
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read over two parquet vintages of one table (v2
    adds c_acctbal): old rows surface NULLs, new rows carry values —
    the column-accretion path of a long-lived table."""
    from ..sources.loaders import schema_evolution_read

    return schema_evolution_read(spark, sf_dir)


@query(
    "embedding_triplet_mining",
    f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av, label AS anchor_label
  FROM embeddings WHERE vec_id % 100 = 0
),
pd AS (
  SELECT e.vec_id, a.anchor_id, a.anchor_label,
         e.label = a.anchor_label AS same,
         ROUND(SUM((x - y) * (x - y)), 6) AS d
  FROM (
    SELECT e.vec_id, e.label, a.anchor_id, a.anchor_label,
           (e.label = a.anchor_label) AS same_l,
           unnest(CAST(e.embedding AS DOUBLE[])) AS x,
           unnest(a.av) AS y
    FROM embeddings e CROSS JOIN anchors a
    WHERE e.vec_id != a.anchor_id
  ) e
  JOIN anchors a USING (anchor_id)
  GROUP BY e.vec_id, a.anchor_id, a.anchor_label, e.label = a.anchor_label
)
SELECT anchor_id, CAST(anchor_label AS INT) AS anchor_label,
       MAX(CASE WHEN same THEN d END) AS d_hard_pos,
       MIN(CASE WHEN NOT same THEN d END) AS d_hard_neg,
       ROUND(MIN(CASE WHEN NOT same THEN d END) - MAX(CASE WHEN same THEN d END), 6) AS margin,
       CAST(MIN(CASE WHEN NOT same THEN d END) < MAX(CASE WHEN same THEN d END) AS INT) AS violated
FROM pd GROUP BY anchor_id, anchor_label
""",
)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard positive/negative mining per anchor (broadcast anchors,
    one corpus scan): the contrastive-training triplet audit."""
    return A.triplet_mining_audit(load_table(spark, sf_dir, "embeddings"))


@query(
    "embedding_dim_clip_bounds",
    """
WITH dims AS (
  SELECT i - 1 AS dim, CAST(e.embedding AS DOUBLE[])[i] AS x
  FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS u(i)
),
bounds AS (
  SELECT dim, ROUND(quantile_cont(x, 0.01), 6) AS p_lo,
         ROUND(quantile_cont(x, 0.99), 6) AS p_hi
  FROM dims GROUP BY dim
)
SELECT CAST(d.dim AS INT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       b.p_lo, b.p_hi,
       ROUND(SUM(CASE WHEN d.x < b.p_lo OR d.x > b.p_hi THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS clip_frac
FROM dims d JOIN bounds b ON d.dim = b.dim
GROUP BY d.dim, b.p_lo, b.p_hi
""",
)
def embedding_dim_clip_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-dimension p01/p99 + clip fraction — the range sizing
    before int8 quantization."""
    return A.dim_clip_bounds_audit(load_table(spark, sf_dir, "embeddings"))


@query(
    "doc_prefix_boilerplate",
    f"""
WITH t AS (
  SELECT doc_id, {_TK_SQL} AS tk
  FROM (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {PLANT_SHIFT}, text FROM documents WHERE doc_id % {PLANT_MOD} = 0)
),
per AS (
  SELECT doc_id, array_to_string(tk[1:8], ' ') AS prefix
  FROM t WHERE len(tk) >= 8
)
SELECT md5(prefix) AS prefix_md5,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM per GROUP BY prefix
HAVING COUNT(*) >= 2
""",
)
def doc_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared first-8-token prefix families over the planted corpus —
    the header/banner boilerplate detector."""
    return T.prefix_boilerplate_groups(
        _docs_plus_spark(spark, sf_dir).select("doc_id", "text")
    )


SPLIT_LEAK_SIM = 0.35


@query(
    "split_embedding_leakage",
    f"""
WITH {_ASSIGN_SQL.strip()},
{_BLOCKED_PAIRS_SQL.strip()},
gated AS (
  SELECT ia, ib, sim,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(ia AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {CU.TRAIN_PCT} THEN 'train'
              WHEN CAST(concat('0x', substr(md5(CAST(ia AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {CU.VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_a,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(ib AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {CU.TRAIN_PCT} THEN 'train'
              WHEN CAST(concat('0x', substr(md5(CAST(ib AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {CU.VAL_PCT} THEN 'val'
              ELSE 'test' END AS split_b
  FROM bld WHERE sim >= {SPLIT_LEAK_SIM}
)
SELECT ia, ib, split_a, split_b, sim
FROM gated WHERE split_a != split_b
""",
)
def split_embedding_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space split leakage: semantically near-duplicate pairs
    (cell-blocked cosine >= {SPLIT_LEAK_SIM}) whose members hash into
    DIFFERENT train/val/test splits — the eval-contamination mode that
    text-level dedup misses when paraphrases embed close.  Same
    IVF-cell-blocked pair space as dedup_embedding_blocked (sum cell²,
    never n²), split gates applied post-pair."""
    from ..operators.dedup import embedding_cosine_pairs_blocked
    from ..functions.text import md5_int

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs_blocked(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS), SPLIT_LEAK_SIM
    )

    def gate(c):
        g = md5_int(F.col(c).cast("string")) % 100
        return (
            F.when(g < CU.TRAIN_PCT, "train")
            .when(g < CU.VAL_PCT, "val")
            .otherwise("test")
        )

    return (
        pairs.select(
            "ia", "ib", gate("ia").alias("split_a"), gate("ib").alias("split_b"), "sim"
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


# --------------------------------------------------------------------------
# Wave 33 (round 2): training-pipeline throughput ops — context-window
# packing, Bloom runtime-filter pruning, temperature-scaled mixture
# weights, perplexity-bucket filtering, curriculum quality deciles.
# --------------------------------------------------------------------------
from ..operators import pipeline as PL  # noqa: E402


@query(
    "doc_pack_windows",
    f"""
WITH per AS (
  SELECT source, doc_id,
         CAST(FLOOR(doc_id / {PL.PACK_SHARD_DOCS}) AS BIGINT) AS shard,
         CAST(len({_TK_SQL}) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT source, shard, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PL.PACK_CAPACITY}) AS BIGINT) AS pack_id
  FROM per
),
pp AS (
  SELECT source, shard, pack_id, COUNT(*) AS docs, SUM(n_tok) AS tok
  FROM cum GROUP BY source, shard, pack_id
)
SELECT source,
       CAST(SUM(docs) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       ROUND(SUM(docs) * 1.0 / COUNT(*), 6) AS docs_per_pack,
       ROUND(SUM(tok) * 1.0 / (COUNT(*) * {PL.PACK_CAPACITY}), 6) AS fill_ratio
FROM pp GROUP BY source
""",
)
def doc_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential context-window packing (capacity-token packs
    within bounded contiguous doc_id shards — the file-shard packing
    shape sequence-packing pipelines run).  Per-source pack count,
    docs/pack, and fill ratio.  The cumsum window is keyed by
    (source, shard) so no task sees more than PACK_SHARD_DOCS rows."""
    return PL.pack_context_windows(load_table(spark, sf_dir, "documents"))


_BLOOM_HASHES_SQL = ", ".join(
    f"({a}, {b})"
    for a, b in zip(SK.MINHASH_A[: SK.BLOOM_K], SK.MINHASH_B[: SK.BLOOM_K])
)
_BLOOM_SIZE = 1


@query(
    "bloom_prune_audit",
    f"""
WITH bld AS (
  SELECT DISTINCT p_partkey AS k FROM part WHERE p_size = {_BLOOM_SIZE}
),
hs AS (SELECT a, b FROM (VALUES {_BLOOM_HASHES_SQL}) t(a, b)),
bits AS (
  SELECT DISTINCT
    ((a * CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) + b)
      % {SK.MINHASH_P}) % {SK.BLOOM_M} AS pos
  FROM bld CROSS JOIN hs
),
probe AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
pp AS (
  SELECT probe.k,
    ((a * CAST(concat('0x', substr(md5(CAST(probe.k AS VARCHAR)), 1, 8)) AS BIGINT) + b)
      % {SK.MINHASH_P}) % {SK.BLOOM_M} AS pos
  FROM probe CROSS JOIN hs
),
pass AS (
  SELECT pp.k FROM pp JOIN bits USING (pos) GROUP BY pp.k HAVING COUNT(*) = {SK.BLOOM_K}
),
tp AS (SELECT pass.k FROM pass JOIN bld USING (k))
SELECT CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probe,
       CAST((SELECT COUNT(*) FROM pass) AS BIGINT) AS n_pass,
       CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM pass) - (SELECT COUNT(*) FROM tp) AS BIGINT)
         AS n_false_pos,
       ROUND(CASE WHEN (SELECT COUNT(*) FROM probe) > (SELECT COUNT(*) FROM tp)
             THEN ((SELECT COUNT(*) FROM pass) - (SELECT COUNT(*) FROM tp)) * 1.0 /
                  ((SELECT COUNT(*) FROM probe) - (SELECT COUNT(*) FROM tp))
             ELSE 0.0 END, 6)
         AS fp_rate
""",
)
def bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime-filter pruning audit (the InjectRuntimeFilter
    pattern made explicit): K={SK.BLOOM_K} md5-universal hashes into an
    M={SK.BLOOM_M}-bit filter built from the dimension's selected keys,
    probed by the fact side's distinct join keys; reports pass/true/
    false-positive counts and the achieved FP rate."""
    return SK.bloom_prune_audit(
        load_table(spark, sf_dir, "part").filter(F.col("p_size") == _BLOOM_SIZE),
        load_table(spark, sf_dir, "lineitem"),
        "p_partkey",
        "l_partkey",
    )


@query(
    "source_mixture_temperature",
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
       ROUND(n_tokens / tt, 6) AS nat_share,
       ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / ts, 6) AS temp_share,
       ROUND((SQRT(CAST(n_tokens AS DOUBLE)) / ts) / (n_tokens / tt), 6) AS boost
FROM per CROSS JOIN tot
""",
)
def source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau=0.5) source-mixture weights: natural vs
    sqrt-flattened token share per source and the boost factor — the
    mixture-flattening step between token budgeting and the sampling
    gate."""
    return CU.mixture_temperature(load_table(spark, sf_dir, "documents"))


@query(
    "doc_perplexity_buckets",
    f"""
WITH scored AS ({_UNIGRAM_SCORED_SQL}),
tot2 AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt2 FROM scored)
SELECT CAST(FLOOR(avg_logprob / {T.PPL_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       ROUND(CAST(FLOOR(avg_logprob / {T.PPL_BUCKET_WIDTH}) AS BIGINT)
             * {T.PPL_BUCKET_WIDTH}, 6) AS lo_edge,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(SUM(n_tokens) / tt2, 6) AS token_share
FROM scored CROSS JOIN tot2
GROUP BY 1, 2, tt2
""",
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucket histogram over the unigram-LM score:
    fixed-width log-prob bins (no global quantile sort), doc count and
    token share per bin — the 'drop the worst-ppl tail' gate
    statistic."""
    return T.perplexity_buckets(load_table(spark, sf_dir, "documents"))


@query(
    "curriculum_quality_deciles",
    f"""
WITH scored AS ({_QUALITY_SCORED_SQL}),
tiled AS (
  SELECT doc_id, n_tokens, quality,
         NTILE({PL.CURRICULUM_BUCKETS}) OVER (ORDER BY quality DESC, doc_id ASC)
           AS bucket
  FROM scored
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(MIN(quality), 6) AS min_quality,
       ROUND(MAX(quality), 6) AS max_quality
FROM tiled GROUP BY bucket
""",
)
def curriculum_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordering audit: global quality deciles (clean docs
    first) with per-bucket doc/token mass — built on the two-phase
    range-partitioned ntile, never a single-partition global window."""
    return PL.curriculum_deciles(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 34 (round 2): incremental-ingest dedup against the standing LSH
# index, Matryoshka prefix-dim recall, salt-factor advisor, incremental
# aggregate (materialized-view) merge.
# --------------------------------------------------------------------------


@query(
    "dedup_incremental_pairs",
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
WHERE a.doc_id % 10 = 7 OR b.doc_id % 10 = 7
""",
)
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: LSH candidate pairs touching the new
    batch (doc_id % 10 == 7 models the delta) found by joining the
    BROADCAST batch bands against the materialized signature index —
    per-batch cost is batch x bucket, never corpus x corpus."""
    return D.incremental_minhash_pairs(_docs_plus_spark(spark, sf_dir))


@query(
    "ann_matryoshka_recall",
    f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = {ANN_QUERY_ID}
),
fp AS (
  SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
fd AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM fp GROUP BY vec_id),
exact_top AS (SELECT vec_id FROM fd ORDER BY dist, vec_id LIMIT {ANN_K}),
pp AS (
  SELECT e.vec_id,
         unnest(list_slice(CAST(e.embedding AS DOUBLE[]), 1, {A.MATRYOSHKA_PREFIX})) AS x,
         unnest(list_slice(q.qv, 1, {A.MATRYOSHKA_PREFIX})) AS y
  FROM embeddings e CROSS JOIN q
),
pd AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM pp GROUP BY vec_id),
pre_top AS (SELECT vec_id FROM pd ORDER BY dist, vec_id LIMIT {ANN_K}),
short AS (
  SELECT vec_id FROM pd ORDER BY dist, vec_id
  LIMIT {ANN_K * A.MATRYOSHKA_SHORTLIST_MULT}
),
rer_top AS (
  SELECT fd.vec_id FROM fd JOIN short USING (vec_id)
  ORDER BY fd.dist, fd.vec_id LIMIT {ANN_K}
)
SELECT 'prefix_topk' AS mode, CAST({ANN_K} AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM pre_top JOIN exact_top USING (vec_id)
UNION ALL
SELECT 'prefix_rerank', CAST({ANN_K} AS INT),
       CAST(COUNT(*) AS BIGINT),
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6)
FROM rer_top JOIN exact_top USING (vec_id)
""",
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension recall: truncated-vector top-k and
    the prefix-shortlist + full-precision rerank, both measured against
    the exact full-dim top-k — the coarse-to-fine bandwidth saver."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.matryoshka_recall(
        emb, _query_vector(spark, sf_dir, ANN_QUERY_ID), ANN_K
    )


@query(
    "orders_salt_advisor",
    f"""
WITH per AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM per
)
SELECT n_keys, max_cnt, n_rows,
       ROUND(n_rows * 1.0 / n_keys, 6) AS avg_cnt,
       ROUND(max_cnt * 1.0 * n_keys / n_rows, 6) AS skew_ratio,
       CAST(least({R.SALT_CAP}, CAST(ceil(max_cnt * 1.0 * n_keys / n_rows) AS BIGINT)) AS INT)
         AS salt_factor
FROM agg
""",
)
def orders_salt_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-factor advisor: per-key count skew of the customer join key
    reduced to max/avg ratio and the recommended salt fan-out — the
    input that decides when skew_salted_enrich's replicate-join is
    worth its dim duplication."""
    return R.skew_salt_advisor(load_table(spark, sf_dir, "orders"))


@query(
    "orders_incremental_agg",
    """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1
""",
)
def orders_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view merge: monthly revenue built from
    yesterday's partial state + today's delta partial re-aggregated
    (sum-of-sums) — the oracle is the FULL recompute, checking the
    mergeability contract incremental gold tables rest on."""
    return finalize_double(
        R.incremental_agg_merge(load_table(spark, sf_dir, "orders")),
        "revenue",
    )


# --------------------------------------------------------------------------
# Wave 35 (round 2): blocked k-NN-graph construction, daily-count
# autocorrelation, damped PageRank on the nation trade graph.
# --------------------------------------------------------------------------


@query(
    "knn_graph_blocked",
    f"""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
pc AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN cents c
),
cd AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d FROM pc GROUP BY vec_id, cid),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id != b.vec_id
),
pe AS (
  SELECT p.src, p.nbr,
         unnest(CAST(ea.embedding AS DOUBLE[])) AS x,
         unnest(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.src
  JOIN embeddings eb ON eb.vec_id = p.nbr
),
pd AS (SELECT src, nbr, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM pe GROUP BY src, nbr),
rk AS (
  SELECT src, nbr, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, nbr) AS rnk
  FROM pd
)
SELECT src AS vec_id, nbr AS nbr_id, dist, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {A.KNN_GRAPH_K}
""",
)
def knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk k-NN-graph construction blocked by IVF cell: each vector's
    top-{A.KNN_GRAPH_K} within-cell neighbors via a cell equi-join —
    pair space sum(cell²), never n²; the index-build workload behind
    graph-ANN construction and embedding dedup seeding."""
    return A.knn_graph_blocked(_emb_with_cells(spark, sf_dir))


_AUTOCORR_LAG_SQL = "\nUNION ALL\n".join(
    f"""
SELECT CAST({lag} AS INT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(
         CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) /
         SQRT(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
            * CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)), 6)
         AS autocorr
FROM (
  SELECT a.c AS x, b.c AS y FROM daily a JOIN daily b ON b.d = a.d + {lag}
)"""
    for lag in E.AUTOCORR_LAGS
)


@query(
    "events_daily_autocorr",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY 1
)
{_AUTOCORR_LAG_SQL}
""",
)
def events_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/lag-7 autocorrelation of the daily event count — the
    weekly-seasonality detector, Pearson r from exact integer power
    sums on the tiny per-day aggregate."""
    return E.daily_autocorrelation(load_table(spark, sf_dir, "events"))


def _pagerank_oracle() -> str:
    n_iters = R.PAGERANK_ITERS
    d = R.PAGERANK_DAMPING
    ctes = [
        """edges AS (
  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
)""",
        """outw AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src)""",
        """trans AS (
  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.wout AS p
  FROM edges e JOIN outw o USING (src)
)""",
        """nodes AS (SELECT n_nationkey AS node FROM nation)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)""",
        """r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)""",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS (
  SELECT t.dst, SUM(t.p * r.r) AS inflow
  FROM trans t JOIN r{p} r ON t.src = r.node GROUP BY t.dst
),
r{i} AS (
  SELECT nodes.node,
         ROUND((1.0 - {d}) / nn.n + {d} * COALESCE(c{i}.inflow, 0.0), 8) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.dst
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT n_name AS nation, ROUND(r.r, 6) AS pagerank
FROM r{n_iters} r JOIN nation ON r.node = n_nationkey
"""


@query("nation_trade_pagerank", _pagerank_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the supplier-nation -> customer-nation trade
    graph ({R.PAGERANK_ITERS} fixed power iterations, per-iteration
    ROUND 8): structural trade centrality.  One fact shuffle builds the
    edge aggregate; iterations run on the checkpointed |nations|² edge
    table."""
    return R.nation_trade_pagerank(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


# --------------------------------------------------------------------------
# Wave 36 (round 2): sequence-pattern matching, KMV cardinality sketch,
# column-encoding advisor, gzip JSON-lines source.
# --------------------------------------------------------------------------

_SEQ_PATTERN_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS pattern,
       CAST(COUNT(CASE WHEN regexp_matches(seq, '{pat}') THEN 1 END) AS BIGINT)
         AS n_users
FROM seqs"""
    for name, pat in E.SEQ_PATTERNS.items()
)


@query(
    "events_pattern_match",
    f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
{_SEQ_PATTERN_SQL}
""",
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style funnel regexes over the per-user ordered
    event-type string: adjacent view->click->purchase, the eventual
    funnel, and consecutive-error users — one user_id shuffle, one
    aggregate row, |patterns| output rows."""
    return E.sequence_pattern_match(load_table(spark, sf_dir, "events"))


@query(
    "events_kmv_cardinality",
    f"""
WITH hashed AS (
  SELECT event_type,
         user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events WHERE event_type IN ('view', 'purchase')
),
per_type AS (SELECT DISTINCT event_type, h FROM hashed),
sk AS (
  SELECT event_type AS set_name, h, rnk FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rnk
    FROM per_type
  ) WHERE rnk <= {SK.KMV_K}
),
union_sk AS (
  SELECT 'union' AS set_name, h, rnk FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE rnk <= {SK.KMV_K}
),
sketches AS (SELECT * FROM sk UNION ALL SELECT * FROM union_sk),
est AS (
  SELECT set_name,
         CASE WHEN COUNT(*) < {SK.KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
              ELSE {SK.KMV_K - 1}.0 * 4294967296.0 /
                   CAST(MAX(CASE WHEN rnk = {SK.KMV_K} THEN h END) AS DOUBLE)
         END AS est
  FROM sketches GROUP BY set_name
),
exact AS (
  SELECT event_type AS set_name, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact
  FROM hashed GROUP BY event_type
  UNION ALL
  SELECT 'union', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM hashed
)
SELECT e.set_name, ROUND(est.est, 6) AS est, e.exact,
       ROUND(ABS(est.est - e.exact) / e.exact, 6) AS rel_err
FROM exact e JOIN est USING (set_name)
""",
)
def events_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV k-minimum-values distinct sketch vs exact, for two event
    types and their merged-union sketch — the mergeable-cardinality
    contract HLL relies on, in exact-integer (oracle-checkable)
    form."""
    return SK.kmv_cardinality_audit(load_table(spark, sf_dir, "events"))


_ENC_LAG_SQL = ",\n         ".join(
    f"LAG({c}) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, {', '.join(R.ENC_COLUMNS)}) AS p_{c}"
    for c in R.ENC_COLUMNS
)
_ENC_AGG_SQL = ",\n    ".join(
    f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS d_{c},\n"
    f"    CAST(SUM(CASE WHEN p_{c} IS NULL OR p_{c} != {c} THEN 1 ELSE 0 END) AS BIGINT) AS r_{c}"
    for c in R.ENC_COLUMNS
)
_ENC_ROWS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, n, d_{c} AS n_distinct, r_{c} AS n_runs FROM agg"
    for c in R.ENC_COLUMNS
)


@query(
    "column_encoding_advisor",
    f"""
WITH w AS (
  SELECT {", ".join(R.ENC_COLUMNS)},
         {_ENC_LAG_SQL}
  FROM lineitem
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    {_ENC_AGG_SQL}
  FROM w
),
melted AS (
  {_ENC_ROWS_SQL}
)
SELECT col_name, n, n_distinct, n_runs,
       ROUND(n * 1.0 / n_runs, 6) AS avg_run_len,
       CASE WHEN n * 1.0 / n_runs >= {R.ENC_RLE_MIN_RUN} THEN 'rle'
            WHEN n_distinct <= {R.ENC_DICT_MAX} THEN 'dict'
            ELSE 'plain' END AS encoding
FROM melted
""",
)
def column_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet encoding advisor: cardinality + run length along the
    native sort order per candidate column -> rle/dict/plain
    recommendation, all columns measured in one scan + one bounded
    window."""
    return R.column_encoding_advisor(load_table(spark, sf_dir, "lineitem"))


@query(
    "gzip_source_roundtrip",
    """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
""",
)
def gzip_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 source coverage: gzip-compressed JSON-lines write + schema'd
    read-back (codec decompression is transparent to the reader;
    explicit schema, never inference).  Oracle reads the ORIGINAL
    parquet — the check proves a lossless compressed round-trip."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_json_gz", sf_dir)
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(path)
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --------------------------------------------------------------------------
# Wave 37 (round 2): the reference's WAL file format as a custom Python
# DataSource — segment-parallel recovery scan feeding the declarative
# latest-wins replay.
# --------------------------------------------------------------------------
WAL_DOC_MOD = 50  # log records fold onto doc ids vec_id % 50 (dup keys)
WAL_DELETE_MOD = 10  # every 10th log record is a tombstone


def _wal_log(emb: DataFrame) -> DataFrame:
    """The fixture's op log as WAL records (``WAL_SCHEMA``): one per
    embedding row, folded onto doc id ``vec_id % WAL_DOC_MOD``, every
    ``WAL_DELETE_MOD``-th a tombstone; ``doc`` is the JSON
    ``{"id", "label"}``."""
    return emb.select(
        F.col("vec_id").alias("log_id"),
        (F.col("vec_id") % 3).alias("version"),
        F.when(F.col("vec_id") % WAL_DELETE_MOD == 0, "delete")
        .otherwise("upsert")
        .alias("op"),
        F.to_json(
            F.struct(
                (F.col("vec_id") % WAL_DOC_MOD).alias("id"),
                F.col("label").alias("label"),
            )
        ).alias("doc"),
    )


def _wal_docs(wal: DataFrame) -> DataFrame:
    """``log_id``, ``op`` and the parsed ``doc`` (``id``, ``label``) of
    WAL records."""
    doc = F.from_json("doc", "id long, label int")
    return wal.select("log_id", "op", doc["id"].alias("id"), doc["label"].alias("label"))


@query(
    "wal_source_scan",
    f"""
WITH recs AS (
  SELECT vec_id AS log_id,
         vec_id % {WAL_DOC_MOD} AS id,
         label,
         CASE WHEN vec_id % {WAL_DELETE_MOD} = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM embeddings
),
latest AS (
  SELECT id, label, op FROM (
    SELECT id, label, op,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_id DESC) AS rn
    FROM recs
  ) WHERE rn = 1
)
SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM latest WHERE op != 'delete' GROUP BY label
""",
)
def wal_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16/O17 at the FILE-FORMAT level: write the op log in the
    reference's length-prefixed ``logid|version|optype|json`` WAL
    framing (doc/wal.md:4-6) — one segment per Spark task — then read
    it back through the custom Python DataSource (one InputPartition
    per segment, parallel recovery scan vs the reference's serial
    boot loop, src/persistence.cc:84-135) and replay latest-wins with
    tombstone drop.  The oracle recomputes the same state from the
    original table, proving the binary round-trip lossless."""
    import shutil

    from ..sources.wal_source import read_wal, write_wal_segments

    log = _wal_log(load_table(spark, sf_dir, "embeddings"))

    def write() -> str:
        path = scratch_path("wal", sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        write_wal_segments(log.repartition(4, "log_id"), path)
        return path

    # the framed log is deterministic per fixture: write it once per
    # session (the binary encode costs ~2s; a real system writes its
    # WAL as a side effect of ingest, not per read)
    path = session_cached(spark, sf_dir, "wal_segments", write)
    parsed = _wal_docs(read_wal(spark, path))
    from ..operators.mutation import wal_replay

    state = wal_replay(parsed, ["id"], ["log_id"], "op", "delete")
    return state.groupBy("label").agg(F.count("*").cast("long").alias("n_docs"))


# --------------------------------------------------------------------------
# Wave 38 (round 2): partitioned-layout write with dynamic partition
# overwrite + pruned read-back.
# --------------------------------------------------------------------------


@query(
    "partitioned_write_prune",
    """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE lang = 'en' GROUP BY source
""",
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned table layout: write documents partitioned by lang
    (dynamic partition overwrite — only touched partitions rewrite,
    the idempotent backfill contract), then read back with a lang
    predicate that must prune to ONE partition directory
    (PartitionFilters, asserted in tests/test_plans.py).  Oracle reads
    the original parquet — lossless layout round-trip."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_by_lang", sf_dir)
    (
        docs.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --------------------------------------------------------------------------
# Wave 39 (round 2): keep-best canonical dedup, nearest-centroid
# classifier eval, linear revenue forecast, vocabulary coverage curve.
# --------------------------------------------------------------------------


@query(
    "dedup_keep_best",
    f"""
WITH RECURSIVE {_CLUSTER_LABELS_CTES},
q AS ({_quality_scored_sql("docs_plus")}),
m AS (
  SELECT l.cluster, l.node, q.quality
  FROM labels l JOIN q ON l.node = q.doc_id
),
best AS (
  SELECT cluster, node AS keeper, quality FROM (
    SELECT cluster, node, quality,
           ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY quality DESC, node ASC) AS rn
    FROM m
  ) WHERE rn = 1
),
sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members FROM m GROUP BY cluster)
SELECT b.cluster, b.keeper, sz.n_members, ROUND(b.quality, 6) AS keeper_quality
FROM best b JOIN sz USING (cluster)
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST canonical selection: each near-dup cluster keeps its
    highest-quality member (quality desc, id tiebreak) instead of the
    arbitrary min-id — the dedup rewrite a production pass actually
    ships.  Cluster labels and quality scores both reuse their cached/
    shared derivations."""
    docs = _docs_plus_spark(spark, sf_dir)
    scored = T.token_quality(docs).select("doc_id", "quality")
    return D.cluster_keep_best(_dup_cluster_labels(spark, sf_dir), scored)


@query(
    "label_centroid_accuracy",
    """
WITH ex AS (
  SELECT vec_id, label,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cent AS (SELECT label AS clabel, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
d AS (
  SELECT e.vec_id, e.label, c.clabel,
         ROUND(SUM((e.x - c.c) * (e.x - c.c)), 6) AS dist
  FROM ex e JOIN cent c ON e.pos = c.pos
  GROUP BY e.vec_id, e.label, c.clabel
),
pred AS (
  SELECT vec_id, label, clabel AS predicted FROM (
    SELECT vec_id, label, clabel,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS accuracy
FROM pred GROUP BY label
""",
)
def label_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier eval: per-label accuracy of
    classify-to-closest-label-centroid — the embedding/label coherence
    audit that gates training on the label field."""
    return K.label_centroid_accuracy(load_table(spark, sf_dir, "embeddings"))


@query(
    "orders_revenue_forecast",
    """
WITH monthly AS (
  SELECT (CAST(strftime(o_orderdate, '%Y') AS INT) - 1992) * 12
         + CAST(strftime(o_orderdate, '%m') AS INT) - 1 AS t,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS y
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(t AS DECIMAL(20,2)) * y) AS DOUBLE) AS sty,
         CAST(MAX(t) AS BIGINT) AS tmax
  FROM monthly
)
SELECT n,
       ROUND((n * sty - st * sy) / (n * stt - st * st), 6) AS slope,
       ROUND((sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n, 6)
         AS intercept,
       ROUND((sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n
             + (n * sty - st * sy) / (n * stt - st * st) * (tmax + 1), 6)
         AS forecast_next
FROM s
""",
)
def orders_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step linear forecast of monthly revenue: least-squares over
    (month index, DECIMAL-exact revenue) from power sums — the
    capacity-planning trend statistic."""
    return R.monthly_revenue_forecast(load_table(spark, sf_dir, "orders"))


_COVERAGE_ROWS_SQL = "\nUNION ALL\n".join(
    f"""SELECT CAST({k} AS INT) AS top_k,
       CAST(SUM(CASE WHEN rnk <= {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN rnk <= {k} THEN cnt ELSE 0 END) AS BIGINT) AS covered_tokens,
       ROUND(SUM(CASE WHEN rnk <= {k} THEN cnt ELSE 0 END) * 1.0 / SUM(cnt), 6)
         AS coverage
FROM ranked"""
    for k in T.COVERAGE_POINTS
)


@query(
    "vocab_coverage_curve",
    f"""
WITH vocab AS (
  SELECT t, COUNT(*) AS cnt
  FROM (SELECT unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT t, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS rnk FROM vocab
)
{_COVERAGE_ROWS_SQL}
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: token-mass share of the top-k types
    at fixed k — the tokenizer vocab-size design statistic, ranked via
    the two-phase range-partitioned rank (never a single-partition
    sort)."""
    return T.vocab_coverage_curve(load_table(spark, sf_dir, "documents"))


@query(
    "stream_wal_tail",
    f"""
WITH recs AS (
  SELECT vec_id AS log_id,
         vec_id % {WAL_DOC_MOD} AS id,
         label,
         CASE WHEN vec_id % {WAL_DELETE_MOD} = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS log_id,
         vec_id % {WAL_DOC_MOD} AS id,
         label,
         'upsert' AS op
  FROM embeddings WHERE vec_id < 10
),
latest AS (
  SELECT id, label, op FROM (
    SELECT id, label, op,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_id DESC) AS rn
    FROM recs
  ) WHERE rn = 1
)
SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM latest WHERE op != 'delete' GROUP BY label
""",
)
def stream_wal_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 as a LIVE stream: the WAL directory is tailed through the
    custom source's partitioned DataSourceStreamReader — run 1 drains the
    initial segments into a checkpointed append sink; a NEW segment
    (late upserts for doc ids < 10, higher log_ids) lands between
    runs; run 2 resumes from the SAME checkpoint and consumes ONLY
    the delta segment (offset = consumed-segment count, the
    'replay after lastSnapshotID' contract).  Latest-wins replay over
    the accumulated sink equals the batch oracle over both record
    waves — batch/stream equivalence plus incremental-tail
    exactly-once in one check."""
    import os
    import shutil

    from ..sources.wal_source import read_wal, write_wal_segment, write_wal_segments

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_path("wal_stream", sf_dir)
    ck, out_dir = f"{path}_ck", f"{path}_out"
    for p in (path, ck, out_dir):
        shutil.rmtree(p, ignore_errors=True)
    write_wal_segments(_wal_log(emb).repartition(2, "log_id"), path)

    # memory sink cannot recover from a checkpoint; the foreachBatch
    # parquet-append sink is the recoverable accumulate-all-batches shape
    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    def run_once():
        wal = read_wal(spark, path, stream=True)
        SJ.run_available_now(wal.writeStream.foreachBatch(sink).outputMode("append"), ck)

    run_once()
    # late upsert wave lands as a NEW segment after the first drain
    extra = _wal_log(emb.filter(F.col("vec_id") < 10)).select(
        (F.col("log_id") + 1_000_000).alias("log_id"),
        F.lit(9).alias("version"),
        F.lit("upsert").alias("op"),
        "doc",
    )
    write_wal_segment(os.path.join(path, "segment-zzlate.wal"), extra.collect())
    run_once()

    parsed = _wal_docs(spark.read.parquet(out_dir))
    from ..operators.mutation import wal_replay

    state = wal_replay(parsed, ["id"], ["log_id"], "op", "delete")
    return state.groupBy("label").agg(F.count("*").cast("long").alias("n_docs"))


@query(
    "multimodal_phash_neardup",
    f"""
WITH {_DOCS_PLUS_SQL},
p AS (SELECT doc_id, upper(hex(encode(text))) AS hx,
             octet_length(encode(text)) AS n FROM docs_plus),
lk AS (SELECT i AS v, upper(lpad(to_hex(i), 2, '0')) AS h FROM range(256) t(i)),
bytes AS (
  SELECT p.doc_id, (t.j - 1) % {MM.PHASH_BITS} AS i, lk.v
  FROM p, LATERAL (SELECT unnest(generate_series(1, p.n)) AS j) t
  JOIN lk ON lk.h = substr(p.hx, (t.j - 1) * 2 + 1, 2)
  WHERE p.n > 0
),
pxs AS (SELECT doc_id, i, SUM(v) AS s FROM bytes GROUP BY 1, 2),
grid AS (SELECT p.doc_id, gi.i FROM p, range({MM.PHASH_BITS}) gi(i)),
pxf AS (SELECT g.doc_id, g.i, COALESCE(x.s, 0) AS s
        FROM grid g LEFT JOIN pxs x ON x.doc_id = g.doc_id AND x.i = g.i),
tot AS (SELECT doc_id, SUM(s) / {MM.PHASH_BITS}.0 AS mean FROM pxf GROUP BY 1),
bits AS (SELECT f.doc_id, f.i, CASE WHEN f.s > t.mean THEN 1 ELSE 0 END AS b
         FROM pxf f JOIN tot t USING (doc_id)),
ph AS (
  -- two's-complement int64 assembly: bits 0..62 positive, bit 63 adds
  -- -2^63 — matches the kernel's signed LongType exactly.  The outer
  -- CAST matters: DuckDB SUM(BIGINT) returns HUGEINT, and xor /
  -- bit_count on a negative HUGEINT is 128-bit two's complement
  SELECT doc_id,
         CAST(
           SUM(CASE WHEN i < 63 THEN b * (CAST(1 AS BIGINT) << CAST(i AS INT))
                    ELSE 0 END)
           + CASE WHEN MAX(CASE WHEN i = 63 THEN b ELSE 0 END) = 1
                  THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END
         AS BIGINT) AS phash
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, CAST(i // 16 AS INT) AS band,
         SUM(b * (CAST(1 AS BIGINT) << CAST(i % 16 AS INT))) AS bucket
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(ha.phash, hb.phash)) AS INT) AS hamming
FROM cand c
JOIN ph ha ON ha.doc_id = c.doc_a
JOIN ph hb ON hb.doc_id = c.doc_b
WHERE bit_count(xor(ha.phash, hb.phash)) <= {MM.PHASH_MAX_HAMMING}
""",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over the opaque media column: Arrow-
    batched 64-bit pHash, 4x16-bit LSH band join, exact popcount
    Hamming gate — planted duplicate payloads (doc_id % {PLANT_MOD}
    == 0 copied to +{PLANT_SHIFT}) must pair at Hamming 0 (also
    pytest-held, tests/test_wave40.py).  Oracle-checked since round 4:
    the stride-sum raster, signed-int64 hash, banding, and Hamming
    filter are all recomputed by DuckDB from the payload bytes via
    hex-pair explosion — bit-for-bit, including the bit-63
    two's-complement case."""
    return MM.phash_neardup_pairs(
        MM.with_payload(_docs_plus_spark(spark, sf_dir))
    )


@query(
    "events_changepoint",
    """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c FROM events GROUP BY 1),
pre AS (
  SELECT d, c,
         COUNT(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS n1,
         SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s1,
         SUM(c * c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ss1
  FROM daily
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily
),
scored AS (
  SELECT d,
         ROUND((ss1 - s1 * s1 * 1.0 / n1)
             + ((ss - ss1) - (s - s1) * (s - s1) * 1.0 / (n - n1)), 6) AS sse,
         ROUND(s1 * 1.0 / n1, 6) AS mean_before,
         ROUND((s - s1) * 1.0 / (n - n1), 6) AS mean_after
  FROM pre CROSS JOIN tot
  WHERE n1 < n
),
best AS (SELECT * FROM scored ORDER BY sse, d LIMIT 1),
base AS (SELECT ROUND(ss - s * s * 1.0 / n, 6) AS sse_nosplit FROM tot)
SELECT strftime(best.d, '%Y-%m-%d') AS split_date, best.sse, base.sse_nosplit,
       best.mean_before, best.mean_after,
       ROUND((base.sse_nosplit - best.sse) / base.sse_nosplit, 6) AS sse_reduction
FROM best CROSS JOIN base
""",
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection: the split date minimizing total
    two-segment SSE over the daily count series, from exact prefix
    power sums — the 'did traffic shift on date X' monitoring
    primitive.  The ordered window runs over the calendar-bounded
    daily aggregate, never the fact table."""
    return E.changepoint_detect(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 42 (round 2): point-in-time (feature-store) join against the SCD2
# dimension, funnel time-to-convert quartiles, grouped discount
# elasticity regression.
# --------------------------------------------------------------------------


@query(
    "events_pit_user_state",
    """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w != event_type
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE event_type != 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
e AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS ep
  FROM o
),
epi AS (
  SELECT user_id, ep, MIN(event_type) AS state, MIN(ts) AS valid_from
  FROM e GROUP BY user_id, ep
),
dim AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY ep) AS valid_to
  FROM epi
),
err AS (
  SELECT user_id, ts FROM events WHERE event_type = 'error'
),
pit AS (
  SELECT COALESCE(d.state, 'none') AS state
  FROM err LEFT JOIN dim d
    ON err.user_id = d.user_id
   AND err.ts >= d.valid_from
   AND (d.valid_to IS NULL OR err.ts < d.valid_to)
)
SELECT state, CAST(COUNT(*) AS BIGINT) AS n_errors FROM pit GROUP BY state
""",
)
def events_pit_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature join: every error event matched to the
    SCD2 state interval (from non-error events) containing its ts —
    exactly-one containment on half-open intervals, the no-leakage /
    no-fanout contract feature-store training joins need."""
    return E.point_in_time_state(load_table(spark, sf_dir, "events"))


@query(
    "events_time_to_convert",
    """
WITH fv AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
conv AS (
  SELECT e.user_id,
         (epoch_us(MIN(e.ts)) - epoch_us(MIN(fv.v_ts))) / 1000000.0 AS delta_s
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fv.v_ts
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(delta_s, 0.25), 4) AS p25,
       ROUND(quantile_cont(delta_s, 0.50), 4) AS p50,
       ROUND(quantile_cont(delta_s, 0.75), 4) AS p75,
       ROUND(quantile_cont(delta_s, 0.90), 4) AS p90
FROM conv
""",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency KPI: exact interpolated quartiles of
    first-view -> first-subsequent-purchase seconds over converting
    users."""
    return E.time_to_convert(load_table(spark, sf_dir, "events"))


@query(
    "lineitem_discount_elasticity",
    """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                * CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6)
         AS qty_per_discount_pct,
       ROUND((sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n, 6)
         AS base_qty
FROM s
""",
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS: per-returnflag slope of quantity on discount from
    exact integer power sums — the price-sensitivity read."""
    return R.discount_elasticity(load_table(spark, sf_dir, "lineitem"))

