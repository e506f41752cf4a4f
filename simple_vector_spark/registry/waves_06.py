"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, local_frame, scratch_path, session_cached

from . import finalize_double, query
from .core_knn import _query_vector
from .core_relational import E, R
from .core_ann import A, ANN_K, ANN_QUERY_ID, T, _PLANES_SQL, _graph_edges, _seed_codebook
from .core_text import _PROFILE_SQL, _TK_SQL
from .waves_01 import CU
from .waves_05 import _NAV_EDGES_SQL



# --------------------------------------------------------------------------
# Wave 136 (round 2): acquisition-vs-retention revenue decomposition.
# --------------------------------------------------------------------------


@query(
    "orders_new_vs_returning",
    """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) || '-'
           || CAST(quarter(o_orderdate) AS VARCHAR) AS q,
         o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1, 2
),
first AS (SELECT o_custkey, MIN(q) AS fq FROM per GROUP BY 1),
j AS (
  SELECT per.q, per.rev,
         CASE WHEN per.q = first.fq THEN 1 ELSE 0 END AS is_new
  FROM per JOIN first USING (o_custkey)
),
agg AS (
  SELECT q,
         CAST(SUM(is_new) AS BIGINT) AS n_new_customers,
         CAST(SUM(1 - is_new) AS BIGINT) AS n_returning,
         CAST(SUM(CASE WHEN is_new = 1 THEN rev ELSE 0 END) AS DECIMAL(20,2))
           AS new_revenue,
         CAST(SUM(CASE WHEN is_new = 0 THEN rev ELSE 0 END) AS DECIMAL(20,2))
           AS returning_revenue
  FROM j GROUP BY q
)
SELECT q, n_new_customers, n_returning,
       CAST(new_revenue AS DOUBLE) AS new_revenue,
       CAST(returning_revenue AS DOUBLE) AS returning_revenue,
       ROUND(CAST(new_revenue AS DOUBLE)
             / CAST(new_revenue + returning_revenue AS DOUBLE), 6) AS new_share
FROM agg
""",
)
def orders_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-vs-retention revenue split per quarter (customer's
    first quarter classifies their spend) — growth quality beside the
    cohort-LTV grid; two aggregates, DECIMAL-exact."""
    return finalize_double(
        R.new_vs_returning_revenue(load_table(spark, sf_dir, "orders")),
        "new_revenue", "returning_revenue",
    )


# --------------------------------------------------------------------------
# Wave 137 (round 2): grouped sequence integrity + props schema drift.
# --------------------------------------------------------------------------


@query(
    "lineitem_linenumber_audit",
    """
WITH per AS (
  SELECT l_orderkey, COUNT(*) AS n, COUNT(DISTINCT l_linenumber) AS nd,
         MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
  FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN nd = n AND mn = 1 AND mx = n THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contiguous,
       CAST(SUM(CASE WHEN nd != n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicate_lines,
       CAST(SUM(CASE WHEN mn != 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_base,
       CAST(SUM(CASE WHEN mx != n AND nd = n AND mn = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gapped,
       ROUND(SUM(CASE WHEN nd = n AND mn = 1 AND mx = n THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS contiguous_share
FROM per
""",
)
def lineitem_linenumber_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order line-number contiguity contract (1..n, no gaps or
    dups) WITHOUT sorting — count/distinct/min/max algebra per group;
    the grouped sibling of the global id-gap audit."""
    from ..operators import validate as V

    return V.line_number_integrity(load_table(spark, sf_dir, "lineitem"))


@query(
    "events_props_schema_drift",
    """
WITH h AS (
  SELECT CAST((CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2) AS INT) AS h,
         props
  FROM events
),
keys AS (SELECT h, unnest(json_keys(props)) AS k FROM h),
totals AS (SELECT h, COUNT(*) AS nt FROM h GROUP BY 1),
cells AS (SELECT k, h, COUNT(*) AS n FROM keys GROUP BY 1, 2),
j AS (
  SELECT k, h, n * 1.0 / nt AS share FROM cells JOIN totals USING (h)
),
a AS (SELECT k, share AS sa FROM j WHERE h = 0),
b AS (SELECT k, share AS sb FROM j WHERE h = 1)
SELECT COALESCE(a.k, b.k) AS prop_key,
       ROUND(COALESCE(sa, 0.0), 6) AS share_a,
       ROUND(COALESCE(sb, 0.0), 6) AS share_b,
       ROUND(ABS(COALESCE(sa, 0.0) - COALESCE(sb, 0.0)), 6) AS abs_drift
FROM a FULL OUTER JOIN b ON a.k = b.k
""",
)
def events_props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props key-presence drift between the md5 halves of the
    user population — producer-rollout schema evolution the table
    schema can't see; one explode scan, tiny (key, half) aggregate."""
    return E.props_schema_drift(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 139 (round 2): graph-ANN index health — reciprocity, hubness,
# orphan share; the recall predictors HNSW's M-heuristics manage.
# --------------------------------------------------------------------------


@query(
    "knn_graph_health",
    f"""
WITH {_NAV_EDGES_SQL},
edges AS (SELECT src, nbr AS dst FROM rk WHERE rnk <= {A.GRAPH_DEGREE}),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
indeg AS (SELECT dst, COUNT(*) AS ind FROM edges GROUP BY 1),
ins AS (SELECT CAST(MAX(ind) AS BIGINT) AS max_in_degree FROM indeg),
nodes AS (SELECT DISTINCT src AS node FROM edges),
orph AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans FROM nodes
  WHERE node NOT IN (SELECT dst FROM indeg)
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)
SELECT n_nodes, n_edges, n_mutual,
       ROUND(n_mutual * 1.0 / n_edges, 6) AS reciprocity,
       max_in_degree,
       ROUND(max_in_degree / {float(A.GRAPH_DEGREE)!r}, 6) AS hub_ratio,
       n_orphans,
       ROUND(n_orphans * 1.0 / n_nodes, 6) AS orphan_share
FROM tot, m, ins, orph, nn
""",
)
def knn_graph_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigable-graph health: edge reciprocity, hub concentration
    (max in-degree vs the degree cap), orphan share — the greedy-
    search recall predictors, all aggregates over the shared edge
    build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.knn_graph_health(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS),
        edges_in=_graph_edges(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Wave 140 (round 2): multi-probe LSH — the recall dial that buys
# candidates without more hash tables.
# --------------------------------------------------------------------------

_MP_FLIPS = " UNION ".join(
    ["SELECT bucket AS probe FROM qb"]
    + [f"SELECT xor(bucket, {2 ** i}) FROM qb" for i in range(len(A.PLANE_IDS))]
)


@query(
    "ann_rp_multiprobe",
    f"""
WITH planes AS (
  SELECT vec_id AS p, CAST(embedding AS DOUBLE[]) AS pv
  FROM embeddings WHERE vec_id IN ({_PLANES_SQL})
),
pp AS (
  SELECT e.vec_id, p.p,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(p.pv) AS y
  FROM embeddings e CROSS JOIN planes p
),
dots AS (SELECT vec_id, p, SUM(x * y) AS dot FROM pp GROUP BY vec_id, p),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot > 0 THEN pow(2, p) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = {ANN_QUERY_ID}),
probes AS ({_MP_FLIPS}),
cand AS (
  SELECT DISTINCT b.vec_id FROM buckets b JOIN probes ON b.bucket = probes.probe
),
qp AS (
  SELECT c.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
),
d AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM qp GROUP BY vec_id)
SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT {ANN_K}
""",
)
def ann_rp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: the query bucket plus every Hamming-1
    flipped bucket probed in one pass — the Lv-et-al recall dial at
    (|planes|+1)x candidate cost, no extra hash tables; zero-shuffle
    buckets, broadcast probe set, exact rerank."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _seed_codebook(spark, sf_dir, A.PLANE_IDS)
    return A.rp_multiprobe_search(
        emb, _query_vector(spark, sf_dir, ANN_QUERY_ID), planes, ANN_K
    )


# --------------------------------------------------------------------------
# Wave 141 (round 2): hash-partition balance — per-task skew after hashing,
# what executors actually feel.
# --------------------------------------------------------------------------


@query(
    "orders_hash_partition_balance",
    f"""
WITH per AS (
  SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) % {R.HASH_PARTITIONS} AS b,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MIN(n) AS BIGINT) AS min_rows,
       CAST(MAX(n) AS BIGINT) AS max_rows,
       ROUND(SUM(n) * 1.0 / COUNT(*), 6) AS avg_rows,
       ROUND(MAX(n) / (SUM(n) * 1.0 / COUNT(*)), 6) AS imbalance_ratio,
       ROUND(MAX(n) * 1.0 / SUM(n), 6) AS max_bucket_share
FROM per
""",
)
def orders_hash_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows per md5-hash bucket of the customer key across
    {R.HASH_PARTITIONS} partitions: min/max/avg, imbalance ratio,
    heaviest-bucket share — per-task skew after hashing, the executors'
    view the per-key salt advisor can't give."""
    return R.hash_partition_balance(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 142 (round 2): char-trigram language ID trained from labels +
# agreement matrix with the word classifier — two weak judges, one
# review queue.
# --------------------------------------------------------------------------


@query(
    "text_langid_chargram_agreement",
    f"""
WITH dg AS (
  SELECT doc_id, lang, unnest(
    CASE WHEN length(lower(text)) >= 3
         THEN list_transform(range(1, length(lower(text)) - 1),
                             i -> substr(lower(text), i, 3))
         ELSE [] END) AS g
  FROM documents
),
lc AS (SELECT lang, g, COUNT(*) AS n FROM dg GROUP BY 1, 2),
prof AS (
  SELECT lang AS plang, g FROM (
    SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY n DESC, g) AS r
    FROM lc
  ) WHERE r <= {T.CHARGRAM_TOP}
),
sc AS (
  SELECT dg.doc_id, prof.plang, COUNT(*) AS hits
  FROM dg JOIN prof ON dg.g = prof.g
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, plang FROM (
    SELECT doc_id, plang, ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY hits DESC, plang) AS r
    FROM sc
  ) WHERE r = 1
),
cg AS (
  SELECT d.doc_id, COALESCE(best.plang, 'unk') AS cgp
  FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
),
t AS (SELECT doc_id, lang, {_TK_SQL} AS tk FROM documents),
s AS (
  SELECT doc_id,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS s_en,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["de"]}'], x))) AS s_de,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["fr"]}'], x))) AS s_fr,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["es"]}'], x))) AS s_es
  FROM t
),
wd AS (
  SELECT doc_id,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END AS wdp
  FROM s
)
SELECT cg.cgp AS chargram_pred, wd.wdp AS word_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       cg.cgp = wd.wdp AS agree
FROM cg JOIN wd USING (doc_id)
GROUP BY 1, 2, 4
""",
)
def text_langid_chargram_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language classifier (profiles trained from the
    labeled lang column, Cavnar-Trenkle style) crossed with the word
    classifier: the agreement matrix whose off-diagonal is the silver-
    label review queue; linear trigram explode, broadcast profiles."""
    return T.chargram_langid_agreement(
        load_table(spark, sf_dir, "documents")
    )


# --------------------------------------------------------------------------
# Wave 143 (round 2): activation analysis — first-session depth vs
# eventual retention.
# --------------------------------------------------------------------------


@query(
    "events_activation_analysis",
    """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(FLOOR(epoch(ts)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR FLOOR(epoch(ts))
                   - lag(FLOOR(epoch(ts)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
fs AS (SELECT user_id, COUNT(*) AS s FROM s WHERE sid = 1 GROUP BY 1),
wks AS (
  SELECT user_id, COUNT(*) AS wk
  FROM (SELECT DISTINCT user_id, date_trunc('week', ts) FROM events)
  GROUP BY 1
),
j AS (SELECT fs.user_id, fs.s, wks.wk FROM fs JOIN wks USING (user_id)),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(s) AS ss, SUM(wk) AS sw, SUM(s * wk) AS ssw,
         SUM(s * s) AS sss, SUM(wk * wk) AS sww,
         SUM(CASE WHEN s = 1 THEN wk END) AS w1,
         SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN s BETWEEN 2 AND 4 THEN wk END) AS w24,
         SUM(CASE WHEN s BETWEEN 2 AND 4 THEN 1 ELSE 0 END) AS n24,
         SUM(CASE WHEN s >= 5 THEN wk END) AS w5,
         SUM(CASE WHEN s >= 5 THEN 1 ELSE 0 END) AS n5
  FROM j
)
SELECT n_users,
       ROUND(CAST(n_users * ssw - ss * sw AS DOUBLE)
             / NULLIF(sqrt(CAST(n_users * sss - ss * ss AS DOUBLE)
                           * CAST(n_users * sww - sw * sw AS DOUBLE)), 0.0), 6)
         AS depth_weeks_corr,
       CAST(n1 AS BIGINT) AS n_depth_1,
       ROUND(w1 * 1.0 / NULLIF(n1, 0), 6) AS weeks_depth_1,
       CAST(n24 AS BIGINT) AS n_depth_2_4,
       ROUND(w24 * 1.0 / NULLIF(n24, 0), 6) AS weeks_depth_2_4,
       CAST(n5 AS BIGINT) AS n_depth_5p,
       ROUND(w5 * 1.0 / NULLIF(n5, 0), 6) AS weeks_depth_5p
FROM a
""",
)
def events_activation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-session depth vs total active weeks: Pearson correlation
    from exact power sums + mean weeks by depth band (1 / 2-4 / 5+) —
    the aha-moment table behind onboarding metrics; one user shuffle
    plus bounded per-user aggregates."""
    return E.activation_analysis(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 144 (round 2): frequency-of-frequencies spectrum — Good-Turing
# inputs, hapax rate, unseen-mass estimate.
# --------------------------------------------------------------------------


@query(
    "vocab_freq_spectrum",
    f"""
WITH counts AS (
  SELECT t, COUNT(*) AS c
  FROM (SELECT unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY t
),
spec AS (SELECT c, COUNT(*) AS n_types FROM counts GROUP BY c),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM counts
)
SELECT CAST(c AS BIGINT) AS k,
       CAST(n_types AS BIGINT) AS n_types,
       v AS vocab_size, n AS n_tokens,
       ROUND(n1 * 1.0 / v, 6) AS hapax_share,
       ROUND(n1 * 1.0 / n, 6) AS good_turing_p0
FROM (SELECT * FROM spec ORDER BY c LIMIT {T.SPECTRUM_TOP}) spec
CROSS JOIN tot
""",
)
def vocab_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies (types occurring exactly k times) with
    hapax share and the Good-Turing unseen-mass P0 = n1/N — the vocab-
    headroom table; one token count + one count-of-counts."""
    return T.vocab_frequency_spectrum(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 145 (round 2): repeat-purchase rate — replenishable detection at
# part grain.
# --------------------------------------------------------------------------


@query(
    "part_repeat_purchase",
    f"""
WITH per AS (
  SELECT l_partkey, o_custkey, COUNT(DISTINCT l_orderkey) AS n_ord
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
agg AS (
  SELECT l_partkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
  FROM per GROUP BY 1
)
SELECT l_partkey AS part_id, n_customers, n_repeat,
       ROUND(n_repeat * 1.0 / n_customers, 6) AS repeat_rate
FROM agg
WHERE n_customers >= {R.REPEAT_MIN_CUSTOMERS}
ORDER BY repeat_rate DESC, n_customers DESC, part_id
LIMIT {R.REPEAT_TOPN}
""",
)
def part_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part repeat-purchase rate (customers with 2+ distinct
    orders of it) — replenishable vs one-off classification, top-N
    among parts with enough buyers; two aggregates + a heap."""
    return R.part_repeat_purchase(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 146 (round 2): forward-fill (LOCF) gap repair on the daily axis.
# --------------------------------------------------------------------------


@query(
    "events_daily_forward_fill",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
axis AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM span
),
j AS (SELECT axis.d, daily.n FROM axis LEFT JOIN daily USING (d)),
f AS (
  SELECT d, n AS observed,
         last_value(n IGNORE NULLS)
           OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS filled,
         n IS NULL AS was_gap
  FROM j
)
SELECT d, observed, filled, was_gap
FROM f ORDER BY d LIMIT {E.FFILL_HEAD_DAYS}
""",
)
def events_daily_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF forward-fill over the dense calendar axis of daily event
    counts (first {E.FFILL_HEAD_DAYS} days shown with fill flags) —
    the time-series regularization lag-based consumers assume;
    calendar-bounded axis, last-ignore-nulls window."""
    return E.daily_forward_fill(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 147 (round 2): forecast baselines — naive vs seasonal-naive MAE,
# the bar any model must clear.
# --------------------------------------------------------------------------


@query(
    "events_forecast_baselines",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
seq AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY d) AS t,
         COUNT(*) OVER () AS nd
  FROM daily
),
j AS (
  SELECT a.n, b.n AS p1, c.n AS p7, a.t, a.nd
  FROM seq a
  JOIN seq b ON a.t = b.t + 1
  JOIN seq c ON a.t = c.t + 7
  WHERE a.t > a.nd - {E.FC_EVAL_DAYS}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_eval,
       ROUND(AVG(ABS(n - p1)), 6) AS mae_naive_1d,
       ROUND(AVG(ABS(n - p7)), 6) AS mae_seasonal_7d,
       SUM(ABS(n - p7)) < SUM(ABS(n - p1)) AS weekly_seasonality_wins
FROM j
""",
)
def events_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive (t-1) vs seasonal-naive (t-7) MAE over the last
    {E.FC_EVAL_DAYS} days of daily counts — the baselines any forecast
    model must beat, and the cheap weekly-seasonality verdict; exact
    integer errors, shifted-rank joins."""
    return E.forecast_baseline_eval(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 148 (round 2): Poisson goodness-of-fit on order sizes.
# --------------------------------------------------------------------------

import math as _math

_POIS_HEAD_SQL = "\nUNION ALL\n".join(
    f"""SELECT CAST({j} AS BIGINT) AS cell,
       ROUND(n * exp(-lam) * pow(lam, {j}) / {{0}}, 6) AS e
FROM tot""".format(float(_math.factorial(j)))
    for j in range(R.POISSON_CELLS - 1)
)


@query(
    "orders_lines_poisson_fit",
    f"""
WITH per AS (
  SELECT l_orderkey, COUNT(*) - 1 AS k FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(k) * 1.0 / COUNT(*) AS lam
  FROM per
),
obs AS (
  SELECT LEAST(k, {R.POISSON_CELLS - 1}) AS cell, COUNT(*) AS o
  FROM per GROUP BY 1
),
head AS ({_POIS_HEAD_SQL}),
hs AS (SELECT SUM(e) AS eh FROM head),
tail AS (
  SELECT CAST({R.POISSON_CELLS - 1} AS BIGINT) AS cell,
         ROUND(n - eh, 6) AS e
  FROM tot, hs
),
expect AS (SELECT * FROM head UNION ALL SELECT * FROM tail),
j AS (
  SELECT expect.cell,
         CAST(COALESCE(obs.o, 0) AS BIGINT) AS observed,
         expect.e
  FROM expect LEFT JOIN obs ON expect.cell = obs.cell
),
chi AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND((observed - e) * (observed - e) / e, 9)
                             AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2
  FROM j
)
SELECT j.cell, j.observed, j.e AS expected,
       ROUND(lam, 6) AS lambda_hat, chi.chi2
FROM j CROSS JOIN chi CROSS JOIN tot
""",
)
def orders_lines_poisson_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson GOF on shifted lines-per-order: observed vs expected
    cells + pooled tail and the chi-square statistic — the parametric
    sanity check behind order-size assumptions; exact-sum lambda,
    rounded model cells."""
    return R.lines_poisson_fit(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 149 (round 2): bullwhip ratio — does the chain amplify demand
# variability downstream?
# --------------------------------------------------------------------------


@query(
    "lineitem_bullwhip_ratio",
    """
WITH demand AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
supply AS (
  SELECT date_trunc('month', l_shipdate) AS m,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem GROUP BY 1
),
d AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months_order,
         ROUND((CAST(SUM(CAST(q * q AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
                - (CAST(SUM(q) AS DOUBLE) / COUNT(*))
                  * (CAST(SUM(q) AS DOUBLE) / COUNT(*)))
               / NULLIF((CAST(SUM(q) AS DOUBLE) / COUNT(*))
                        * (CAST(SUM(q) AS DOUBLE) / COUNT(*)), 0.0), 6)
           AS cv2_order
  FROM demand
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months_ship,
         ROUND((CAST(SUM(CAST(q * q AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)
                - (CAST(SUM(q) AS DOUBLE) / COUNT(*))
                  * (CAST(SUM(q) AS DOUBLE) / COUNT(*)))
               / NULLIF((CAST(SUM(q) AS DOUBLE) / COUNT(*))
                        * (CAST(SUM(q) AS DOUBLE) / COUNT(*)), 0.0), 6)
           AS cv2_ship
  FROM supply
)
SELECT n_months_order, cv2_order, n_months_ship, cv2_ship,
       ROUND(cv2_ship / NULLIF(cv2_order, 0.0), 6) AS bullwhip_ratio
FROM d, s
""",
)
def lineitem_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CV² of monthly shipped quantity over CV² of monthly ordered
    quantity — the bullwhip variance-amplification index; exact power
    sums on the bounded month tables."""
    return R.bullwhip_ratio(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 150 (round 2): uplift-by-activity-band table — where a treatment
# moves users; a placebo check on untreated traffic.
# --------------------------------------------------------------------------


@query(
    "events_uplift_bands",
    f"""
WITH mid AS (
  SELECT CAST(FLOOR((MIN(FLOOR(epoch(ts))) + MAX(FLOOR(epoch(ts)))) / 2.0)
              AS BIGINT) AS m
  FROM events
),
pu AS (
  SELECT user_id,
         SUM(CASE WHEN FLOOR(epoch(ts)) < mid.m THEN 1 ELSE 0 END) AS pre,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         CAST((CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2) AS INT) AS arm
  FROM events CROSS JOIN mid
  GROUP BY user_id
),
banded AS (
  SELECT *, ntile({E.UPLIFT_DECILES}) OVER (ORDER BY pre DESC, user_id) AS band
  FROM pu
),
cells AS (
  SELECT band, arm, COUNT(*) AS n, SUM(conv) AS c
  FROM banded GROUP BY 1, 2
),
a AS (SELECT band, n AS na, c AS ca FROM cells WHERE arm = 0),
b AS (SELECT band, n AS nb, c AS cb FROM cells WHERE arm = 1)
SELECT CAST(a.band AS INT) AS band,
       CAST(na AS BIGINT) AS n_arm_a, CAST(nb AS BIGINT) AS n_arm_b,
       ROUND(ca * 1.0 / na, 6) AS rate_a,
       ROUND(cb * 1.0 / nb, 6) AS rate_b,
       ROUND(cb * 1.0 / nb - ca * 1.0 / na, 6) AS uplift
FROM a JOIN b USING (band)
""",
)
def events_uplift_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-activity-band conversion uplift between the md5 arms
    ({E.UPLIFT_DECILES} grouped-ntile bands) — the Qini-table input /
    placebo imbalance check; user-grain aggregate + two-phase ntile."""
    return E.uplift_by_activity_band(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 151 (round 2): Kaplan-Meier customer-lifetime survival — censoring
# done right, on a provably bounded time axis.
# --------------------------------------------------------------------------


@query(
    "customers_km_survival",
    f"""
WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
per AS (
  SELECT CAST(FLOOR(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                    / {R.KM_MONTH_DAYS}.0) AS BIGINT) AS t,
         CASE WHEN date_diff('day', MAX(o_orderdate), ANY_VALUE(maxd.md))
                   >= {R.KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS ev
  FROM orders CROSS JOIN maxd
  GROUP BY o_custkey
),
tot AS (SELECT COUNT(*) AS n FROM per),
times AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM per GROUP BY t
),
f AS (
  SELECT t, d, c,
         tot.n - COALESCE(SUM(m) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM times CROSS JOIN tot
),
g AS (
  SELECT t, d, c, n_risk,
         CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
           AS factor
  FROM f
)
SELECT CAST(a.t AS BIGINT) AS t_months,
       CAST(a.n_risk AS BIGINT) AS n_risk,
       a.d AS n_events, a.c AS n_censored,
       ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                      list(b.factor ORDER BY b.t)),
                         (x, y) -> x * y), 6) AS km_survival
FROM g a JOIN g b ON b.t <= a.t
GROUP BY a.t, a.n_risk, a.d, a.c
""",
)
def customers_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over customer lifetimes with
    {R.KM_CENSOR_DAYS}-day right-censoring; the cumulative product
    folds doubles in t-order from 1.0 in BOTH engines (bit-parity)."""
    return R.km_survival(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 152 (round 2): URL canonicalization — the crawl-dedup key, built on
# Spark's JVM parse_url against an oracle that recomputes the contract.
# --------------------------------------------------------------------------


@query(
    "url_normalize_audit",
    f"""
WITH u AS (
  SELECT doc_id, source,
         'https://WWW.' || upper(source) || '.Example.COM'
           || CASE WHEN doc_id % {T.URL_PORT_MOD} = 0 THEN ':443' ELSE '' END
           || '/docs/' || lang || '/' || CAST(doc_id % {T.URL_PATH_MOD} AS VARCHAR)
           || '?utm_source=feed&ref=' || CAST(doc_id % {T.URL_REF_MOD} AS VARCHAR)
           || '&utm_campaign=x#sec' || CAST(doc_id % {T.URL_FRAG_MOD} AS VARCHAR)
           AS url,
         source || '.example.com/docs/' || lang || '/'
           || CAST(doc_id % {T.URL_PATH_MOD} AS VARCHAR)
           || '?ref=' || CAST(doc_id % {T.URL_REF_MOD} AS VARCHAR) AS norm_url,
         source || '.example.com' AS domain
  FROM documents
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_distinct,
       CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_norm_distinct,
       CAST(SUM(CASE WHEN doc_id % {T.URL_PORT_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_port_urls,
       ROUND(CAST(1.0 AS DOUBLE)
             - CAST(COUNT(DISTINCT norm_url) AS DOUBLE)
               / CAST(COUNT(DISTINCT url) AS DOUBLE), 6) AS collapse_share
FROM u
GROUP BY domain
""",
)
def url_normalize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain raw-vs-canonical URL collapse audit; the Spark side
    genuinely parses (parse_url HOST/PATH/QUERY) and normalizes, the
    oracle recomputes the canonical contract from the URL formula."""
    return T.url_normalize_audit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 153 (round 2): Theil-Sen robust revenue trend — outlier-immune slope
# beside the OLS line, on the bounded month table.
# --------------------------------------------------------------------------


@query(
    "orders_theil_sen_trend",
    """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
  FROM orders GROUP BY 1
),
base AS (SELECT CAST(year(m)*12 + month(m) AS BIGINT) AS mi, y FROM monthly),
idx AS (
  SELECT mi - (SELECT MIN(mi) FROM base) AS i, y FROM base
),
pairs AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM idx a JOIN idx b ON a.i < b.i
),
sl AS (SELECT list_sort(list(s)) AS arr, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM pairs),
med AS (
  SELECT n_pairs,
         CASE WHEN n_pairs % 2 = 1
              THEN arr[CAST(FLOOR((n_pairs + 1) / 2.0) AS INT)]
              ELSE (arr[CAST(FLOOR(n_pairs / 2.0) AS INT)]
                    + arr[CAST(FLOOR(n_pairs / 2.0) AS INT) + 1]) / 2.0
         END AS slope_med
  FROM sl
),
resid AS (
  SELECT med.n_pairs, med.slope_med,
         CAST(y AS DOUBLE) - med.slope_med * CAST(i AS DOUBLE) AS r
  FROM idx CROSS JOIN med
),
rs AS (
  SELECT n_pairs, slope_med, list_sort(list(r)) AS arr,
         CAST(COUNT(*) AS BIGINT) AS nm
  FROM resid GROUP BY n_pairs, slope_med
),
ts AS (
  SELECT n_pairs, slope_med,
         CASE WHEN nm % 2 = 1
              THEN arr[CAST(FLOOR((nm + 1) / 2.0) AS INT)]
              ELSE (arr[CAST(FLOOR(nm / 2.0) AS INT)]
                    + arr[CAST(FLOOR(nm / 2.0) AS INT) + 1]) / 2.0
         END AS intercept_med
  FROM rs
),
ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(COUNT(*) * SUM(CAST(i * y AS DECIMAL(38,2)))
              - SUM(i) * SUM(y) AS DOUBLE)
         / CAST(COUNT(*) * SUM(i * i) - SUM(i) * SUM(i) AS DOUBLE)
           AS slope_ols
  FROM idx
)
SELECT n_months, n_pairs,
       ROUND(slope_med, 6) AS theil_slope,
       ROUND(intercept_med, 6) AS theil_intercept,
       ROUND(slope_ols, 6) AS ols_slope
FROM ols CROSS JOIN ts
""",
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen median-of-pairwise-slopes revenue trend with
    median-residual intercept, OLS beside it — medians picked by
    explicit sorted-array position in both engines."""
    return R.theil_sen_trend(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 154 (round 2): Holt linear-trend smoothing — the trend-aware EWMA,
# recursion as a fixed-order fold in BOTH engines.
# --------------------------------------------------------------------------

_HOLT_A = repr(R.HOLT_ALPHA)
_HOLT_OMA = repr(1 - R.HOLT_ALPHA)
_HOLT_B = repr(R.HOLT_BETA)
_HOLT_OMB = repr(1 - R.HOLT_BETA)


@query(
    "orders_holt_trend",
    f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
),
arr AS (
  SELECT list(CAST(y AS DOUBLE) ORDER BY m) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM monthly
),
st AS (
  SELECT n,
         list_reduce(
           list_prepend([ys[1], ys[2] - ys[1], CAST(0.0 AS DOUBLE)],
                        list_transform(ys[2:],
                                       x -> [x, CAST(0.0 AS DOUBLE),
                                             CAST(0.0 AS DOUBLE)])),
           (acc, e) -> [
             {_HOLT_A} * e[1] + {_HOLT_OMA} * (acc[1] + acc[2]),
             {_HOLT_B} * (({_HOLT_A} * e[1] + {_HOLT_OMA} * (acc[1] + acc[2]))
                          - acc[1]) + {_HOLT_OMB} * acc[2],
             acc[3] + (acc[1] + acc[2] - e[1]) * (acc[1] + acc[2] - e[1])
           ]) AS s
  FROM arr
)
SELECT n AS n_months,
       ROUND(s[1], 6) AS level,
       ROUND(s[2], 6) AS trend,
       ROUND(s[3] / CAST(n - 1 AS DOUBLE), 6) AS mse_1step,
       ROUND(s[1] + s[2], 6) AS forecast_1m,
       ROUND(s[1] + 3.0 * s[2], 6) AS forecast_3m
FROM st
""",
)
def orders_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of monthly revenue with
    one-step MSE and 1/3-month forecasts; the (level, trend, sse)
    recursion folds in identical order in both engines."""
    return R.holt_linear_trend(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 155 (round 2): DFT periodogram — which period actually dominates
# monthly revenue, in the frequency domain.
# --------------------------------------------------------------------------


@query(
    "orders_periodogram",
    f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
),
base AS (SELECT CAST(year(m)*12 + month(m) AS BIGINT) AS mi, y FROM monthly),
stats AS (
  SELECT MIN(mi) AS mn, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS sy FROM base
),
idx AS (
  SELECT b.mi - s.mn AS i,
         CAST(s.n * b.y - s.sy AS DECIMAL(28,2)) AS z, s.n
  FROM base b CROSS JOIN stats s
),
ks AS (
  SELECT unnest(range(1, CAST(FLOOR(n / 2.0) AS BIGINT) + 1)) AS k FROM stats
),
grid AS (SELECT idx.i, idx.z, idx.n, ks.k FROM idx CROSS JOIN ks),
terms AS (
  SELECT k,
         CAST(z * CAST(ROUND(COS(2.0 * 3.141592653589793 * CAST(k AS DOUBLE)
                                 * CAST(i AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(12,9)) AS DECIMAL(38,11)) AS tc,
         CAST(z * CAST(ROUND(SIN(2.0 * 3.141592653589793 * CAST(k AS DOUBLE)
                                 * CAST(i AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(12,9)) AS DECIMAL(38,11)) AS ts
  FROM grid
),
power AS (
  SELECT k, POW(CAST(SUM(tc) AS DOUBLE), 2) + POW(CAST(SUM(ts) AS DOUBLE), 2)
            AS p
  FROM terms GROUP BY k
),
tot AS (SELECT SUM(p) AS tp FROM power),
shared AS (
  SELECT k,
         ROUND(CAST(s.n AS DOUBLE) / CAST(k AS DOUBLE), 2) AS period_months,
         ROUND(p / NULLIF(tp, 0.0), 6) AS power_share
  FROM power CROSS JOIN tot CROSS JOIN stats s
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY power_share DESC, k ASC) AS INT)
              AS rnk
  FROM shared
)
SELECT CAST(k AS BIGINT) AS freq_k, period_months, power_share, rnk
FROM ranked WHERE rnk <= {R.PERIODOGRAM_TOPK}
""",
)
def orders_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top spectral peaks of monthly revenue: DFT power shares on the
    mean-centered integer-scaled series, cos/sin rounded to 9 decimals
    into exact DECIMAL sums in both engines."""
    return R.revenue_periodogram(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 156 (round 2): Wald SPRT sequential monitor — always-valid peeking
# on the treatment arm's conversion rate.
# --------------------------------------------------------------------------


@query(
    "events_sprt_monitor",
    """
WITH u AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS day,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events
  WHERE CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 1
  GROUP BY user_id
),
daily AS (SELECT day, COUNT(*) AS n, SUM(conv) AS c FROM u GROUP BY day),
cum AS (
  SELECT day,
         CAST(SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_users_cum,
         CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_conv_cum
  FROM daily
),
scored AS (
  SELECT day, n_users_cum, n_conv_cum,
         ROUND(0.15415067982725836 * CAST(n_conv_cum AS DOUBLE)
               + -0.07410797215372172 * CAST(n_users_cum - n_conv_cum AS DOUBLE), 6) AS llr
  FROM cum
)
SELECT day, n_users_cum, n_conv_cum, llr,
       CASE WHEN llr >= 2.772589 THEN 'accept_h1'
            WHEN llr <= -1.558145 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM scored
""",
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative Wald-SPRT log-likelihood ratio with
    accept/continue decisions on the md5 treatment arm."""
    return E.sprt_monitor(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 157 (round 2): region-partition modularity of the trade graph —
# community QUALITY beside pagerank's centrality.
# --------------------------------------------------------------------------


@query(
    "nation_trade_modularity",
    """
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         ns.n_regionkey AS src_r, nc.n_regionkey AS dst_r,
         COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  GROUP BY 1, 2, 3, 4
),
W AS (SELECT SUM(w) AS tw FROM edges),
win AS (SELECT src_r AS r, SUM(w) AS w_in FROM edges
        WHERE src_r = dst_r GROUP BY 1),
kout AS (SELECT src_r AS r, SUM(w) AS k_out FROM edges GROUP BY 1),
kin AS (SELECT dst_r AS r, SUM(w) AS k_in FROM edges GROUP BY 1),
per AS (
  SELECT COALESCE(kout.r, kin.r) AS r,
         COALESCE(w_in, 0) AS w_in,
         COALESCE(k_out, 0) AS k_out,
         COALESCE(k_in, 0) AS k_in
  FROM kout FULL JOIN kin ON kout.r = kin.r
  LEFT JOIN win ON COALESCE(kout.r, kin.r) = win.r
),
rows_ AS (
  SELECT CAST(r AS BIGINT) AS region_key,
         CAST(w_in AS BIGINT) AS w_in,
         CAST(k_out AS BIGINT) AS k_out,
         CAST(k_in AS BIGINT) AS k_in,
         ROUND(CAST(w_in AS DOUBLE) / CAST(tw AS DOUBLE)
               - CAST(CAST(k_out AS DECIMAL(19,0))
                      * CAST(k_in AS DECIMAL(19,0)) AS DOUBLE)
                 / (CAST(tw AS DOUBLE) * CAST(tw AS DOUBLE)), 6) AS q_contrib
  FROM per CROSS JOIN W
)
SELECT * FROM rows_
UNION ALL
SELECT CAST(-1 AS BIGINT),
       CAST(SUM(w_in) AS BIGINT), CAST(SUM(k_out) AS BIGINT),
       CAST(SUM(k_in) AS BIGINT),
       ROUND(CAST(SUM(w_in) AS DOUBLE) / CAST(ANY_VALUE(tw) AS DOUBLE)
             - CAST(SUM(CAST(k_out AS DECIMAL(19,0))
                        * CAST(k_in AS DECIMAL(19,0))) AS DOUBLE)
               / (CAST(ANY_VALUE(tw) AS DOUBLE) * CAST(ANY_VALUE(tw) AS DOUBLE)),
             6)
FROM per CROSS JOIN W
""",
)
def nation_trade_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity Q of the region partition over the
    supplier->customer nation trade graph, per-region contributions
    plus a region_key=-1 total recomputed from exact integers."""
    return R.nation_trade_modularity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


# --------------------------------------------------------------------------
# Wave 158 (round 2): isotonic calibration — PAV as a bounded minimax grid.
# --------------------------------------------------------------------------


@query(
    "orders_isotonic_calibration",
    f"""
WITH rng AS (
  SELECT MIN(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)) AS lo,
         MAX(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)) AS hi
  FROM orders
),
scored AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS y,
         lo, hi
  FROM orders CROSS JOIN rng
),
per AS (
  SELECT CAST(LEAST(((c - lo) * {R.CALIBRATION_BINS}) // (hi - lo + 1),
                    {R.CALIBRATION_BINS - 1}) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
  FROM scored GROUP BY 1
),
pre AS (
  SELECT bin, n, p,
         SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         SUM(p) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
  FROM per
),
ranges AS (
  SELECT a.bin AS k, c.bin AS j,
         CAST(c.cp - (a.cp - a.p) AS DOUBLE)
           / CAST(c.cn - (a.cn - a.n) AS DOUBLE) AS m
  FROM pre a JOIN pre c ON a.bin <= c.bin
),
inner_ AS (
  SELECT r.k, i.bin AS i, MIN(r.m) AS mn
  FROM ranges r JOIN pre i ON r.k <= i.bin AND i.bin <= r.j
  GROUP BY r.k, i.bin
),
fitted AS (SELECT i, MAX(mn) AS iso FROM inner_ GROUP BY i)
SELECT per.bin, per.n, per.p AS n_pos,
       ROUND(CAST(per.p AS DOUBLE) / CAST(per.n AS DOUBLE), 6) AS raw_rate,
       ROUND(iso, 6) AS iso_rate
FROM per JOIN fitted ON per.bin = fitted.i
""",
)
def orders_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone isotonic fit to the per-bin positive rates via the
    minimax identity (PAV without the serial stack), on the fixed
    calibration-bin grid."""
    return R.isotonic_calibration(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 159 (round 2): split-conformal forecast interval — distribution-free
# band around the OLS revenue forecast.
# --------------------------------------------------------------------------


@query(
    "orders_conformal_forecast",
    f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
),
idx AS (
  SELECT a.m, a.y, CAST(COUNT(*) AS BIGINT) AS t
  FROM monthly a JOIN monthly b ON b.m <= a.m
  GROUP BY a.m, a.y
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM idx),
targets AS (
  SELECT t AS tt, y AS yt FROM idx CROSS JOIN n
  WHERE t > nn - {R.CONFORMAL_H}
),
sums AS (
  SELECT tt, yt, CAST(COUNT(*) AS BIGINT) AS nn2,
         SUM(tp.t) AS st, SUM(tp.t * tp.t) AS stt, SUM(tp.y) AS sy,
         SUM(CAST(tp.t * tp.y AS DECIMAL(38,2))) AS sty
  FROM targets JOIN idx tp ON tp.t < targets.tt
  GROUP BY tt, yt
),
resid AS (
  SELECT ROUND(ABS(CAST(yt AS DOUBLE)
    - ((CAST(sy AS DOUBLE)
        - (CAST(nn2 * sty - st * sy AS DOUBLE)
           / CAST(nn2 * stt - st * st AS DOUBLE)) * CAST(st AS DOUBLE))
       / CAST(nn2 AS DOUBLE)
       + (CAST(nn2 * sty - st * sy AS DOUBLE)
          / CAST(nn2 * stt - st * st AS DOUBLE)) * CAST(tt AS DOUBLE))), 6)
    AS e
  FROM sums
),
q AS (
  SELECT list_sort(list(e))[18] AS q_hat,
         CAST(COUNT(*) AS BIGINT) AS h_backtest
  FROM resid
),
full_ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn2, SUM(t) AS st, SUM(t * t) AS stt,
         SUM(y) AS sy, SUM(CAST(t * y AS DECIMAL(38,2))) AS sty
  FROM idx
),
fc AS (
  SELECT ROUND((CAST(sy AS DOUBLE)
        - (CAST(nn2 * sty - st * sy AS DOUBLE)
           / CAST(nn2 * stt - st * st AS DOUBLE)) * CAST(st AS DOUBLE))
       / CAST(nn2 AS DOUBLE)
       + (CAST(nn2 * sty - st * sy AS DOUBLE)
          / CAST(nn2 * stt - st * st AS DOUBLE)) * CAST(nn2 + 1 AS DOUBLE), 6)
    AS forecast_next
  FROM full_
)
SELECT h_backtest, CAST(0.9 AS DOUBLE) AS q_level,
       ROUND(q_hat, 6) AS q_hat, forecast_next,
       ROUND(forecast_next - q_hat, 6) AS lo,
       ROUND(forecast_next + q_hat, 6) AS hi
FROM fc CROSS JOIN q
""",
)
def orders_conformal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval for next month's revenue: the
    ceil((H+1)*0.9)-th smallest one-step backtest |residual| is the
    band half-width — finite-sample valid with no error-distribution
    assumption."""
    return R.conformal_forecast(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 160 (round 2): token-bucket rate-limit replay — who would a proposed
# quota policy throttle?
# --------------------------------------------------------------------------


@query(
    "events_rate_limit_audit",
    """
WITH per AS (
  SELECT user_id,
         list([CAST(FLOOR(epoch(ts)) AS BIGINT), event_id]
              ORDER BY FLOOR(epoch(ts)), event_id) AS evs,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
folded AS (
  SELECT user_id, n_events,
         list_reduce(
           list_prepend([CAST(3 AS BIGINT), evs[1][1],
                         CAST(0 AS BIGINT), CAST(0 AS BIGINT)], evs),
           (acc, e) -> CASE
             WHEN least(3, acc[1] + (e[1] - acc[2]) // 600) >= 1
             THEN [least(3, acc[1] + (e[1] - acc[2]) // 600) - 1,
                   CASE WHEN least(3, acc[1] + (e[1] - acc[2]) // 600)
                             = 3
                        THEN e[1]
                        ELSE acc[2] + ((e[1] - acc[2]) // 600) * 600 END,
                   acc[3] + 1, acc[4]]
             ELSE [least(3, acc[1] + (e[1] - acc[2]) // 600),
                   CASE WHEN least(3, acc[1] + (e[1] - acc[2]) // 600)
                             = 3
                        THEN e[1]
                        ELSE acc[2] + ((e[1] - acc[2]) // 600) * 600 END,
                   acc[3], acc[4] + 1] END) AS st
  FROM per
)
SELECT user_id, n_events, st[3] AS n_admitted, st[4] AS n_rejected,
       ROUND(CAST(st[4] AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
         AS rejected_share
FROM folded
""",
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user token-bucket replay (3 tokens, one per 600s):
    admitted/rejected counts under the proposed quota — exact-integer
    fold, identical admission order in both engines."""
    return E.rate_limit_audit(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 161 (round 2): Neyman allocation — how many docs each source should
# contribute to a fixed eval-sample budget.
# --------------------------------------------------------------------------


@query(
    "sample_neyman_allocation",
    f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(n_chars * n_chars) AS DECIMAL(38,0)) AS sxx
  FROM documents GROUP BY source
),
scored AS (
  SELECT source, n_docs,
         ROUND(SQRT(GREATEST(COALESCE((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n_docs AS DOUBLE))
                    / NULLIF(CAST(n_docs AS DOUBLE) - 1.0, 0.0), 0.0), 0.0)), 6) AS sd_chars,
         CAST(ROUND(CAST(n_docs AS DOUBLE)
                    * SQRT(GREATEST(COALESCE((CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                              / CAST(n_docs AS DOUBLE))
                           / NULLIF(CAST(n_docs AS DOUBLE) - 1.0, 0.0), 0.0), 0.0)), 4)
              AS DECIMAL(28,4)) AS term
  FROM per
),
tot AS (SELECT SUM(term) AS D, CAST(SUM(n_docs) AS BIGINT) AS N FROM scored),
alloc AS (
  SELECT source, n_docs, sd_chars,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(FLOOR(COALESCE({CU.NEYMAN_BUDGET}.0 * CAST(term AS DOUBLE)
                             / NULLIF(CAST(D AS DOUBLE), 0.0), 0.0)) AS BIGINT)) AS alloc_neyman,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(FLOOR({CU.NEYMAN_BUDGET}.0 * CAST(n_docs AS DOUBLE)
                             / CAST(N AS DOUBLE)) AS BIGINT)) AS alloc_prop,
         CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE) AS w
  FROM scored CROSS JOIN tot
)
SELECT source, n_docs, sd_chars, alloc_neyman, alloc_prop,
       CAST(NULL AS DOUBLE) AS var_prop, CAST(NULL AS DOUBLE) AS var_neyman,
       CAST(NULL AS DOUBLE) AS efficiency
FROM alloc
UNION ALL
SELECT '__total__', CAST(SUM(n_docs) AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(SUM(alloc_neyman) AS BIGINT), CAST(SUM(alloc_prop) AS BIGINT),
       ROUND(CAST(SUM(CAST(ROUND(w * w * sd_chars * sd_chars
                                 / CAST(alloc_prop AS DOUBLE), 9)
                           AS DECIMAL(28,9))) AS DOUBLE), 6),
       ROUND(CAST(SUM(CAST(ROUND(w * w * sd_chars * sd_chars
                                 / CAST(alloc_neyman AS DOUBLE), 9)
                           AS DECIMAL(28,9))) AS DOUBLE), 6),
       ROUND(CAST(SUM(CAST(ROUND(w * w * sd_chars * sd_chars
                                 / CAST(alloc_prop AS DOUBLE), 9)
                           AS DECIMAL(28,9))) AS DOUBLE)
             / NULLIF(CAST(SUM(CAST(ROUND(w * w * sd_chars * sd_chars
                                   / CAST(alloc_neyman AS DOUBLE), 9)
                             AS DECIMAL(28,9))) AS DOUBLE), 0.0), 6)
FROM alloc
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Neyman vs proportional sample allocation for a
    {CU.NEYMAN_BUDGET}-doc budget, with stratified-mean variances and
    the efficiency ratio on the __total__ row."""
    return CU.neyman_allocation(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 162 (round 2): empirical-Bayes shrinkage — the small-sample repair
# for per-part return-rate rankings.
# --------------------------------------------------------------------------


@query(
    "part_return_rate_shrunk",
    f"""
WITH per AS (
  SELECT l_partkey AS part_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS ret
  FROM lineitem GROUP BY 1
),
rated AS (
  SELECT part_id, n, ret,
         ROUND(CAST(ret AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate
  FROM per
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS K,
         SUM(CAST(raw_rate AS DECIMAL(18,6))) AS sm,
         SUM(CAST(ROUND(raw_rate * raw_rate, 12) AS DECIMAL(20,12))) AS sm2
  FROM rated
),
scored AS (
  SELECT part_id, n, ret, raw_rate,
         ROUND((CAST(ret AS DOUBLE)
                + GREATEST(1.0, COALESCE((CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                    * (1.0 - CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                    / NULLIF(((CAST(sm2 AS DOUBLE)
                        - CAST(K AS DOUBLE)
                          * (CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                          * (CAST(sm AS DOUBLE) / CAST(K AS DOUBLE)))
                       / (CAST(K AS DOUBLE) - 1.0)), 0.0) - 1.0, 1.0e12))
                  * (CAST(sm AS DOUBLE) / CAST(K AS DOUBLE)))
               / (CAST(n AS DOUBLE)
                  + GREATEST(1.0, COALESCE((CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                      * (1.0 - CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                      / NULLIF(((CAST(sm2 AS DOUBLE)
                          - CAST(K AS DOUBLE)
                            * (CAST(sm AS DOUBLE) / CAST(K AS DOUBLE))
                            * (CAST(sm AS DOUBLE) / CAST(K AS DOUBLE)))
                         / (CAST(K AS DOUBLE) - 1.0)), 0.0) - 1.0, 1.0e12))), 6)
           AS shrunk_rate
  FROM rated CROSS JOIN stats
)
SELECT part_id, n, ret, raw_rate, shrunk_rate,
       ROUND(ABS(shrunk_rate - raw_rate), 6) AS shrink_delta
FROM scored
ORDER BY shrink_delta DESC, part_id ASC
LIMIT {R.EB_TOPK}
""",
)
def part_return_rate_shrunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial moment-matched shrinkage of per-part return
    rates; the {R.EB_TOPK} parts the prior moves most."""
    return R.return_rate_shrunk(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 163 (round 2): dynamic partition pruning — the dim filter reaches the
# fact scan's partition filters at runtime.
# --------------------------------------------------------------------------


@query(
    "dpp_prune_join",
    """
SELECT CAST(year(o_orderdate) AS VARCHAR) || 'Q'
         || CAST((month(o_orderdate) - 1) // 3 + 1 AS VARCHAR) AS quarter,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue
FROM orders
WHERE year(o_orderdate) = 1995 AND month(o_orderdate) <= 3
GROUP BY 1
""",
)
def dpp_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING end to end: orders written partitioned
    by month, then joined to an unpartitioned month->quarter dim with
    the selective predicate on the DIM side — Catalyst plants a
    dynamicpruning#N subquery into the fact scan's PartitionFilters
    (asserted in tests/test_plans.py), so only the three 1995Q1
    month directories are read at runtime.  The static sibling is
    partitioned_write_prune (literal predicate); this is the join-
    driven case that matters for star schemas at 100 TB.  Oracle
    recomputes from the unpartitioned base table.  The partitioned
    copy is written once per session, so a session never joins the
    copy another fixture of the same name left behind."""
    path = scratch_path("orders_by_month", sf_dir)

    def write() -> DataFrame:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(path)
        )
        return spark.read.parquet(path)

    fact = session_cached(spark, sf_dir, "orders_by_month", write)
    dim = local_frame(
        spark,
        [
            (f"{y}-{m:02d}", f"{y}Q{(m - 1) // 3 + 1}")
            for y in range(1992, 1999)
            for m in range(1, 13)
        ],
        "d_month string, d_quarter string",
    )
    return (
        fact.join(F.broadcast(dim), fact.o_month == dim.d_month)
        .filter(F.col("d_quarter") == "1995Q1")
        .groupBy(F.col("d_quarter").alias("quarter"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Wave 164 (round 2): rank statistics — Spearman rho and Kruskal-Wallis H
# on tie-averaged global ranks (scale-safe avg_rank2, no single-partition
# window).
# --------------------------------------------------------------------------


@query(
    "lineitem_spearman_corr",
    """
WITH base AS (
  SELECT l_orderkey AS k1, l_linenumber AS k2,
         l_quantity AS q, l_extendedprice AS p
  FROM lineitem
),
rr AS (
  SELECT q, p,
         2 * RANK() OVER (ORDER BY q) + COUNT(*) OVER (PARTITION BY q) - 1
           AS ax,
         2 * RANK() OVER (ORDER BY p) + COUNT(*) OVER (PARTITION BY p) - 1
           AS ay
  FROM base
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ax AS DECIMAL(38,0))) AS sx,
         SUM(CAST(ay AS DECIMAL(38,0))) AS sy,
         SUM(CAST(ax * ax AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(ay * ay AS DECIMAL(38,0))) AS syy,
         SUM(CAST(ax * ay AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(q AS DECIMAL(15,2))) AS sq,
         SUM(CAST(p AS DECIMAL(15,2))) AS sp,
         SUM(CAST(q AS DECIMAL(15,2)) * CAST(q AS DECIMAL(15,2))) AS sqq,
         SUM(CAST(p AS DECIMAL(15,2)) * CAST(p AS DECIMAL(15,2))) AS spp,
         SUM(CAST(q AS DECIMAL(15,2)) * CAST(p AS DECIMAL(15,2))) AS sqp
  FROM rr
)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                      0.0), 6) + 0.0 AS spearman_rho,
       ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      * SQRT(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                             - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)),
                      0.0), 6) + 0.0 AS pearson_r
FROM s
""",
)
def lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho (tie-averaged ranks) vs Pearson r for quantity x
    extendedprice; doubled ranks exact, DECIMAL moment sums."""
    return R.spearman_quantity_price(load_table(spark, sf_dir, "lineitem"))


@query(
    "orders_kruskal_wallis",
    """
WITH ranked AS (
  SELECT o_orderpriority AS priority, o_totalprice AS v,
         2 * RANK() OVER (ORDER BY o_totalprice)
           + COUNT(*) OVER (PARTITION BY o_totalprice) - 1 AS a2
  FROM orders
),
groups AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_g,
         SUM(CAST(a2 AS DECIMAL(38,0))) AS r2_g
  FROM ranked GROUP BY 1
),
terms AS (
  SELECT n_g,
         CAST(ROUND((CAST(r2_g AS DOUBLE) / 2.0)
                    * (CAST(r2_g AS DOUBLE) / 2.0)
                    / CAST(n_g AS DOUBLE), 3) AS DECIMAL(30,3)) AS term
  FROM groups
),
hs AS (
  SELECT SUM(term) AS sum_terms, CAST(SUM(n_g) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS INT) AS k
  FROM terms
),
ties AS (
  SELECT SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS tie3
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ranked GROUP BY v)
),
raw AS (
  SELECT n_total, k,
         12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
           * CAST(sum_terms AS DOUBLE)
           - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h,
         1.0 - CAST(tie3 AS DOUBLE)
           / NULLIF(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                      * CAST(n_total AS DOUBLE)
                    - CAST(n_total AS DOUBLE), 0.0) AS corr
  FROM hs CROSS JOIN ties
),
gstats AS (
  SELECT n_total, CAST(k - 1 AS INT) AS df,
         ROUND(h, 6) + 0.0 AS h_stat,
         ROUND(h / NULLIF(corr, 0.0), 6) + 0.0 AS h_tie_corrected
  FROM raw
)
SELECT priority, n_g,
       ROUND(CAST(r2_g AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE)), 6) + 0.0
         AS mean_rank,
       n_total, df, h_stat, h_tie_corrected
FROM groups CROSS JOIN gstats
ORDER BY priority
""",
)
def orders_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (tie-corrected) of o_totalprice across the 5
    order priorities, from scale-safe tie-averaged ranks."""
    return R.kruskal_wallis_priority(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 165 (round 2): exact 1-D Wasserstein drift between yearly price
# distributions on the prefix_fold primitive.
# --------------------------------------------------------------------------


@query(
    "orders_wasserstein_drift",
    """
WITH base AS (
  SELECT year(o_orderdate) AS yr, CAST(o_totalprice AS DECIMAL(15,2)) AS v
  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
),
counts AS (
  SELECT v,
         CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM base GROUP BY v
),
cdf AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v) AS ca_cum,
         SUM(cb) OVER (ORDER BY v) AS cb_cum,
         LEAD(v) OVER (ORDER BY v) AS v_next
  FROM counts
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         MIN(v) AS vmin, MAX(v) AS vmax
  FROM counts
),
terms AS (
  SELECT CAST(ROUND(ABS(CAST(ca_cum AS DOUBLE) / NULLIF(CAST(na AS DOUBLE), 0.0)
                        - CAST(cb_cum AS DOUBLE) / NULLIF(CAST(nb AS DOUBLE), 0.0))
                    * CAST(v_next - v AS DOUBLE), 9) AS DECIMAL(25,9)) AS term
  FROM cdf CROSS JOIN tot
  WHERE v_next IS NOT NULL
),
s AS (SELECT SUM(term) AS s FROM terms)
SELECT 1996 AS year_a, 1997 AS year_b, na, nb,
       ROUND(CAST(s AS DOUBLE), 6) + 0.0 AS w1,
       ROUND(CAST(s AS DOUBLE) / NULLIF(CAST(vmax - vmin AS DOUBLE), 0.0), 6)
         + 0.0 AS w1_norm
FROM s CROSS JOIN tot
""",
)
def orders_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact earth-mover distance between 1994 and 1995 order-value
    distributions; prefix_fold two-phase pass, DECIMAL term sums."""
    return R.wasserstein_price_drift(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 166 (round 2): closed-form multiple OLS from DECIMAL power sums.
# --------------------------------------------------------------------------


@query(
    "lineitem_ols_price_model",
    """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sq,
         SUM(CAST(l_discount AS DECIMAL(15,2))) AS sd,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS sp,
         SUM(CAST(l_quantity AS DECIMAL(15,2))
             * CAST(l_quantity AS DECIMAL(15,2))) AS sqq,
         SUM(CAST(l_discount AS DECIMAL(15,2))
             * CAST(l_discount AS DECIMAL(15,2))) AS sdd,
         SUM(CAST(l_quantity AS DECIMAL(15,2))
             * CAST(l_discount AS DECIMAL(15,2))) AS sqd,
         SUM(CAST(l_quantity AS DECIMAL(15,2))
             * CAST(l_extendedprice AS DECIMAL(15,2))) AS sqp,
         SUM(CAST(l_discount AS DECIMAL(15,2))
             * CAST(l_extendedprice AS DECIMAL(15,2))) AS sdp,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))
             * CAST(l_extendedprice AS DECIMAL(15,2))) AS spp
  FROM lineitem
),
d AS (
  SELECT n, CAST(n AS DOUBLE) AS nn,
         CAST(sq AS DOUBLE) AS sqv, CAST(sd AS DOUBLE) AS sdv,
         CAST(sp AS DOUBLE) AS spv, CAST(sqq AS DOUBLE) AS sqqv,
         CAST(sdd AS DOUBLE) AS sddv, CAST(sqd AS DOUBLE) AS sqdv,
         CAST(sqp AS DOUBLE) AS sqpv, CAST(sdp AS DOUBLE) AS sdpv,
         CAST(spp AS DOUBLE) AS sppv
  FROM s
),
dets AS (
  SELECT n, nn, spv, sqpv, sdpv, sppv,
         nn * (sqqv * sddv - sqdv * sqdv)
           - sqv * (sqv * sddv - sqdv * sdv)
           + sdv * (sqv * sqdv - sqqv * sdv) AS det,
         spv * (sqqv * sddv - sqdv * sqdv)
           - sqv * (sqpv * sddv - sqdv * sdpv)
           + sdv * (sqpv * sqdv - sqqv * sdpv) AS det0,
         nn * (sqpv * sddv - sqdv * sdpv)
           - spv * (sqv * sddv - sqdv * sdv)
           + sdv * (sqv * sdpv - sqpv * sdv) AS det1,
         nn * (sqqv * sdpv - sqpv * sqdv)
           - sqv * (sqv * sdpv - sqpv * sdv)
           + spv * (sqv * sqdv - sqqv * sdv) AS det2
  FROM d
),
betas AS (
  SELECT n, nn, spv, sqpv, sdpv, sppv,
         det0 / NULLIF(det, 0.0) AS b0,
         det1 / NULLIF(det, 0.0) AS b1,
         det2 / NULLIF(det, 0.0) AS b2
  FROM dets
)
SELECT n,
       ROUND(b0, 6) + 0.0 AS b0_intercept,
       ROUND(b1, 6) + 0.0 AS b1_quantity,
       ROUND(b2, 6) + 0.0 AS b2_discount,
       ROUND(1.0 - (sppv - b0 * spv - b1 * sqpv - b2 * sdpv)
                   / NULLIF(sppv - spv * spv / nn, 0.0), 6) + 0.0 AS r2
FROM betas
""",
)
def lineitem_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS extendedprice ~ 1 + quantity + discount via
    Cramer's rule on DECIMAL-exact normal equations; one scan."""
    return R.ols_price_model(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 167 (round 2): Benjamini-Hochberg FDR over per-type weekend-shift
# z-tests — multiple-testing control as a first-class operator.
# --------------------------------------------------------------------------


@query(
    "events_fdr_bh",
    f"""
WITH per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
              AS BIGINT) AS nw
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(nw) AS BIGINT) AS tnw,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM per
),
tested AS (
  SELECT event_type, n, m,
         ROUND(CAST(nw AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
           AS weekend_share,
         ROUND((CAST(nw AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
               / NULLIF(SQRT((CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
                             * (1.0 - CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
                             / CAST(n AS DOUBLE)), 0.0), 6) + 0.0 AS z_score,
         ABS((CAST(nw AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
             / NULLIF(SQRT((CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
                           * (1.0 - CAST(tnw AS DOUBLE) / CAST(tn AS DOUBLE))
                           / CAST(n AS DOUBLE)), 0.0)) AS az
  FROM per CROSS JOIN tot
),
pvals AS (
  SELECT event_type, n, m, weekend_share, z_score,
         ROUND(LEAST(1.0,
             2.0 * (0.3989422804014327 * EXP(-(az * az) / 2.0))
                 * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * az))
                        - 1.821255978) * (1.0 / (1.0 + 0.2316419 * az))
                       + 1.781477937) * (1.0 / (1.0 + 0.2316419 * az))
                      - 0.356563782) * (1.0 / (1.0 + 0.2316419 * az))
                     + 0.319381530) * (1.0 / (1.0 + 0.2316419 * az)))), 9)
           AS p9
  FROM tested
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p9 ASC, event_type ASC)
                 AS BIGINT) AS bh_rank
  FROM pvals
),
flagged AS (
  SELECT *,
         CAST(bh_rank AS DOUBLE) * {E.FDR_Q} / CAST(m AS DOUBLE) AS thr
  FROM ranked
),
ks AS (
  SELECT COALESCE(MAX(CASE WHEN p9 <= thr THEN bh_rank END), 0) AS kstar
  FROM flagged
)
SELECT event_type, n, weekend_share, z_score,
       p9 + 0.0 AS p_value,
       CAST(bh_rank AS INT) AS bh_rank,
       ROUND(thr, 6) + 0.0 AS bh_threshold,
       CAST(CASE WHEN bh_rank <= kstar THEN 1 ELSE 0 END AS INT) AS discovery
FROM flagged CROSS JOIN ks
ORDER BY bh_rank
""",
)
def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type weekend-shift z-tests with Benjamini-Hochberg step-up
    at FDR q=FDR_Q — multiple-testing control, rank machinery
    scale-safe via ranked_global."""
    return E.fdr_weekend_shift(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 168 (round 2): robust location/scale — MAD modified z-scores and the
# Brown-Forsythe equality-of-variances test, both on exact grouped medians.
# --------------------------------------------------------------------------


@query(
    "orders_mad_outliers",
    f"""
WITH med AS (
  SELECT o_orderpriority, median(CAST(o_totalprice AS DOUBLE)) AS med_g
  FROM orders GROUP BY 1
),
j AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med_g
  FROM orders o JOIN med m USING (o_orderpriority)
),
mad AS (
  SELECT o_orderpriority,
         median(ABS(CAST(o_totalprice AS DOUBLE) - med_g)) AS mad_g
  FROM j GROUP BY 1
),
z AS (
  SELECT j.o_orderkey, j.o_orderpriority AS priority,
         CAST(j.o_totalprice AS DECIMAL(15,2)) AS o_totalprice,
         ROUND(j.med_g, 6) + 0.0 AS group_median,
         ROUND(0.6745 * ((CAST(j.o_totalprice AS DOUBLE) - j.med_g)
                         / NULLIF(m2.mad_g, 0.0)), 6) + 0.0 AS robust_z
  FROM j JOIN mad m2 USING (o_orderpriority)
)
SELECT o_orderkey, priority,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       group_median, robust_z,
       CAST(CASE WHEN ABS(robust_z) > {R.MAD_FLAG_Z} THEN 1 ELSE 0 END AS INT)
         AS is_outlier
FROM z
WHERE robust_z IS NOT NULL
ORDER BY ABS(robust_z) DESC, o_orderkey ASC
LIMIT {R.MAD_TOPK}
""",
)
def orders_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-scores per priority with the 3.5 flag —
    the 50%-breakdown robust sibling of the stddev z-screen."""
    return finalize_double(
        R.robust_price_outliers(load_table(spark, sf_dir, "orders")),
        "o_totalprice",
    )


@query(
    "orders_brown_forsythe",
    """
WITH med AS (
  SELECT o_orderpriority, median(CAST(o_totalprice AS DOUBLE)) AS med_g
  FROM orders GROUP BY 1
),
zs AS (
  SELECT o.o_orderpriority AS priority, m.med_g,
         CAST(ROUND(ABS(CAST(o.o_totalprice AS DOUBLE) - m.med_g), 6)
              AS DECIMAL(18,6)) AS z
  FROM orders o JOIN med m USING (o_orderpriority)
),
groups AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_g,
         ANY_VALUE(med_g) AS med_g, SUM(z) AS sz,
         SUM(CAST(ROUND(CAST(z AS DOUBLE) * CAST(z AS DOUBLE), 6)
                  AS DECIMAL(28,6))) AS szz
  FROM zs GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n_total, SUM(sz) AS tsz,
         CAST(COUNT(*) AS INT) AS k
  FROM groups
),
terms AS (
  SELECT n_total, k,
         CAST(ROUND(CAST(n_g AS DOUBLE)
                    * (CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE)
                       - CAST(tsz AS DOUBLE) / CAST(n_total AS DOUBLE))
                    * (CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE)
                       - CAST(tsz AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
              AS DECIMAL(28,6)) AS ssb_t,
         CAST(ROUND(CAST(szz AS DOUBLE)
                    - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                      / CAST(n_g AS DOUBLE), 6) AS DECIMAL(28,6)) AS ssw_t
  FROM groups CROSS JOIN tot
),
fstat AS (
  SELECT n_total, k, SUM(ssb_t) AS ssb, SUM(ssw_t) AS ssw
  FROM terms GROUP BY 1, 2
),
fglob AS (
  SELECT n_total, CAST(k - 1 AS INT) AS df1,
         CAST(n_total - k AS BIGINT) AS df2,
         ROUND((CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
               / NULLIF(CAST(ssw AS DOUBLE)
                        / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE)), 0.0),
               6) + 0.0 AS f_stat
  FROM fstat
)
SELECT priority, n_g, ROUND(med_g, 6) + 0.0 AS group_median,
       ROUND(CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE), 6) + 0.0
         AS mean_absdev,
       n_total, df1, df2, f_stat
FROM groups CROSS JOIN fglob
ORDER BY priority
""",
)
def orders_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) equality-of-variances F
    across priorities — the premise check under any pooled-variance
    ANOVA."""
    return R.brown_forsythe_priority(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 169 (round 2): Mann-Kendall monotone-trend test on the month table.
# --------------------------------------------------------------------------


@query(
    "orders_mann_kendall",
    """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(SUM(CAST(SIGN(CAST(b.rev - a.rev AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS s_stat
  FROM m a JOIN m b ON a.month < b.month
),
ties AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS t3
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY rev)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM m),
raw AS (
  SELECT n_months, s_stat,
         (CAST(n_months AS DOUBLE) * (CAST(n_months AS DOUBLE) - 1.0)
          * (2.0 * CAST(n_months AS DOUBLE) + 5.0)
          - CAST(t3 AS DOUBLE)) / 18.0 AS var_s
  FROM n CROSS JOIN s CROSS JOIN ties
)
SELECT n_months, s_stat,
       ROUND(var_s, 6) + 0.0 AS var_s,
       ROUND(CASE WHEN s_stat > 0
                    THEN (CAST(s_stat AS DOUBLE) - 1.0) / SQRT(var_s)
                  WHEN s_stat < 0
                    THEN (CAST(s_stat AS DOUBLE) + 1.0) / SQRT(var_s)
                  ELSE 0.0 END, 6) + 0.0 AS z_score,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM raw
""",
)
def orders_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Kendall trend test on monthly revenue — the
    significance verdict beside Theil-Sen's slope."""
    return R.mann_kendall_trend(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 170 (round 2): Heaps-law vocabulary-growth fit along the doc axis.
# --------------------------------------------------------------------------


@query(
    "vocab_heaps_law",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_TK_SQL}) AS token FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks GROUP BY 1
),
firsts AS (
  SELECT token, MIN(doc_id) AS doc_id FROM toks GROUP BY 1
),
news AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_terms FROM firsts GROUP BY 1
),
axis AS (
  SELECT p.doc_id, p.n_toks, COALESCE(n.new_terms, 0) AS new_terms
  FROM per_doc p LEFT JOIN news n USING (doc_id)
),
cdf AS (
  SELECT doc_id,
         SUM(n_toks) OVER (ORDER BY doc_id) AS nc,
         SUM(new_terms) OVER (ORDER BY doc_id) AS vc
  FROM axis
),
pts AS (
  SELECT CAST(ROUND(ln(CAST(nc AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
         CAST(ROUND(ln(CAST(vc AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ly
  FROM cdf WHERE nc > 0 AND vc > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx, SUM(ly * ly) AS syy
  FROM pts
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS total_tokens
  FROM per_doc
),
voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM firsts),
raw AS (
  -- decimal -> double through VARCHAR: the product sums are
  -- DECIMAL(38,18) with significands beyond 2^53 and DuckDB's direct
  -- cast can be 1 ulp off Spark's correctly-rounded BigDecimal cast
  -- (the nation_gravity_model failure class, round 5); strtod on the
  -- exact digit string is correctly rounded in both engines
  SELECT n_docs, total_tokens, vocab_size,
         CAST(n AS DOUBLE) AS nd,
         CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
         CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
  FROM tot CROSS JOIN voc CROSS JOIN s
),
fit AS (
  SELECT n_docs, total_tokens, vocab_size, nd, sxd, syd,
         nd * sxyd - sxd * syd AS num,
         nd * sxxd - sxd * sxd AS denx,
         nd * syyd - syd * syd AS deny
  FROM raw
)
SELECT n_docs, total_tokens, vocab_size,
       ROUND(EXP((syd - (num / NULLIF(denx, 0.0)) * sxd) / nd), 6) + 0.0
         AS heaps_k,
       ROUND(num / NULLIF(denx, 0.0), 6) + 0.0 AS heaps_beta,
       ROUND(num * num / NULLIF(denx * deny, 0.0), 6) + 0.0 AS r2
FROM fit
""",
)
def vocab_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law K*N^beta vocabulary-growth fit: first-occurrence
    cumulative counts from one prefix_fold pass, log-log OLS on
    9dp-rounded DECIMAL sums."""
    return T.heaps_law_fit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 171 (round 2): runtime bloom-filter join — pre-shuffle fact pruning
# from a selective dim predicate.
# --------------------------------------------------------------------------


@query(
    "bloom_filter_join",
    f"""
SELECT l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(15,2))
                   - CAST(l_discount AS DECIMAL(15,2)))) AS DECIMAL(38,4))
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_totalprice > {R.BLOOM_JOIN_MIN_PRICE}
GROUP BY 1
ORDER BY 1
""",
)
def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER JOIN: the selective urgent-order predicate
    becomes an injected BloomFilterAggregate on the build side and a
    bloom_filter_might_contain probe under the lineitem scan — rows
    that cannot match are dropped BEFORE the shuffle, the biggest
    exchange-volume lever for selective star joins at 100 TB (the
    non-partition-key sibling of dpp_prune_join).

    Spark only injects for genuine shuffle joins (a broadcastable
    build side already avoids the fact shuffle), so at test scale the
    query runs in an ISOLATED spark.newSession() — same SparkContext,
    private SQLConf — with auto-broadcast off and the scan-size
    threshold floored there alone; no other query's plans change.  At
    cluster scale the 10 MB / 10 GB defaults make the same decision
    organically.  Join semantics are untouched (the oracle is the
    plain join); tests/test_plans.py asserts the probe is planted."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    orders = load_table(s2, sf_dir, "orders")
    lineitem = load_table(s2, sf_dir, "lineitem")
    sel = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > F.lit(R.BLOOM_JOIN_MIN_PRICE))
    ).select("o_orderkey")
    return (
        lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(15,2)")
                * (
                    F.lit(1).cast("decimal(15,2)")
                    - F.col("l_discount").cast("decimal(15,2)")
                )
            )
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# Wave 172 (round 2): Observation API — zero-extra-pass data-quality
# metrics on the workload's own scan.
# --------------------------------------------------------------------------


@query(
    "observed_scan_metrics",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_prices,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS max_price,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS priority_groups
FROM orders
""",
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe data-quality metrics riding the revenue workload's
    single scan — no second pass over the table."""
    return finalize_double(
        R.observed_quality_metrics(load_table(spark, sf_dir, "orders")),
        "min_price", "max_price",
    )


# --------------------------------------------------------------------------
# Wave 173 (round 2): Holt-Winters additive seasonal smoothing with a
# rotating seasonal-state array (no indexed writes in the fold).
# --------------------------------------------------------------------------

_HW_A = repr(R.HW_ALPHA)
_HW_OMA = repr(1 - R.HW_ALPHA)
_HW_B = repr(R.HW_BETA)
_HW_OMB = repr(1 - R.HW_BETA)
_HW_G = repr(R.HW_GAMMA)
_HW_OMG = repr(1 - R.HW_GAMMA)


@query(
    "orders_holt_winters",
    f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
),
arr AS (
  SELECT list(CAST(y AS DOUBLE) ORDER BY m) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM monthly
),
ini AS (
  SELECT ys, n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:12]),
                     (a, x) -> a + x) / 12.0 AS m1,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[13:24]),
                     (a, x) -> a + x) / 12.0 AS m2
  FROM arr
),
st AS (
  SELECT n,
         list_reduce(
           list_prepend(
             [m1 + 5.5 * ((m2 - m1) / 12.0), (m2 - m1) / 12.0,
              CAST(0.0 AS DOUBLE)]
               || list_transform(range(1, 13),
                                 j -> ys[j] - m1
                                      - (CAST(j AS DOUBLE) - 6.5)
                                        * ((m2 - m1) / 12.0)),
             list_transform(ys[13:], x -> [x])),
           (acc, e) -> [
             {_HW_A} * (e[1] - acc[4]) + {_HW_OMA} * (acc[1] + acc[2]),
             {_HW_B} * (({_HW_A} * (e[1] - acc[4])
                         + {_HW_OMA} * (acc[1] + acc[2])) - acc[1])
               + {_HW_OMB} * acc[2],
             acc[3] + (acc[1] + acc[2] + acc[4] - e[1])
                      * (acc[1] + acc[2] + acc[4] - e[1])
           ] || acc[5:]
             || [{_HW_G} * (e[1] - ({_HW_A} * (e[1] - acc[4])
                                    + {_HW_OMA} * (acc[1] + acc[2])))
                 + {_HW_OMG} * acc[4]]) AS s
  FROM ini
)
SELECT n AS n_months,
       ROUND(s[1], 6) AS level,
       ROUND(s[2], 6) AS trend,
       ROUND(s[3] / CAST(n - 12 AS DOUBLE), 6) AS mse_1step,
       ROUND(s[1] + s[2] + s[4], 6) AS forecast_1m,
       ROUND(list_max(s[4:]) - list_min(s[4:]), 6) AS seasonal_range
FROM st
""",
)
def orders_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive level/trend/12-seasonal smoothing of
    monthly revenue; rotating-head seasonal array fold, bit-identical
    to the oracle's list_reduce."""
    return R.holt_winters_seasonal(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 174 (round 2): AQE skew-join — runtime splitting of a hot shuffle
# partition, the adaptive sibling of the declared salting in
# skew_salted_enrich.
# --------------------------------------------------------------------------


@query(
    "aqe_skew_join",
    """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
              ELSE l_orderkey % 1000 END AS k,
         CAST(l_quantity AS DECIMAL(15,2)) AS qty
  FROM lineitem
)
SELECT CAST(k % 7 AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(qty) AS DECIMAL(38,2)) AS DOUBLE) AS total_qty
FROM fact GROUP BY 1 ORDER BY 1
""",
)
def aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE SKEW JOIN: a deliberately hot key (60% of lineitem rows land
    on k=0) joined to a 1000-row dim as a forced sort-merge join — AQE
    detects the oversized shuffle partition at RUNTIME and splits it
    (SortMergeJoin(skew=true) in the final adaptive plan, asserted in
    tests/test_plans.py), duplicating the matching build rows per
    split.  The adaptive complement to skew_salted_enrich's declared
    salting: same problem, zero query rewrite.

    Isolated spark.newSession(): auto-broadcast off (a 1000-row dim
    would otherwise broadcast and hide the skew) and the skew
    thresholds floored to fire at test scale — production defaults
    (256 MB) make the same call at 100 TB.  Join semantics unchanged:
    the dim covers every key, so the oracle folds band = k % 7
    directly into the fact aggregate."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB"
    )
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    lineitem = load_table(s2, sf_dir, "lineitem")
    # At test scale the whole table is ONE scan task, and AQE splits a
    # skewed reduce partition by MAP-index ranges — one mapper is
    # unsplittable.  The repartition emulates the thousands of map
    # tasks a 100-TB scan produces naturally.
    fact = lineitem.repartition(32).select(
        F.when(F.col("l_orderkey") % 10 < 6, F.lit(0).cast("long"))
        .otherwise(F.col("l_orderkey") % 1000)
        .alias("k"),
        F.col("l_quantity").cast("decimal(15,2)").alias("qty"),
    )
    dim = s2.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("band")
    )
    return (
        fact.join(dim, "k")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # DECIMAL fold internally (exact, order-insensitive); the
            # FINAL column crosses the driver-canon boundary as a
            # double — cent-scaled sums < 2^53, so the decimal->double
            # conversion is exact and engine-identical (r05's one red
            # row was this column as decimal(38,2)).
            F.sum("qty").cast("decimal(38,2)").cast("double")
            .alias("total_qty"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# Wave 175 (round 2): DSIR importance-weighted data selection.
# --------------------------------------------------------------------------


@query(
    "doc_dsir_weights",
    f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TK_SQL}) AS token FROM documents
),
corpus AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY 1
),
target AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM toks
  WHERE lang = '{T.DSIR_TARGET_LANG}' GROUP BY 1
),
vocab AS (
  SELECT c.token, c.cr, COALESCE(t.ct, 0) AS ct
  FROM corpus c LEFT JOIN target t USING (token)
),
tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS r_total,
         CAST(SUM(ct) AS BIGINT) AS t_total,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
ratio AS (
  SELECT token,
         CAST(ROUND(ln(((CAST(ct AS DOUBLE) + 1.0)
                        / (CAST(t_total AS DOUBLE) + CAST(v AS DOUBLE)))
                       / ((CAST(cr AS DOUBLE) + 1.0)
                          / (CAST(r_total AS DOUBLE) + CAST(v AS DOUBLE)))),
                    9) AS DECIMAL(18,9)) AS lr
  FROM vocab CROSS JOIN tot
),
per_doc AS (
  SELECT k.doc_id, k.lang, CAST(COUNT(*) AS BIGINT) AS n_toks,
         SUM(r.lr) AS slr
  FROM toks k JOIN ratio r USING (token)
  WHERE k.lang <> '{T.DSIR_TARGET_LANG}'
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_toks,
       ROUND(CAST(slr AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) + 0.0
         AS dsir_weight
FROM per_doc
ORDER BY dsir_weight DESC, doc_id ASC
LIMIT {T.DSIR_TOPK}
""",
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: mean unigram log p_target/p_raw per
    non-target doc — cheap target-domain data selection."""
    return T.dsir_importance_weights(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 176 (round 2): negative-binomial moment fit — the overdispersion
# companion to the Poisson GOF.
# --------------------------------------------------------------------------


@query(
    "orders_nbinom_fit",
    """
WITH per AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x FROM lineitem GROUP BY 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx
  FROM per
),
raw AS (
  SELECT n_orders,
         CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE) AS m,
         (CAST(sxx AS DOUBLE)
          - CAST(n_orders AS DOUBLE)
            * (CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE))
            * (CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE)))
         / (CAST(n_orders AS DOUBLE) - 1.0) AS v
  FROM s
)
SELECT n_orders,
       ROUND(m, 6) + 0.0 AS mean_lines,
       ROUND(v, 6) + 0.0 AS var_lines,
       ROUND(v / NULLIF(m, 0.0), 6) + 0.0 AS dispersion,
       ROUND(CASE WHEN v > m THEN m * m / NULLIF(v - m, 0.0) END, 6) + 0.0
         AS nb_r,
       ROUND(CASE WHEN v > m THEN m / NULLIF(v, 0.0) END, 6) + 0.0 AS nb_p
FROM raw
""",
)
def orders_nbinom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of lines-per-order with
    the dispersion ratio; NULL fit when under-dispersed."""
    return R.nbinom_lines_fit(load_table(spark, sf_dir, "lineitem"))

