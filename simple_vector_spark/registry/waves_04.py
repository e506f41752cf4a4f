"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import active_session, data_source, load_table, local_frame, scratch_path

from . import _ORACLES, finalize_double, query
from .core_knn import PLANT_MOD, PLANT_SHIFT, _query_vector
from .core_relational import E, R
from .core_dedup import D, _CLUSTER_LABELS_CTES, _DOCS_PLUS_SQL, _TOKS_SQL, _docs_plus_spark, _dup_cluster_labels, _minhash_pairs
from .core_ann import A, ANN_K, ANN_QUERY_ID, T, _mean6_sql
from .core_text import _TK_SQL
from .core_multimodal_streaming import MM
from .waves_03 import _BANDS_SQL, _PACK_SQL



# --------------------------------------------------------------------------
# Wave 63 (round 2): streaming anomaly gate, embedding isotropy, PSI
# drift.
# --------------------------------------------------------------------------


@query("stream_anomaly_zscore", _ORACLES["events_anomaly_zscore"])
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming outlier gate: the event stream scored per micro-batch
    against static per-user (mean, std) baselines — stream-static
    online anomaly detection; availableNow == the batch z-score query
    (same oracle)."""
    from ..streaming.jobs import stream_anomaly_zscore as _job

    return _job(spark, sf_dir)


@query(
    "embedding_isotropy_audit",
    """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
comp AS (
  SELECT i, CAST(ROUND(e[i], 3) AS DECIMAL(12,3)) AS x
  FROM (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM base)
),
dm AS (
  SELECT i, CAST({_mx} AS DECIMAL(18,6)) AS m
  FROM comp GROUP BY i
),
mn AS (
  SELECT SQRT(CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE)) AS mnorm
  FROM dm
),
pn AS (
  SELECT vec_id, CAST(ROUND(SQRT(SUM(x * x)), 6) AS DECIMAL(18,6)) AS nrm
  FROM (SELECT vec_id, unnest(e) AS x FROM base) GROUP BY vec_id
),
an AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(CAST(SUM(nrm) AS VARCHAR) AS DOUBLE) / COUNT(*) AS anorm
  FROM pn
)
SELECT n_vecs, ROUND(mnorm, 6) AS mean_vec_norm,
       ROUND(anorm, 6) AS avg_vec_norm,
       ROUND(mnorm / anorm, 6) AS anisotropy_ratio
FROM an, mn
""".format(_mx=_mean6_sql("SUM(x)", "COUNT(*)")),
)
def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy diagnostic: ||mean vector|| vs average
    vector norm — the collapsed-space check run before trusting cosine
    retrieval; DECIMAL-exact across the shuffle."""
    return A.isotropy_audit(load_table(spark, sf_dir, "embeddings"))


_PSI_P = "GREATEST(n_a / ta, 1e-6)"
_PSI_Q = "GREATEST(n_b / tb, 1e-6)"


@query(
    "orders_psi_drift",
    f"""
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c,
         CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                   AS BIGINT) % 2 AS INT) AS h
  FROM orders
),
rng AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM c),
pb AS (
  SELECT LEAST(((c - lo) * {R.PSI_BINS}) // (hi - lo + 1),
               {R.PSI_BINS - 1}) AS bin,
         SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS n_b
  FROM c, rng GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_a) AS DOUBLE) AS ta, CAST(SUM(n_b) AS DOUBLE) AS tb
  FROM pb
)
SELECT CAST(bin AS INT) AS bin,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND({_PSI_P}, 6) AS share_a,
       ROUND({_PSI_Q}, 6) AS share_b,
       CAST(CAST(ROUND(({_PSI_P} - {_PSI_Q}) * ln({_PSI_P} / {_PSI_Q}), 9)
            AS DECIMAL(20,9)) AS DOUBLE) AS psi_term
FROM pb, tot
""",
)
def orders_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two md5-gated halves
    of the order-value distribution — the model-monitoring shift
    metric, exact-cents bins, rounded-DECIMAL PSI terms."""
    return finalize_double(
        R.psi_drift(load_table(spark, sf_dir, "orders")), "psi_term"
    )


# --------------------------------------------------------------------------
# Wave 64 (round 2): event-time disorder audit (watermark sizing),
# two-sample KS test.
# --------------------------------------------------------------------------


@query(
    "events_disorder_audit",
    """
WITH wm AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
         MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
           OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
           AS wm
  FROM events
),
late AS (SELECT CAST(wm - ts_s AS BIGINT) AS late_s FROM wm)
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS late_share,
       ROUND(quantile_cont(CASE WHEN late_s > 0 THEN late_s END, 0.5), 4)
         AS p50_late_s,
       ROUND(quantile_cont(CASE WHEN late_s > 0 THEN late_s END, 0.95), 4)
         AS p95_late_s,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s
FROM late
""",
)
def events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder vs arrival order — the measurement that
    sizes withWatermark: late-arrival share and p50/p95/max lateness
    against the running event-time max, on the two-phase prefix max
    (no single-partition window)."""
    return E.disorder_audit(load_table(spark, sf_dir, "events"))


@query(
    "lineitem_ks_test",
    f"""
WITH counts AS (
  SELECT CAST(l_quantity AS DECIMAL(10,2)) AS v,
         SUM(CASE WHEN l_returnflag = '{R.KS_GROUPS[0]}' THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN l_returnflag = '{R.KS_GROUPS[1]}' THEN 1 ELSE 0 END) AS c_b
  FROM lineitem WHERE l_returnflag IN ('{R.KS_GROUPS[0]}', '{R.KS_GROUPS[1]}')
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
  FROM counts
),
cum AS (
  SELECT a.v, SUM(b.c_a) AS cum_a, SUM(b.c_b) AS cum_b
  FROM counts a JOIN counts b ON b.v <= a.v GROUP BY a.v
),
diff AS (
  SELECT n_a, n_b,
         ROUND(ABS(CAST(cum_a AS DOUBLE) / n_a
                   - CAST(cum_b AS DOUBLE) / n_b), 6) AS d
  FROM cum, tot
)
SELECT n_a, n_b, MAX(d) AS ks_stat,
       ROUND(1.36 * SQRT(CAST(n_a + n_b AS DOUBLE)
                         / CAST(n_a * n_b AS DOUBLE)), 6) AS crit_5pct,
       MAX(d) > 1.36 * SQRT(CAST(n_a + n_b AS DOUBLE)
                            / CAST(n_a * n_b AS DOUBLE))
         AS reject_same_dist
FROM diff GROUP BY n_a, n_b
""",
)
def lineitem_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test between returnflag
    groups over quantity — distribution-shift testing with a bounded
    value domain; cumulative shares via a broadcast triangle join."""
    return R.ks_two_sample(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 65 (round 2): double-charge screen, KWIC snippets,
# dropDuplicatesWithinWatermark.
# --------------------------------------------------------------------------


@query(
    "orders_double_charge",
    f"""
WITH o AS (
  SELECT o_custkey, o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS c,
         CAST(o_orderdate AS DATE) AS d,
         CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
           // {R.DC_AMOUNT_BUCKET} AS band
  FROM orders
)
SELECT a.o_custkey, a.k AS order_a, b.k AS order_b,
       CAST(abs(a.d - b.d) AS INT) AS day_gap,
       CAST(abs(a.c - b.c) AS BIGINT) AS cents_diff
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band AND a.k < b.k
WHERE abs(a.d - b.d) <= {R.DC_MAX_DAYS}
""",
)
def orders_double_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: same customer, same $1000 amount band,
    within {R.DC_MAX_DAYS} days — blocked self-join, fraud-review
    candidates with day gap and cent difference."""
    return R.double_charge_screen(load_table(spark, sf_dir, "orders"))


@query(
    "text_kwic_snippets",
    f"""
WITH base AS (SELECT doc_id, {_TK_SQL} AS tk FROM documents),
pos AS (
  SELECT doc_id, MIN(i) - 1 AS p
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM base)
  WHERE tk[i] = '{T.KWIC_TERM}' GROUP BY doc_id
)
SELECT b.doc_id, CAST(p AS INT) AS first_pos,
       array_to_string(
         tk[GREATEST(p + 1 - {T.KWIC_WINDOW}, 1) : p + 1 + {T.KWIC_WINDOW}],
         ' ') AS snippet
FROM base b JOIN pos USING (doc_id)
""",
)
def text_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets around the first occurrence of the
    query term — search-result highlighting from the positional index
    + one array slice, no text rescan."""
    return T.kwic_snippets(load_table(spark, sf_dir, "documents"))


@query("stream_dedup_within_watermark", _ORACLES["stream_dedup_counts"])
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: stateful dedup whose key state is
    EVICTED when the watermark passes — bounded state for
    at-least-once sources; doubled input availableNow == the batch
    distinct (same oracle as stream_dedup_counts)."""
    from ..streaming.jobs import dedup_within_watermark_stream

    return dedup_within_watermark_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# Wave 66 (round 2): matcher scorecard vs planted truth, chi-square
# independence.
# --------------------------------------------------------------------------


@query(
    "dedup_matcher_eval",
    f"""
WITH {_DOCS_PLUS_SQL},
{_TOKS_SQL},
{_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
truth AS (
  SELECT doc_id AS doc_a, doc_id + {PLANT_SHIFT} AS doc_b
  FROM docs_plus
  WHERE doc_id % {PLANT_MOD} = 0 AND doc_id < {PLANT_SHIFT}
),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM cand c
               WHERE EXISTS (SELECT 1 FROM truth t
                             WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
              AS BIGINT) AS tp,
         CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
         CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth
)
SELECT tp, CAST(n_cand - tp AS BIGINT) AS fp, CAST(n_truth - tp AS BIGINT) AS fn,
       ROUND(tp / CAST(n_cand AS DOUBLE), 6) AS precision,
       ROUND(tp / CAST(n_truth AS DOUBLE), 6) AS recall,
       ROUND(2 * (tp / CAST(n_cand AS DOUBLE)) * (tp / CAST(n_truth AS DOUBLE))
             / (tp / CAST(n_cand AS DOUBLE) + tp / CAST(n_truth AS DOUBLE)), 6)
         AS f1
FROM m
""",
)
def dedup_matcher_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage scorecard: the LSH matcher's candidate pairs
    scored against the planted duplicate ground truth — tp/fp/fn,
    precision, recall, f1 (incidental real near-dups count against
    planted-truth precision; stated semantics)."""
    return D.matcher_eval(
        _minhash_pairs(spark, sf_dir),
        _docs_plus_spark(spark, sf_dir),
        PLANT_MOD,
        PLANT_SHIFT,
    )


@query(
    "customer_chi2_independence",
    """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
),
rm AS (SELECT c_nationkey, SUM(n) AS rn FROM cells GROUP BY 1),
cm AS (SELECT c_mktsegment, SUM(n) AS cn FROM cells GROUP BY 1),
tt AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM cells),
grid AS (
  SELECT rm.c_nationkey, cm.c_mktsegment, rn, cn, COALESCE(n, 0) AS n0
  FROM rm CROSS JOIN cm
  LEFT JOIN cells ON cells.c_nationkey = rm.c_nationkey
                 AND cells.c_mktsegment = cm.c_mktsegment
),
terms AS (
  SELECT CAST(ROUND(
           (CAST(n0 AS DOUBLE) - CAST(rn AS DOUBLE) * cn / tot)
           * (CAST(n0 AS DOUBLE) - CAST(rn AS DOUBLE) * cn / tot)
           / (CAST(rn AS DOUBLE) * cn / tot), 9) AS DECIMAL(20,9)) AS t
  FROM grid, tt
),
dims AS (
  SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS s,
         CAST(SUM(n) AS BIGINT) AS n_rows
  FROM cells
)
SELECT ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2,
       CAST((r - 1) * (s - 1) AS INT) AS dof, n_rows,
       ROUND(SQRT(ROUND(CAST(SUM(t) AS DOUBLE), 6)
                  / (CAST(n_rows AS DOUBLE)
                     * CAST(LEAST(r - 1, s - 1) AS DOUBLE))), 6) AS cramers_v
FROM terms, dims GROUP BY r, s, n_rows
""",
)
def customer_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of nation x market segment — observed vs
    expected over the bounded contingency table, rounded-DECIMAL cell
    terms."""
    return R.chi2_independence(load_table(spark, sf_dir, "customer"))


# --------------------------------------------------------------------------
# Wave 67 (round 2): supplier concentration (HHI), binary-asset dedup.
# --------------------------------------------------------------------------


@query(
    "supplier_hhi_concentration",
    """
WITH per_sup AS (
  SELECT s_nationkey, s_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(20,2))) AS qty
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
nat AS (
  SELECT s_nationkey, SUM(qty) AS nq,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM per_sup GROUP BY 1
),
terms AS (
  SELECT p.s_nationkey, n.n_suppliers,
         CAST(ROUND(CAST(p.qty AS DOUBLE) / CAST(n.nq AS DOUBLE)
                    * (CAST(p.qty AS DOUBLE) / CAST(n.nq AS DOUBLE))
                    * 10000.0, 9) AS DECIMAL(20,9)) AS t
  FROM per_sup p JOIN nat n USING (s_nationkey)
)
SELECT s_nationkey, n_suppliers,
       ROUND(CAST(SUM(t) AS DOUBLE), 6) AS hhi
FROM terms GROUP BY s_nationkey, n_suppliers
""",
)
def supplier_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl supplier-concentration index per nation (0..10000):
    single-source-risk monitoring, DECIMAL-exact shares."""
    return R.supplier_hhi(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@query(
    "multimodal_exact_dedup",
    f"""
WITH {_DOCS_PLUS_SQL},
p AS (
  SELECT doc_id, sha256(text) AS sha256,
         CAST(strlen(text) AS BIGINT) AS byte_len
  FROM docs_plus
)
SELECT sha256, CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keeper,
       CAST(SUM(byte_len) - MAX(byte_len) AS BIGINT) AS reclaimable_bytes
FROM p GROUP BY sha256 HAVING COUNT(*) > 1
""",
)
def multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed BINARY dedup: sha256 payload groups with the
    keeper and reclaimable bytes — the storage-layer dedup pass before
    perceptual matching."""
    from ..operators import multimodal as MM

    return MM.exact_binary_dedup(_docs_plus_spark(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 68 (round 2): Mann-Whitney U, daily bounce rate.
# --------------------------------------------------------------------------


@query(
    "lineitem_mann_whitney",
    f"""
WITH counts AS (
  SELECT CAST(l_quantity AS DECIMAL(10,2)) AS v,
         SUM(CASE WHEN l_returnflag = '{R.KS_GROUPS[0]}' THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN l_returnflag = '{R.KS_GROUPS[1]}' THEN 1 ELSE 0 END) AS c_b,
         SUM(CASE WHEN l_returnflag IN ('{R.KS_GROUPS[0]}', '{R.KS_GROUPS[1]}')
                  THEN 1 ELSE 0 END) AS n_v
  FROM lineitem WHERE l_returnflag IN ('{R.KS_GROUPS[0]}', '{R.KS_GROUPS[1]}')
  GROUP BY 1
),
before AS (
  SELECT a.v, a.c_a, a.c_b, a.n_v, COALESCE(SUM(b.n_v), 0) AS cb
  FROM counts a LEFT JOIN counts b ON b.v < a.v
  GROUP BY a.v, a.c_a, a.c_b, a.n_v
),
agg AS (
  SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
         CAST(SUM(c_b) AS BIGINT) AS n_b,
         CAST(SUM(CAST(c_a AS DECIMAL(38,0))
                  * CAST(2 * cb + n_v + 1 AS DECIMAL(38,0))) / 2
              AS DECIMAL(38,1)) AS r_a,
         CAST(SUM(CAST(n_v AS DECIMAL(38,0)) * n_v * n_v - n_v)
              AS DECIMAL(38,0)) AS tie_sum
  FROM before
)
SELECT n_a, n_b,
       ROUND(CAST(r_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0, 1)
         AS u_stat,
       ROUND((CAST(r_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0
              - CAST(n_a AS DOUBLE) * n_b / 2.0)
             / SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((n_a + n_b + 1.0)
                       - CAST(tie_sum AS DOUBLE)
                         / ((n_a + CAST(n_b AS DOUBLE))
                            * (n_a + n_b - 1.0)))), 6) AS z,
       ABS((CAST(r_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0
            - CAST(n_a AS DOUBLE) * n_b / 2.0)
           / SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0
                  * ((n_a + n_b + 1.0)
                     - CAST(tie_sum AS DOUBLE)
                       / ((n_a + CAST(n_b AS DOUBLE))
                          * (n_a + n_b - 1.0))))) > 1.96
         AS reject_same_location
FROM agg
""",
)
def lineitem_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U between returnflag groups over quantity —
    rank-based location-shift test with tie-corrected z, midranks from
    cumulative counts on the bounded value domain."""
    return R.mann_whitney_u(load_table(spark, sf_dir, "lineitem"))


@query(
    "events_bounce_rate",
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
s AS (SELECT MIN(ts) AS st, COUNT(*) AS n FROM g GROUP BY user_id, sid)
SELECT CAST(st AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
FROM s GROUP BY 1
""",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: single-event-session share by session-start
    date — the engagement KPI off the shared sessionizer."""
    return E.bounce_rate_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 69 (round 2): CUSUM drift detection, IQR outlier fences.
# --------------------------------------------------------------------------


@query(
    "orders_cusum_detect",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
              AS DECIMAL(38,0)) AS x
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(x) AS DECIMAL(38,0)) AS tt,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
),
ps AS (
  SELECT a.d, CAST(SUM(b.x) AS DECIMAL(38,0)) AS ps,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM daily a JOIN daily b ON b.d <= a.d GROUP BY a.d
),
dev AS (
  SELECT d, CAST(n AS DECIMAL(38,0)) * ps - CAST(t AS DECIMAL(38,0)) * tt AS dv,
         n, tt
  FROM ps, tot
)
SELECT d AS peak_day,
       ROUND((CAST(dv AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 2)
         AS peak_dev_dollars,
       ROUND(ABS(CAST(dv AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(tt AS DOUBLE)), 6)
         AS dev_share_of_total
FROM dev ORDER BY ABS(dv) DESC, d LIMIT 1
""",
)
def orders_cusum_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on daily revenue in exact integer
    arithmetic (D_t = n*PS_t - t*Total): the sequential-monitoring
    change detector; peak |D| day is the shift candidate."""
    return R.cusum_detect(load_table(spark, sf_dir, "orders"))


@query(
    "part_price_iqr_outliers",
    f"""
WITH q AS (
  SELECT p_brand,
         ROUND(quantile_cont(CAST(p_retailprice AS DOUBLE), 0.25), 6) AS q1,
         ROUND(quantile_cont(CAST(p_retailprice AS DOUBLE), 0.75), 6) AS q3,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_brand
)
SELECT p.p_brand, n_parts, q1, q3,
       CAST(SUM(CASE WHEN CAST(p_retailprice AS DOUBLE)
                          < q1 - {R.IQR_FENCE!r} * (q3 - q1)
                       OR CAST(p_retailprice AS DOUBLE)
                          > q3 + {R.IQR_FENCE!r} * (q3 - q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM part p JOIN q ON p.p_brand = q.p_brand
GROUP BY p.p_brand, n_parts, q1, q3
""",
)
def part_price_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence price outliers per brand: exact quartiles, 1.5*IQR
    fences, outlier counts — the per-segment data-quality screen."""
    return R.price_iqr_outliers(load_table(spark, sf_dir, "part"))


# --------------------------------------------------------------------------
# Wave 70 (round 2): compression-ratio quality signal, vocabulary
# richness, arrival dispersion.
# --------------------------------------------------------------------------


@query(
    "doc_zlib_ratio",
    """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS ratios_in_range
FROM documents GROUP BY source
""",
)
def doc_zlib_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per source (Gopher heuristic:
    repetitive/templated text deflates much harder than prose) over an
    Arrow-batched zlib kernel.  The deflate BYTE COUNTS are
    zlib-internal (no SQL engine replays deflate), so the checked
    projection is the contract form: per-source doc counts (DuckDB
    recomputes them — catches dropped sources / dropped rows in the
    kernel) plus a boolean that every ratio sits in (0, 1.5] (zlib
    never doubles text; max observed 1.125 on the tiniest docs).  The
    raw mean/min/max ratios stay on the operator; monotonicity
    invariants are pytest-held."""
    r = T.zlib_ratio_quality(load_table(spark, sf_dir, "documents"))
    in_range = (F.col("min_ratio") > 0.0) & (F.col("max_ratio") <= 1.5)
    return r.select(
        "source",
        "n_docs",
        F.coalesce(in_range, F.lit(True)).alias("ratios_in_range"),
    )


@query(
    "vocab_hapax_ratio",
    f"""
WITH tk AS (SELECT source, unnest({_TK_SQL}) AS term FROM documents),
per_term AS (SELECT source, term, COUNT(*) AS n FROM tk GROUP BY 1, 2)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share,
       ROUND(COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS type_token_ratio
FROM per_term GROUP BY source
""",
)
def vocab_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: hapax share + type-token ratio
    — template-spam (low) vs diverse prose (high)."""
    return T.hapax_ratio(load_table(spark, sf_dir, "documents"))


@query(
    "events_dispersion_index",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM daily
)
SELECT n_days,
       ROUND(CAST(s1 AS DOUBLE) / n_days, 6) AS mean_daily,
       ROUND((CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_days))
             / (n_days - 1.0), 6) AS var_daily,
       ROUND(((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_days))
              / (n_days - 1.0)) / (CAST(s1 AS DOUBLE) / n_days), 6)
         AS dispersion_index,
       ((CAST(s2 AS DOUBLE)
         - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_days))
        / (n_days - 1.0)) / (CAST(s1 AS DOUBLE) / n_days) > 1.5
         AS overdispersed
FROM agg
""",
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion of daily arrivals (var/mean from exact
    power sums) — the Poisson-tail sanity check behind rate alerts."""
    return E.dispersion_index(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 71 (round 2): hierarchy shares, Cohen's d, Jensen-Shannon
# source divergence.
# --------------------------------------------------------------------------


@query(
    "revenue_share_hierarchy",
    """
WITH rev AS (
  SELECT r_name, n_name,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
reg AS (SELECT r_name, SUM(rev) AS rr FROM rev GROUP BY 1),
tot AS (SELECT SUM(rev) AS g FROM rev)
SELECT rev.r_name, n_name,
       ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
       ROUND(CAST(rev AS DOUBLE) / CAST(rr AS DOUBLE), 6) AS share_of_region,
       ROUND(CAST(rev AS DOUBLE) / CAST(g AS DOUBLE), 6) AS share_of_total
FROM rev JOIN reg ON rev.r_name = reg.r_name, tot
""",
)
def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent drill-down: nation revenue with its region and
    global shares in one scan — region-partitioned windows plus a
    broadcast grand total."""
    return R.revenue_share_hierarchy(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "lineitem_cohens_d",
    f"""
WITH g AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(10,2))) AS s1,
         SUM(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,4))) AS s2
  FROM lineitem
  WHERE l_returnflag IN ('{R.KS_GROUPS[0]}', '{R.KS_GROUPS[1]}')
  GROUP BY 1
),
a AS (SELECT n AS n_a, s1 AS s1a, s2 AS s2a FROM g
      WHERE l_returnflag = '{R.KS_GROUPS[0]}'),
b AS (SELECT n AS n_b, s1 AS s1b, s2 AS s2b FROM g
      WHERE l_returnflag = '{R.KS_GROUPS[1]}')
SELECT n_a, n_b,
       ROUND(CAST(s1a AS DOUBLE) / n_a, 6) AS mean_a,
       ROUND(CAST(s1b AS DOUBLE) / n_b, 6) AS mean_b,
       ROUND((CAST(s1a AS DOUBLE) / n_a - CAST(s1b AS DOUBLE) / n_b)
             / SQRT(((CAST(s2a AS DOUBLE)
                      - CAST(s1a AS DOUBLE) * (CAST(s1a AS DOUBLE) / n_a))
                     + (CAST(s2b AS DOUBLE)
                        - CAST(s1b AS DOUBLE) * (CAST(s1b AS DOUBLE) / n_b)))
                    / (n_a + CAST(n_b AS DOUBLE) - 2.0)), 6) AS cohens_d
FROM a, b
""",
)
def lineitem_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between returnflag groups from exact
    DECIMAL power sums — the magnitude companion to the MW/KS tests."""
    return R.cohens_d(load_table(spark, sf_dir, "lineitem"))


@query(
    "doc_js_divergence",
    f"""
WITH tk AS (
  SELECT source, unnest({_TK_SQL}) AS term FROM documents
  WHERE source IN ('{T.JS_SOURCES[0]}', '{T.JS_SOURCES[1]}')
),
counts AS (
  SELECT term,
         SUM(CASE WHEN source = '{T.JS_SOURCES[0]}' THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN source = '{T.JS_SOURCES[1]}' THEN 1 ELSE 0 END) AS c_b
  FROM tk GROUP BY term
),
tot AS (
  SELECT CAST(SUM(c_a) AS DOUBLE) AS ta, CAST(SUM(c_b) AS DOUBLE) AS tb
  FROM counts
),
terms AS (
  SELECT CAST(ROUND(
           0.5 * (CASE WHEN c_a > 0
                       THEN (c_a / ta) * ln((c_a / ta)
                            / ((c_a / ta + c_b / tb) / 2))
                       ELSE 0.0 END)
           + 0.5 * (CASE WHEN c_b > 0
                         THEN (c_b / tb) * ln((c_b / tb)
                              / ((c_a / ta + c_b / tb) / 2))
                         ELSE 0.0 END), 9) AS DECIMAL(20,9)) AS t
  FROM counts, tot
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_vocab FROM counts)
SELECT '{T.JS_SOURCES[0]}' AS source_a, '{T.JS_SOURCES[1]}' AS source_b,
       n_shared_vocab,
       ROUND(CAST(SUM(t) AS DOUBLE), 6) AS js_divergence,
       ROUND(ROUND(CAST(SUM(t) AS DOUBLE), 6) / 0.6931471805599453, 6)
         AS normalized
FROM terms, nt GROUP BY n_shared_vocab
""",
)
def doc_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' term mixtures —
    symmetric, bounded corpus-drift metric with rounded-DECIMAL term
    contributions."""
    return T.js_divergence(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 72 (round 2): top revenue movers, Wilson-interval return rates.
# --------------------------------------------------------------------------


@query(
    "customers_top_movers",
    f"""
WITH yrs AS (
  SELECT MAX(EXTRACT(year FROM o_orderdate)) AS y2,
         MAX(EXTRACT(year FROM o_orderdate)) - 1 AS y1
  FROM orders
),
per AS (
  SELECT o_custkey,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = y1
                  THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS r1,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = y2
                  THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS r2
  FROM orders, yrs
  WHERE EXTRACT(year FROM o_orderdate) IN (y1, y2)
  GROUP BY o_custkey
)
SELECT o_custkey,
       ROUND(CAST(COALESCE(r1, 0) AS DOUBLE), 2) AS rev_prev,
       ROUND(CAST(COALESCE(r2, 0) AS DOUBLE), 2) AS rev_last,
       ROUND(CAST(COALESCE(r2, 0) - COALESCE(r1, 0) AS DOUBLE), 2) AS delta,
       ROUND(CAST(ABS(COALESCE(r2, 0) - COALESCE(r1, 0)) AS DOUBLE), 2)
         AS abs_delta
FROM per
ORDER BY abs_delta DESC, o_custkey LIMIT {R.TOP_MOVERS_K}
""",
)
def customers_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest absolute YoY spend changes — the account watchlist; two
    conditional DECIMAL sums in one aggregate, global top-k heap."""
    return R.customers_top_movers(load_table(spark, sf_dir, "orders"))


@query(
    "lineitem_return_rate_wilson",
    """
WITH g AS (
  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS r
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey
)
SELECT s_nationkey, n, r,
       ROUND(r / CAST(n AS DOUBLE), 6) AS rate,
       ROUND(((r / CAST(n AS DOUBLE))
              + 3.841458820694124 / (2.0 * n)) / (1.0 + 3.841458820694124 / n)
             - 1.959963984540054
               * SQRT((r / CAST(n AS DOUBLE)) * (1.0 - r / CAST(n AS DOUBLE)) / n
                      + 3.841458820694124 / (4.0 * n * CAST(n AS DOUBLE)))
               / (1.0 + 3.841458820694124 / n), 6) AS wilson_lo,
       ROUND(((r / CAST(n AS DOUBLE))
              + 3.841458820694124 / (2.0 * n)) / (1.0 + 3.841458820694124 / n)
             + 1.959963984540054
               * SQRT((r / CAST(n AS DOUBLE)) * (1.0 - r / CAST(n AS DOUBLE)) / n
                      + 3.841458820694124 / (4.0 * n * CAST(n AS DOUBLE)))
               / (1.0 + 3.841458820694124 / n), 6) AS wilson_hi
FROM g
""",
)
def lineitem_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier-nation return rate with the 95% Wilson score
    interval — small-n-sane CIs from exact counts, closed form."""
    return R.return_rate_wilson(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


# --------------------------------------------------------------------------
# Wave 73 (round 2): Arrow IPC custom source, Hamming recall curve.
# --------------------------------------------------------------------------


@query(
    "arrow_ipc_source_roundtrip",
    """
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
       CAST(SUM(len(embedding)) AS BIGINT) AS sum_dims
FROM embeddings GROUP BY label
""",
)
def arrow_ipc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) round-trip through the second custom
    Python DataSource: distributed per-task writer (mapInArrow), one
    InputPartition per file, reader yields RecordBatches — Arrow in,
    Arrow out, no per-row Python.  Oracle reads the ORIGINAL parquet,
    proving the interchange lossless."""
    import shutil

    from ..sources.arrow_ipc_source import ArrowIpcDataSource, write_arrow_ipc

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_path("emb_arrow", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_arrow_ipc(emb, path)
    reader = (
        spark.read.format(data_source(spark, ArrowIpcDataSource))
        .schema(emb.schema)
        .option("path", path)
    )
    with active_session(spark):
        back = reader.load()
    return back.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
        F.sum(F.size("embedding")).cast("long").alias("sum_dims"),
    )


HAMMING_CURVE_RS = (10, 25, 50)

_HAM_CURVE_PARTS = " UNION ALL ".join(
    f"""SELECT CAST({r} AS INT) AS shortlist,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({{k}} AS DOUBLE), 6) AS recall
FROM (
  SELECT vec_id FROM hm WHERE hrnk <= {r}
  ORDER BY dist, vec_id LIMIT {{k}}
) t WHERE vec_id IN (SELECT vec_id FROM exact_top)"""
    for r in HAMMING_CURVE_RS
).format(k="{k}")


@query(
    "ann_hamming_recall_curve",
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
hmr AS (
  SELECT vec_id, e,
         CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INT)
           AS hamming
  FROM pk, qp
),
hm AS (
  SELECT vec_id, hamming,
         ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS hrnk,
         (SELECT ROUND(SUM((x - y) * (x - y)), 6)
          FROM (SELECT unnest(hmr.e) AS x, unnest(q.qv) AS y)) AS dist
  FROM hmr, q
),
exact_d AS (
  SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM (
    SELECT e.vec_id,
           unnest(CAST(e.embedding AS DOUBLE[])) AS x,
           unnest(q.qv) AS y
    FROM embeddings e CROSS JOIN q
  )
  GROUP BY vec_id
),
exact_top AS (SELECT vec_id FROM exact_d ORDER BY dist, vec_id LIMIT {ANN_K})
{_HAM_CURVE_PARTS.format(k=ANN_K)}
""",
)
def ann_hamming_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{ANN_K} of the binary-Hamming path as the shortlist
    budget grows ({HAMMING_CURVE_RS}) — the ef_search-style dial for
    1-bit quantization: candidates ranked once at the largest budget,
    each point a rank filter + exact rerank + intersect."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir, ANN_QUERY_ID)
    v = A.double_array("embedding")
    qlo, qhi = A.sign_pack_np(qv)
    ham = F.expr(f"CAST(bit_count(lo ^ {qlo}) + bit_count(hi ^ {qhi}) AS INT)")
    # shortlist via TakeOrderedAndProject (per-partition heaps — never a
    # global window over the corpus), then ranks from a triangle join
    # on the <= max(R)-row table
    short = (
        K.with_query(emb, qv).select(
            "vec_id",
            F.expr(f"{A.sign_pack_bits(v, 0)} AS lo"),
            F.expr(f"{A.sign_pack_bits(v, 32)} AS hi"),
            F.expr(f"ROUND({A.squared_l2(v, K.Q_VEC)}, 6) AS dist"),
        )
        .withColumn("hamming", ham)
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(max(HAMMING_CURVE_RS))
        .localCheckpoint()
    )
    peers = short.select(
        F.col("hamming").alias("_h2"), F.col("vec_id").alias("_v2")
    )
    scored = (
        short.join(
            F.broadcast(peers),
            (F.col("_h2") < F.col("hamming"))
            | (
                (F.col("_h2") == F.col("hamming"))
                & (F.col("_v2") <= F.col("vec_id"))
            ),
        )
        .groupBy("vec_id", "hamming", "dist")
        .agg(F.count("*").cast("int").alias("hrnk"))
        .localCheckpoint()
    )
    exact_top = K.knn_topk(emb, qv, ANN_K, "sqL2").select("vec_id").localCheckpoint()
    parts = []
    for r in HAMMING_CURVE_RS:
        cand = (
            scored.filter(F.col("hrnk") <= r)
            .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
            .limit(ANN_K)
        )
        hit = cand.join(exact_top, "vec_id", "left_semi").agg(
            F.lit(r).cast("int").alias("shortlist"),
            F.count("*").cast("long").alias("n_hit"),
            F.round(F.count("*") / F.lit(float(ANN_K)), 6).alias("recall"),
        )
        parts.append(hit)
    import functools

    return functools.reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------------------------
# Wave 74 (round 2): saved-search percolation, PMI collocations.
# --------------------------------------------------------------------------

_PERCOLATE_Q_SQL = " UNION ALL ".join(
    f"SELECT '{name}' AS query_name, '{t}' AS term, {len(terms)} AS arity"
    for name, terms in __import__(
        "simple_vector_spark.operators.text_analysis",
        fromlist=["PERCOLATE_QUERIES"],
    ).PERCOLATE_QUERIES
    for t in terms
)
_PERCOLATE_NAMES_SQL = " UNION ALL ".join(
    f"SELECT '{name}' AS query_name"
    for name, _ in __import__(
        "simple_vector_spark.operators.text_analysis",
        fromlist=["PERCOLATE_QUERIES"],
    ).PERCOLATE_QUERIES
)


@query(
    "saved_search_percolate",
    f"""
WITH qterms AS ({_PERCOLATE_Q_SQL}),
tk AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({_TK_SQL}) AS term FROM documents
  )
),
fired AS (
  SELECT doc_id, query_name FROM tk JOIN qterms USING (term)
  GROUP BY doc_id, query_name, arity HAVING COUNT(*) = arity
),
counts AS (
  SELECT query_name, CAST(COUNT(*) AS BIGINT) AS n_docs_fired
  FROM fired GROUP BY query_name
),
names AS ({_PERCOLATE_NAMES_SQL})
SELECT query_name, CAST(COALESCE(n_docs_fired, 0) AS BIGINT) AS n_docs_fired
FROM names LEFT JOIN counts USING (query_name)
""",
)
def saved_search_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search (percolation): stored AND-of-terms queries
    matched against the document stream — the saved-search/alerting
    shape; stored queries broadcast, one corpus pass."""
    return T.saved_search_percolate(load_table(spark, sf_dir, "documents"))


@query(
    "vocab_pmi_bigrams",
    f"""
WITH tkk AS (SELECT {_TK_SQL} AS tk FROM documents),
uni AS (
  SELECT w, COUNT(*) AS cw FROM (SELECT unnest(tk) AS w FROM tkk) GROUP BY w
),
nu AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n_u FROM uni),
pairs AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tkk)
),
big AS (SELECT w1, w2, COUNT(*) AS cp FROM pairs GROUP BY w1, w2),
nb AS (SELECT CAST(SUM(cp) AS DOUBLE) AS n_b FROM big)
SELECT w1, w2, CAST(cp AS BIGINT) AS n_pair,
       ROUND(ln((cp / n_b)
                / ((ua.cw / n_u) * (ub.cw / n_u))), 6) AS pmi
FROM big
JOIN uni ua ON ua.w = w1
JOIN uni ub ON ub.w = w2
CROSS JOIN nu CROSS JOIN nb
WHERE cp >= {T.PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2 LIMIT {T.PMI_TOP_K}
""",
)
def vocab_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information with a
    min-count floor — the phrase-discovery pass, exact-count
    probabilities."""
    return T.pmi_bigrams(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 75 (round 2): dedup storage savings, A/B sample-ratio check.
# --------------------------------------------------------------------------


@query(
    "dedup_storage_savings",
    f"""
WITH RECURSIVE {_CLUSTER_LABELS_CTES},
sized AS (
  SELECT dp.doc_id, dp.source, CAST(strlen(dp.text) AS BIGINT) AS bytes,
         l.cluster
  FROM docs_plus dp JOIN labels l ON l.node = dp.doc_id
),
keepers AS (SELECT cluster, MIN(doc_id) AS keeper FROM sized GROUP BY cluster)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_clustered_docs,
       CAST(SUM(CASE WHEN doc_id != keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_redundant,
       CAST(SUM(CASE WHEN doc_id != keeper THEN bytes ELSE 0 END) AS BIGINT)
         AS bytes_reclaimable
FROM sized JOIN keepers USING (cluster)
GROUP BY source
""",
)
def dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case: per source, redundant docs and bytes
    reclaimable if every near-dup cluster keeps one canonical member."""
    return D.storage_savings(
        _docs_plus_spark(spark, sf_dir), _dup_cluster_labels(spark, sf_dir)
    )


@query(
    "events_srm_check",
    """
WITH arms AS (
  SELECT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS INT) AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
c AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM arms
)
SELECT n_a, n_b,
       ROUND((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)
             + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0), 6) AS chi2,
       ((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
          / ((n_a + n_b) / 2.0)
        + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
          / ((n_a + n_b) / 2.0)) > 3.841 AS srm_detected
FROM c
""",
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: 1-dof chi-square of the md5
    50/50 user split — the pre-read sanity check of any A/B system."""
    return E.srm_check(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 76 (round 2): Simpson audit, month-end effect, MDE power.
# --------------------------------------------------------------------------

_SIMPSON_SUMS = """CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(20,2))) AS sq,
         SUM(CAST(l_discount AS DECIMAL(20,6))) AS sd,
         SUM(CAST(CAST(l_quantity AS DECIMAL(20,2))
                  * CAST(l_quantity AS DECIMAL(20,2)) AS DECIMAL(38,4))) AS sqq,
         SUM(CAST(CAST(l_discount AS DECIMAL(20,6))
                  * CAST(l_discount AS DECIMAL(20,6)) AS DECIMAL(38,12))) AS sdd,
         SUM(CAST(CAST(l_quantity AS DECIMAL(20,2))
                  * CAST(l_discount AS DECIMAL(20,6)) AS DECIMAL(38,8))) AS sqd"""

_SIMPSON_CORR = """ROUND((CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE) / n)
         / SQRT((CAST(sqq AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
                * (CAST(sdd AS DOUBLE)
                   - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)), 6)"""


@query(
    "lineitem_simpson_audit",
    f"""
WITH per0 AS (
  SELECT l_returnflag, {_SIMPSON_SUMS}
  FROM lineitem GROUP BY l_returnflag
),
gl0 AS (
  SELECT {_SIMPSON_SUMS} FROM lineitem
),
per AS (SELECT l_returnflag, n, {_SIMPSON_CORR} AS corr FROM per0),
gl AS (SELECT {_SIMPSON_CORR} AS global_corr FROM gl0)
SELECT l_returnflag, n, corr AS stratum_corr, global_corr,
       SIGN(corr) != SIGN(global_corr) AS reverses
FROM per, gl
""",
)
def lineitem_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: corr(quantity, discount) per stratum vs
    pooled — flags when stratum signs disagree with the aggregate;
    power-sum-exact correlations."""
    return R.simpson_audit(load_table(spark, sf_dir, "lineitem"))


@query(
    "orders_month_end_effect",
    f"""
WITH g AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS tot,
         SUM(CASE WHEN EXTRACT(day FROM o_orderdate)
                       > EXTRACT(day FROM last_day(CAST(o_orderdate AS DATE)))
                         - {R.MONTH_END_DAYS}
                  THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS tail,
         MAX(EXTRACT(day FROM last_day(CAST(o_orderdate AS DATE)))) AS mlen
  FROM orders GROUP BY 1
)
SELECT month,
       ROUND(CAST(COALESCE(tail, 0) AS DOUBLE) / CAST(tot AS DOUBLE), 6)
         AS tail_share,
       ROUND({R.MONTH_END_DAYS}.0 / mlen, 6) AS uniform_share,
       ROUND((CAST(COALESCE(tail, 0) AS DOUBLE) / CAST(tot AS DOUBLE))
             / ({R.MONTH_END_DAYS}.0 / mlen), 6) AS lift
FROM g
""",
)
def orders_month_end_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end revenue concentration vs the uniform expectation —
    the quota/billing-cycle pattern, DECIMAL-exact."""
    return R.month_end_effect(load_table(spark, sf_dir, "orders"))


@query(
    "events_mde_power",
    """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(conv) AS BIGINT) AS n_converted
  FROM pu
)
SELECT n_users, n_converted,
       ROUND(n_converted / CAST(n_users AS DOUBLE), 6) AS baseline_rate,
       ROUND((1.959963984540054 + 0.8416212335729143)
             * SQRT(2.0 * (n_converted / CAST(n_users AS DOUBLE))
                    * (1.0 - n_converted / CAST(n_users AS DOUBLE))
                    / (CAST(n_users AS DOUBLE) / 2.0)), 6) AS mde_abs,
       ROUND(((1.959963984540054 + 0.8416212335729143)
              * SQRT(2.0 * (n_converted / CAST(n_users AS DOUBLE))
                     * (1.0 - n_converted / CAST(n_users AS DOUBLE))
                     / (CAST(n_users AS DOUBLE) / 2.0)))
             / (n_converted / CAST(n_users AS DOUBLE)), 6) AS mde_rel
FROM c
""",
)
def events_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal detectable effect at alpha=.05/power=.80 for the 50/50
    split on this traffic — the pre-registration power number."""
    return E.mde_power(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 77 (round 2): term burstiness, price-ending audit.
# --------------------------------------------------------------------------


@query(
    "vocab_term_burstiness",
    f"""
WITH tk AS (SELECT doc_id, unnest({_TK_SQL}) AS term FROM documents),
per_doc AS (SELECT term, doc_id, COUNT(*) AS c FROM tk GROUP BY 1, 2),
g AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM per_doc GROUP BY term
)
SELECT term, df,
       ROUND(CAST(s1 AS DOUBLE) / df, 6) AS mean_tf,
       ROUND(((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / df))
              / (df - 1.0)) / (CAST(s1 AS DOUBLE) / df), 6) AS burstiness
FROM g WHERE df >= {T.BURST_MIN_DF}
ORDER BY burstiness DESC, term LIMIT {T.BURST_TOP_K}
""",
)
def vocab_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness per term (var/mean of in-doc counts) —
    keyword-stuffing/boilerplate terms cluster, content words don't."""
    return T.term_burstiness(load_table(spark, sf_dir, "documents"))


@query(
    "orders_price_endings",
    f"""
WITH g AS (
  SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) % 100
              AS INT) AS ending,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tt FROM g)
SELECT ending, n,
       ROUND(n / tt, 6) AS share,
       ROUND(n / tt / 0.01, 6) AS lift_vs_uniform
FROM g, t ORDER BY n DESC, ending LIMIT {R.PRICE_ENDING_TOP}
""",
)
def orders_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cent-ending distribution vs the uniform baseline — the
    psychological-pricing / fabricated-amounts screen."""
    return R.price_endings(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 78 (round 2): ABC-XYZ matrix, SLA attainment.
# --------------------------------------------------------------------------

_SLA_COLS_SQL = ",\n       ".join(
    f"""ROUND(SUM(CASE WHEN days <= {d} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS within_{d}d"""
    for d in R.SLA_DAYS
)


@query(
    "parts_abc_xyz_matrix",
    f"""
WITH monthly AS (
  -- exact integer CENTS, month as a truncated date — mirrors the
  -- operator's single-scan (part, month) aggregate bit for bit
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT))
           AS rev_m,
         SUM(CAST(CAST(l_quantity AS DECIMAL(20,2)) * 100 AS BIGINT)) AS q
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, SUM(rev_m) AS rev, CAST(COUNT(*) AS BIGINT) AS nm,
         SUM(q) AS s1, SUM(q * q) AS s2
  FROM monthly GROUP BY l_partkey
),
cum AS (
  SELECT l_partkey, rev, nm, s1, s2,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS total
  FROM per_part
),
classed AS (
  SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                   <= {R.ABC_THRESHOLDS[0]} THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                   <= {R.ABC_THRESHOLDS[1]} THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN nm = 1 THEN 'Z'
              WHEN SQRT(GREATEST((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / nm))
                      / (nm - 1.0), 0.0))
                   / (CAST(s1 AS DOUBLE) / nm) <= {R.XYZ_THRESHOLDS[0]}
                THEN 'X'
              WHEN SQRT(GREATEST((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / nm))
                      / (nm - 1.0), 0.0))
                   / (CAST(s1 AS DOUBLE) / nm) <= {R.XYZ_THRESHOLDS[1]}
                THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM cum
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM classed
GROUP BY abc, xyz
""",
)
def parts_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ segmentation matrix: revenue importance x demand
    variability (CV of monthly quantity) — the stocking-policy grid;
    ABC rides the two-phase prefix sum."""
    return R.abc_xyz_matrix(load_table(spark, sf_dir, "lineitem"))


@query(
    "orders_sla_attainment",
    f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o_orderpriority,
         ship - CAST(o_orderdate AS DATE) AS days
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_SLA_COLS_SQL}
FROM j GROUP BY o_orderpriority
""",
)
def orders_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-shipment SLA attainment per priority across
    {R.SLA_DAYS}-day tiers — the fulfilment scorecard."""
    return R.sla_attainment(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 79 (round 2): forecast backtest, HLL sketch union.
# --------------------------------------------------------------------------


@query(
    "orders_forecast_backtest",
    """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT month, rev, ROW_NUMBER() OVER (ORDER BY month) AS t FROM monthly
),
nm AS (SELECT COUNT(*) AS n_months FROM idx)
SELECT a.month,
       ROUND((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 2), 2) AS predicted,
       ROUND(CAST(a.rev AS DOUBLE), 2) AS actual,
       ROUND(ABS(((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 2)) - CAST(a.rev AS DOUBLE))
             / CAST(a.rev AS DOUBLE), 6) AS ape
FROM idx a,
     (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(t) AS DOUBLE) AS st,
             CAST(SUM(t * t) AS DOUBLE) AS stt,
             SUM(CAST(rev AS DOUBLE)) AS sr,
             SUM(t * CAST(rev AS DOUBLE)) AS str_
      FROM idx WHERE t <= (SELECT n_months FROM nm) - 3) s
WHERE a.t = (SELECT n_months FROM nm) - 2
UNION ALL
SELECT a.month,
       ROUND((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 1), 2) AS predicted,
       ROUND(CAST(a.rev AS DOUBLE), 2) AS actual,
       ROUND(ABS(((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 1)) - CAST(a.rev AS DOUBLE))
             / CAST(a.rev AS DOUBLE), 6) AS ape
FROM idx a,
     (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(t) AS DOUBLE) AS st,
             CAST(SUM(t * t) AS DOUBLE) AS stt,
             SUM(CAST(rev AS DOUBLE)) AS sr,
             SUM(t * CAST(rev AS DOUBLE)) AS str_
      FROM idx WHERE t <= (SELECT n_months FROM nm) - 2) s
WHERE a.t = (SELECT n_months FROM nm) - 1
UNION ALL
SELECT a.month,
       ROUND((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 0), 2) AS predicted,
       ROUND(CAST(a.rev AS DOUBLE), 2) AS actual,
       ROUND(ABS(((s.sr / s.n - ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * s.st / s.n) + ((s.str_ - s.st * s.sr / s.n) / (s.stt - s.st * s.st / s.n)) * ((SELECT n_months FROM nm) - 0)) - CAST(a.rev AS DOUBLE))
             / CAST(a.rev AS DOUBLE), 6) AS ape
FROM idx a,
     (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(t) AS DOUBLE) AS st,
             CAST(SUM(t * t) AS DOUBLE) AS stt,
             SUM(CAST(rev AS DOUBLE)) AS sr,
             SUM(t * CAST(rev AS DOUBLE)) AS str_
      FROM idx WHERE t <= (SELECT n_months FROM nm) - 1) s
WHERE a.t = (SELECT n_months FROM nm) - 0
""",
)
def orders_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window backtest of the closed-form OLS revenue
    forecast: the last 3 months scored one step ahead — the
    MAPE inputs a forecast review reads."""
    return R.forecast_backtest(load_table(spark, sf_dir, "orders"))


@query(
    "events_hll_sketch_union",
    """
SELECT CAST(weekofyear(ts) AS INT) AS week,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS union_within_bound
FROM events GROUP BY 1
""",
)
def events_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch surface: per-day HLL sketches unioned per week
    (hll_sketch_agg -> hll_union_agg) vs the exact weekly distinct —
    the materialize-small-merge-up pattern.  Checked projection: exact
    weekly distinct + day count (DuckDB recomputes both) and the
    boolean union-estimate-within-5% contract column (VERDICT r03
    item 5); the raw estimate stays on the operator."""
    return E.hll_sketch_union_weekly(load_table(spark, sf_dir, "events")).select(
        "week",
        "n_days",
        "exact_users",
        # NULL rel_err (exact 0 on an all-NULL week) -> trivially
        # within bound
        F.coalesce(F.col("rel_err") <= 0.05, F.lit(True)).alias(
            "union_within_bound"
        ),
    )


# --------------------------------------------------------------------------
# Wave 80 (round 2): range-constraint + accepted-values contracts —
# completes the dbt test-type suite (not_null=null_profile,
# unique/FD=fd_discovery, relationships=fk_orphan, ranges/values here).
# --------------------------------------------------------------------------

_RANGE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS constraint,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL
                      {f"OR CAST({col} AS DOUBLE) < {lo!r}" if lo is not None else ""}
                      {f"OR CAST({col} AS DOUBLE) > {hi!r}" if hi is not None else ""}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN {col} IS NULL
                 {f"OR CAST({col} AS DOUBLE) < {lo!r}" if lo is not None else ""}
                 {f"OR CAST({col} AS DOUBLE) > {hi!r}" if hi is not None else ""}
           THEN 1 ELSE 0 END) = 0 AS holds
FROM lineitem"""
    for name, col, lo, hi in __import__(
        "simple_vector_spark.operators.validate", fromlist=["RANGE_CONSTRAINTS"]
    ).RANGE_CONSTRAINTS
)


@query("lineitem_range_constraints", _RANGE_ORACLE)
def lineitem_range_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt accepted_range contracts over the fact table in ONE scan —
    per declared (column, lo, hi): violation counts + holds flag."""
    from ..operators import validate as V

    return V.range_constraint_audit(load_table(spark, sf_dir, "lineitem"))


_ACCEPTED_ORACLE = "\nUNION ALL\n".join(
    """SELECT '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL OR {col} NOT IN ({vals})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN {col} IS NULL OR {col} NOT IN ({vals})
           THEN 1 ELSE 0 END) = 0 AS holds
FROM orders""".format(col=col, vals=", ".join(f"'{v}'" for v in allowed))
    for col, allowed in __import__(
        "simple_vector_spark.operators.validate", fromlist=["ACCEPTED_VALUES"]
    ).ACCEPTED_VALUES
)


@query("orders_accepted_values", _ACCEPTED_ORACLE)
def orders_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt accepted_values contracts for the categorical columns —
    rows outside the declared domain (NULLs violate), one scan per
    table."""
    from ..operators import validate as V

    return V.accepted_values_audit(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 81 (round 2): streaming windowed top-k, feature-hash collisions,
# ranking-semantics audit.
# --------------------------------------------------------------------------


@query(
    "stream_window_topk",
    """
WITH agg AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
         user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT bucket, user_id, n, CAST(rnk AS INT) AS rnk FROM (
  SELECT bucket, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY n DESC, user_id) AS rnk
  FROM agg
) WHERE rnk <= 3
""",
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed top-k: tumbling-hour per-user counts
    aggregated IN the stream, rank-limit applied on the drained
    aggregate (the production split — per-window ranking can't live
    inside a streaming query); availableNow == the batch top-k."""
    from ..streaming.jobs import window_topk_stream

    return window_topk_stream(spark, sf_dir)


@query(
    "events_feature_hash_cross",
    f"""
WITH d AS (
  SELECT DISTINCT concat_ws('_', CAST(user_id % 100 AS VARCHAR), event_type)
           AS cr
  FROM events
),
b AS (
  SELECT cr, CAST(CAST(concat('0x', substr(md5(cr), 1, 8)) AS BIGINT)
                  % {1 << E.FEATURE_HASH_BITS} AS INT) AS b
  FROM d
),
per AS (SELECT b.b, COUNT(*) AS n_in_bucket FROM b GROUP BY b.b)
SELECT CAST(SUM(n_in_bucket) AS BIGINT) AS n_crosses,
       CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
       CAST(SUM(CASE WHEN n_in_bucket > 1 THEN n_in_bucket ELSE 0 END)
            AS BIGINT) AS n_colliding_crosses,
       ROUND(SUM(CASE WHEN n_in_bucket > 1 THEN n_in_bucket ELSE 0 END)
             / CAST(SUM(n_in_bucket) AS DOUBLE), 6) AS collision_rate
FROM per
""",
)
def events_feature_hash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit for a crossed categorical feature
    in a 2^{E.FEATURE_HASH_BITS} bucket space — the measurement that
    sizes a hashed feature dimension."""
    return E.feature_hash_cross(load_table(spark, sf_dir, "events"))


@query(
    "orders_rank_semantics",
    """
WITH g AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) // 100000
           AS value_k,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, value_k, n_orders,
       CAST(rank AS INT) AS rank, CAST(dense_rank AS INT) AS dense_rank,
       CAST(row_number AS INT) AS row_number
FROM (
  SELECT o_orderpriority, value_k, n_orders,
         RANK() OVER (PARTITION BY o_orderpriority
                      ORDER BY n_orders DESC) AS rank,
         DENSE_RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY n_orders DESC) AS dense_rank,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY n_orders DESC, value_k) AS row_number
  FROM g
) WHERE row_number <= 5
""",
)
def orders_rank_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() vs row_number() side by side on tied
    data — the semantics choice every ranking query silently makes,
    shown where they diverge."""
    return R.rank_semantics_audit(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 82 (round 2): difference-in-differences estimator.
# --------------------------------------------------------------------------


@query(
    "lineitem_promo_did",
    f"""
WITH j AS (
  SELECT p_type = 'PROMO' AS treated,
         CAST(o_orderdate AS DATE) >= DATE '{R.DID_CUTOFF}' AS post,
         CAST(l_extendedprice AS DECIMAL(15,2)) AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
),
g AS (
  SELECT treated, post, CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS s
  FROM j GROUP BY treated, post
),
cells AS (
  SELECT treated, post, CAST(s AS DOUBLE) / n AS avg_rev FROM g
)
SELECT
  ROUND((SELECT avg_rev FROM cells WHERE treated AND NOT post), 2)
    AS treated_pre,
  ROUND((SELECT avg_rev FROM cells WHERE treated AND post), 2)
    AS treated_post,
  ROUND((SELECT avg_rev FROM cells WHERE NOT treated AND NOT post), 2)
    AS control_pre,
  ROUND((SELECT avg_rev FROM cells WHERE NOT treated AND post), 2)
    AS control_post,
  ROUND(((SELECT avg_rev FROM cells WHERE treated AND post)
         - (SELECT avg_rev FROM cells WHERE treated AND NOT post))
        - ((SELECT avg_rev FROM cells WHERE NOT treated AND post)
           - (SELECT avg_rev FROM cells WHERE NOT treated AND NOT post)), 2)
    AS did_estimate
""",
)
def lineitem_promo_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on PROMO parts across the
    {R.DID_CUTOFF} cutoff — the causal-readout estimator from four
    conditional DECIMAL cells in one fact pass."""
    return R.promo_did(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "orders"),
    )


# --------------------------------------------------------------------------
# Wave 83 (round 2): Little's-law audit, burst clustering.
# --------------------------------------------------------------------------


@query(
    "orders_littles_law",
    """
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship
  FROM lineitem GROUP BY l_orderkey
),
span AS (
  SELECT CAST(o_orderdate AS DATE) AS s, ship AS e
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
),
deltas AS (
  SELECT d, CAST(SUM(c) AS BIGINT) AS net FROM (
    SELECT s AS d, 1 AS c FROM span
    UNION ALL SELECT e, -1 FROM span
  ) GROUP BY d
),
obd AS (
  SELECT a.d, CAST(SUM(b.net) AS BIGINT) AS open_orders
  FROM deltas a JOIN deltas b ON b.d <= a.d GROUP BY a.d
),
ld AS (
  SELECT CAST(SUM(open_orders) AS DOUBLE) / COUNT(*) AS L,
         CAST(COUNT(*) AS BIGINT) AS n_days_observed
  FROM obd
),
lw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(*) AS DOUBLE) / ((MAX(s) - MIN(s)) + 1.0) AS lam,
         AVG(CAST(e - s AS DOUBLE)) AS W
  FROM span
)
SELECT n_orders,
       ROUND(L, 6) AS avg_open_L,
       ROUND(lam, 6) AS arrival_rate,
       ROUND(W, 6) AS avg_wait_W,
       ROUND(L / (lam * W), 6) AS littles_ratio
FROM ld, lw
""",
)
def orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = λW) consistency audit on the order pipeline —
    WIP from the +1/-1 interval sweep vs arrival-rate x wait; the
    queueing sanity check."""
    return R.littles_law_audit(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "events_burst_clustering",
    f"""
WITH gaps AS (
  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT)
           - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(CASE WHEN gap_s < {E.BURST_WINDOW_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_short,
         CAST(SUM(gap_s) AS DECIMAL(38,0)) AS sum_gap
  FROM g
)
SELECT n_gaps, n_short,
       ROUND(n_short / CAST(n_gaps AS DOUBLE), 6) AS observed_short_share,
       ROUND(1.0 - exp(-(n_gaps / CAST(sum_gap AS DOUBLE))
                       * {float(E.BURST_WINDOW_S)!r}), 6) AS poisson_expected,
       ROUND((n_short / CAST(n_gaps AS DOUBLE))
             / (1.0 - exp(-(n_gaps / CAST(sum_gap AS DOUBLE))
                          * {float(E.BURST_WINDOW_S)!r})), 6)
         AS burstiness_lift
FROM agg
""",
)
def events_burst_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-excitation check: observed short-gap share vs the Poisson
    expectation at the stream's own mean rate — the property that
    invalidates Poisson alert thresholds when >> 1."""
    return E.burst_clustering(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 84 (round 2): EOQ, day-over-day audience overlap.
# --------------------------------------------------------------------------


@query(
    "parts_eoq_top",
    f"""
WITH d AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(20,2))) AS dd
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey,
       ROUND(CAST(dd AS DOUBLE), 2) AS annual_demand,
       ROUND(SQRT(2.0 * CAST(dd AS DOUBLE) * {R.EOQ_SETUP_COST!r}
                  / {R.EOQ_HOLD_COST!r}), 4) AS eoq,
       ROUND(CAST(dd AS DOUBLE)
             / SQRT(2.0 * CAST(dd AS DOUBLE) * {R.EOQ_SETUP_COST!r}
                    / {R.EOQ_HOLD_COST!r}), 4) AS orders_per_period
FROM d ORDER BY annual_demand DESC, l_partkey LIMIT {R.EOQ_TOP_K}
""",
)
def parts_eoq_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantities for the top-demand parts — the
    inventory-theory output downstream of ABC-XYZ."""
    return R.eoq_top_parts(load_table(spark, sf_dir, "lineitem"))


@query(
    "events_day_overlap",
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
sizes AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY d),
inter AS (
  SELECT a.d, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM du a JOIN du b ON b.d = a.d + 1 AND b.user_id = a.user_id
  GROUP BY a.d
)
SELECT s.d AS day, s.n, s2.n AS n_next,
       CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(n_common, 0)
             / CAST(s.n + s2.n - COALESCE(n_common, 0) AS DOUBLE), 6)
         AS jaccard
FROM sizes s
JOIN sizes s2 ON s2.d = s.d + 1
LEFT JOIN inter ON inter.d = s.d
""",
)
def events_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day active-user Jaccard — set-valued stickiness that
    separates 'same people' from 'same count'."""
    return E.day_overlap_jaccard(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 85 (round 2): skyline operator, trade reciprocity.
# --------------------------------------------------------------------------


@query(
    "customers_skyline",
    """
WITH per AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
sky0 AS (
  SELECT * FROM per p WHERE NOT EXISTS (
    SELECT 1 FROM per q
    WHERE q.spend >= p.spend AND q.n_orders >= p.n_orders
      AND (q.spend > p.spend OR q.n_orders > p.n_orders)
  )
)
SELECT MIN(o_custkey) AS o_custkey,
       ROUND(CAST(spend AS DOUBLE), 2) AS total_spend, n_orders
FROM sky0 GROUP BY spend, n_orders
""",
)
def customers_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE operator: customers Pareto-optimal on (total spend,
    order count) — the 2D staircase on the two-phase global rank +
    prefix max, never a pairwise dominance join."""
    return R.customers_skyline(load_table(spark, sf_dir, "orders"))


@query(
    "nation_trade_reciprocity",
    """
WITH edges AS (
  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r
                WHERE r.src = e.dst AND r.dst = e.src)
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_edges, n_mutual,
       ROUND(n_mutual / CAST(n_edges AS DOUBLE), 6) AS reciprocity
FROM n, m
""",
)
def nation_trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-trade share of the directed nation graph — the
    reciprocity coefficient beside PageRank and BFS."""
    return R.trade_reciprocity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
    )


# --------------------------------------------------------------------------
# Wave 86 (round 2): relational division, deterministic Poisson
# bootstrap.
# --------------------------------------------------------------------------


@query(
    "customers_division",
    """
WITH top AS (
  SELECT l_partkey FROM (
    SELECT l_partkey, COUNT(*) AS c FROM lineitem
    GROUP BY 1 ORDER BY c DESC, l_partkey LIMIT 2
  )
),
cov AS (
  SELECT o_custkey, COUNT(DISTINCT l_partkey) AS nc
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_partkey IN (SELECT l_partkey FROM top)
  GROUP BY o_custkey
)
SELECT o_custkey FROM cov WHERE nc = 2 ORDER BY o_custkey
""",
)
def customers_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION: customers who bought ALL of the top-2
    parts — the textbook operator via the count-distinct rewrite."""
    return R.customers_division(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "orders_bootstrap_ci",
    """
WITH b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
           / COUNT(*) AS mean_v,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '0')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m0,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '1')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '2')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m2,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '3')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m3,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '4')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m4,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '5')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m5,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '6')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m6,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '7')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m7,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '8')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m8,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '9')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m9,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '10')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m10,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '11')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m11,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '12')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m12,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '13')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m13,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '14')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m14,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '15')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m15,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '16')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m16,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '17')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m17,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '18')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m18,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)) * (CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS DOUBLE)
         / SUM((CASE WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.36787944117144233 THEN 0 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.7357588823428847 THEN 1 WHEN (CAST(concat('0x', substr(md5(concat_ws('_', CAST(o_orderkey AS VARCHAR), '19')), 1, 8)) AS BIGINT) / 4294967296.0) < 0.9196986029286058 THEN 2 ELSE 3 END)) AS m19
  FROM orders
)
SELECT n_rows, ROUND(mean_v, 2) AS mean_value,
       CAST(20 AS INT) AS n_resamples,
       ROUND(least(m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15, m16, m17, m18, m19), 2) AS boot_lo,
       ROUND(greatest(m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15, m16, m17, m18, m19), 2) AS boot_hi
FROM b
""",
)
def orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap band for the mean order value —
    all 20 resamples as conditional sums in ONE scan,
    weights from exact Poisson(1)-CDF inversion of a shared md5
    uniform."""
    return R.bootstrap_ci(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 87 (round 2): retry collapsing, drill-through provenance,
# keyset pagination.
# --------------------------------------------------------------------------


@query(
    "events_retry_collapse",
    f"""
WITH m AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN gap IS NULL OR gap >= {E.RETRY_GAP_S}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND((COUNT(*) - SUM(CASE WHEN gap IS NULL OR gap >= {E.RETRY_GAP_S}
                             THEN 1 ELSE 0 END))
             / CAST(COUNT(*) AS DOUBLE), 6) AS collapse_rate
FROM m GROUP BY event_type
""",
)
def events_retry_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry collapsing: events within {E.RETRY_GAP_S}s of the previous
    same-(user,type) event fold into it — the telemetry-cleaning rule
    before counting."""
    return E.retry_collapse(load_table(spark, sf_dir, "events"))


@query(
    "revenue_cell_provenance",
    f"""
WITH j AS (
  SELECT n_name, o_orderkey,
         CAST(o_totalprice AS DECIMAL(15,2)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
cells AS (SELECT n_name, SUM(rev) AS cell_rev FROM j GROUP BY n_name),
top_cell AS (
  SELECT n_name, cell_rev FROM cells
  ORDER BY cell_rev DESC, n_name LIMIT 1
)
SELECT j.n_name, o_orderkey,
       ROUND(CAST(rev AS DOUBLE), 2) AS order_value,
       ROUND(CAST(rev AS DOUBLE) / CAST(cell_rev AS DOUBLE), 6)
         AS share_of_cell
FROM j JOIN top_cell ON j.n_name = top_cell.n_name
ORDER BY rev DESC, o_orderkey LIMIT {R.PROVENANCE_TOP}
""",
)
def revenue_cell_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-through lineage for the top rollup cell: its largest
    contributing orders and their cell shares — the "why is this
    number big" answer."""
    return R.revenue_cell_provenance(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@query(
    "orders_keyset_page",
    f"""
SELECT CAST(o_orderdate AS DATE) AS o_date, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS price
FROM orders
WHERE CAST(o_orderdate AS DATE) > DATE '{R.KEYSET_CURSOR[0]}'
   OR (CAST(o_orderdate AS DATE) = DATE '{R.KEYSET_CURSOR[0]}'
       AND o_orderkey > {R.KEYSET_CURSOR[1]})
ORDER BY o_date, o_orderkey LIMIT {R.KEYSET_PAGE}
""",
)
def orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination after a (date, key) cursor — the
    O(page) replacement for OFFSET; the cursor predicate reaches the
    scan as a pushed filter."""
    return finalize_double(
        R.keyset_page(load_table(spark, sf_dir, "orders")), "price"
    )


# --------------------------------------------------------------------------
# Wave 88 (round 2): velocity screening, session fatigue.
# --------------------------------------------------------------------------


@query(
    "orders_velocity_screen",
    f"""
WITH per_day AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(MAX(n) AS BIGINT) AS peak_daily_orders,
       CAST(SUM(CASE WHEN n > {R.VELOCITY_LIMIT} THEN 1 ELSE 0 END) AS BIGINT)
         AS days_over_limit
FROM per_day GROUP BY o_custkey
HAVING MAX(n) > {R.VELOCITY_LIMIT}
""",
)
def orders_velocity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity screening: customers exceeding {R.VELOCITY_LIMIT}
    orders in a day — peak rate and offending-day counts."""
    return R.velocity_screen(load_table(spark, sf_dir, "orders"))


@query(
    "events_session_fatigue",
    f"""
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
s AS (
  SELECT user_id, MIN(ts) AS st, COUNT(*) AS n
  FROM g GROUP BY user_id, sid
),
idx AS (
  SELECT n, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY st) AS s_idx
  FROM s
)
SELECT CAST(s_idx AS INT) AS session_index,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(CAST(n AS DOUBLE)), 6) AS avg_events_per_session
FROM idx WHERE s_idx <= {E.FATIGUE_MAX_IDX}
GROUP BY s_idx
""",
)
def events_session_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-fatigue curve: average session size by per-user
    session index — the novelty-decay readout."""
    return E.session_fatigue(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 89 (round 2): exact-vector dedup, subscription detection.
# --------------------------------------------------------------------------


@query(
    "embedding_exact_dupes",
    f"""
WITH emb_plus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_SHIFT}, embedding
  FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
),
canon AS (
  SELECT vec_id,
         md5(array_to_string(
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> printf('%.6f', ROUND(x, 6))), ',')) AS vec_md5
  FROM emb_plus
)
SELECT vec_md5, CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(vec_id) AS keeper
FROM canon GROUP BY vec_md5 HAVING COUNT(*) > 1
""",
)
def embedding_exact_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vectors by ROUND-6 content address (planted
    copies, same fixture plant as text dedup) — the cheap first pass
    before cosine blocking."""
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_SHIFT).alias("vec_id"), "embedding"
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    return D.embedding_exact_dupes(both)


@query(
    "customers_subscription_detect",
    f"""
WITH g AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE)
           - lag(CAST(o_orderdate AS DATE)) OVER w AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
a AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(gap * gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
  FROM g WHERE gap IS NOT NULL GROUP BY o_custkey
)
SELECT o_custkey, CAST(n_gaps + 1 AS BIGINT) AS n_orders,
       ROUND(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_days,
       ROUND(SQRT(GREATEST((CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_gaps))
               / (n_gaps - 1.0), 0.0))
             / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS gap_cv
FROM a
WHERE n_gaps >= {R.SUBSCRIPTION_MIN_ORDERS - 1}
  AND ROUND(SQRT(GREATEST((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_gaps))
              / (n_gaps - 1.0), 0.0))
            / (CAST(s1 AS DOUBLE) / n_gaps), 6) <= {R.SUBSCRIPTION_CV!r}
""",
)
def customers_subscription_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replenishment/subscription cohort: customers with regular
    inter-order gaps (CV <= {R.SUBSCRIPTION_CV}) over >=
    {R.SUBSCRIPTION_MIN_ORDERS} orders — power-sum-exact regularity."""
    return R.subscription_detect(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 90 (round 2): time-decay attribution.
# --------------------------------------------------------------------------


@query(
    "events_touch_decay_attribution",
    f"""
WITH purchases AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts, ROUND(value, 6) AS p_val
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, event_type AS touch_type, ts AS t_ts
  FROM events WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT p_id, p_val, touch_type,
         ROUND(POWER(0.5, (CAST(FLOOR(epoch(p_ts)) AS BIGINT) - CAST(FLOOR(epoch(t_ts)) AS BIGINT))
                          / {E.DECAY_HALFLIFE_D * 86400.0!r}), 9) AS w
  FROM purchases JOIN touches USING (user_id)
  WHERE t_ts < p_ts
    AND CAST(FLOOR(epoch(p_ts)) AS BIGINT) - CAST(FLOOR(epoch(t_ts)) AS BIGINT) <= {E.DECAY_WINDOW_D * 86400}
),
jd AS (
  SELECT p_id, p_val, touch_type, CAST(w AS DECIMAL(12,9)) AS w FROM j
),
norm AS (SELECT p_id, SUM(w) AS wsum FROM jd GROUP BY p_id),
credit AS (
  SELECT touch_type,
         CAST(ROUND(p_val * CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE), 6)
              AS DECIMAL(21,6)) AS credit
  FROM jd JOIN norm USING (p_id)
)
SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
       ROUND(CAST(SUM(credit) AS DOUBLE), 4) AS credited_value
FROM credit GROUP BY touch_type
""",
)
def events_touch_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution (2^(-age/halflife), per-purchase
    normalized) — the third standard model beside first/last touch;
    rounded-DECIMAL credits."""
    return E.time_decay_attribution(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 91 (round 2): SRE error-budget burn.
# --------------------------------------------------------------------------


@query(
    "events_error_budget",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(n_err) AS BIGINT) AS te
  FROM daily
)
SELECT day, n, n_err,
       ROUND(n_err / CAST(n AS DOUBLE), 6) AS error_rate,
       ROUND((n_err / CAST(n AS DOUBLE)) / {1.0 - E.SLO_TARGET!r}, 6)
         AS burn_rate,
       ROUND(n_err / (CAST(tn AS DOUBLE) * {1.0 - E.SLO_TARGET!r}), 6)
         AS period_budget_share
FROM daily, tot
""",
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget burn vs the {E.SLO_TARGET:.0%} SLO: daily burn rate
    (1.0 = on budget; 14.4x = page) and period budget share — the SRE
    accounting every alert policy is built on."""
    return E.error_budget_burn(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 92 (round 2): catalog storage statistics (ANALYZE surface).
# --------------------------------------------------------------------------


@query(
    "table_storage_stats",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        " TRUE AS files_positive, TRUE AS bytes_positive"
        f" FROM {t}"
        for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        )
    ),
)
def table_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style catalog statistics per fixture table: file count,
    on-disk bytes, row count, bytes/row — the inputs a cost-based
    planner and a compaction policy read.  Byte sizes depend on the
    writer/codec, so the checked projection is the contract form: the
    per-table ROW COUNT (DuckDB recomputes it — a catalog refresh that
    disagrees with COUNT(*) is the bug that matters) plus booleans
    that the listing found files and positive bytes.  The raw
    file/byte columns stay on the full operator output below.

    Scale note: file listing comes from the driver-side filesystem API
    (metadata-only, like a catalog refresh); row counts are one
    count(*) per table — parquet footer-only scans."""
    import os

    from ..sources.loaders import TABLES

    rows = []
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            files = [path]
        n_bytes = sum(os.path.getsize(f) for f in files)
        n_rows = load_table(spark, sf_dir, t).count()
        rows.append((t, len(files), n_bytes, n_rows))
    out = local_frame(
        spark, rows, "table_name string, n_files int, total_bytes long, n_rows long"
    )
    return out.select(
        "table_name",
        "n_rows",
        (F.col("n_files") > 0).alias("files_positive"),
        (F.col("total_bytes") > 0).alias("bytes_positive"),
    )

