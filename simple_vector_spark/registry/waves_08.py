"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, scratch_path

from . import _ORACLES, query
from .core_relational import E, R
from .core_dedup import _H_SQL
from .core_ann import (
    A, ANN_K, ANN_QUERY_ID, T, _CENTS_SQL, _graph_ball, _graph_cells,
    _graph_edges, _seed_codebook,
)
from .core_text import _TK_SQL
from .waves_05 import _NAV_EDGES_SQL, _graph_walk_sql
from .waves_07 import _nsf2_sql



# --------------------------------------------------------------------------
# Wave 216 (round 2): quantile treatment effects for the A/B split.
# --------------------------------------------------------------------------

_QTE_LIST = "[" + ", ".join(repr(q) for q in E.QTE_DECILES) + "]"


@query(
    "events_quantile_effects",
    f"""
WITH users AS (
  SELECT user_id, ROUND(SUM(value), 6) AS y FROM events GROUP BY 1
),
base AS (
  SELECT CAST({_H_SQL.format(v="CAST(user_id AS VARCHAR)")} % 2 AS INT)
           AS arm, y
  FROM users
),
qa AS (SELECT quantile_cont(y, {_QTE_LIST}) AS q FROM base WHERE arm = 0),
qb AS (SELECT quantile_cont(y, {_QTE_LIST}) AS q FROM base WHERE arm = 1)
SELECT CAST(i * 10 AS INT) AS decile,
       ROUND(qa.q[i], 6) + 0.0 AS q_control,
       ROUND(qb.q[i], 6) + 0.0 AS q_treatment,
       ROUND(qb.q[i] - qa.q[i], 6) + 0.0 AS qte
FROM qa CROSS JOIN qb, UNNEST(range(1, 10)) AS u(i)
ORDER BY decile
""",
)
def events_quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile treatment-vs-control quantile differences of user
    total value — where in the distribution the effect lives."""
    return E.quantile_treatment_effects(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 217 (round 2): linear CKA between the full embedding and its
# matryoshka prefixes.
# --------------------------------------------------------------------------


@query(
    "embedding_cka_views",
    f"""
WITH e AS MATERIALIZED (
  SELECT vec_id AS id, i AS a, CAST(embedding[i] AS DOUBLE) AS xa
  FROM embeddings, UNNEST(range(1, {A.CKA_DIM_FULL} + 1)) AS u(i)
),
means AS (
  SELECT a,
         ROUND(CAST(SUM(CAST(xa AS DECIMAL(24,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 9) AS m
  FROM e GROUP BY 1
),
cx AS MATERIALIZED (
  SELECT id, a, xa - m AS x FROM e JOIN means USING (a)
),
p AS (
  SELECT l.a, r.a AS b,
         SUM(CAST(ROUND(l.x * r.x, 9) AS DECIMAL(28,9))) AS p
  FROM cx l JOIN cx r ON l.id = r.id
  GROUP BY 1, 2
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
sums AS (
  SELECT
    SUM(CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 6)
             AS DECIMAL(38,6))) AS sxx,
    SUM(CASE WHEN a <= {A.CKA_DIM_HALF} AND b <= {A.CKA_DIM_HALF}
             THEN CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 6)
                       AS DECIMAL(38,6)) END) AS syy32,
    SUM(CASE WHEN b <= {A.CKA_DIM_HALF}
             THEN CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 6)
                       AS DECIMAL(38,6)) END) AS sxy32,
    SUM(CASE WHEN a <= {A.CKA_DIM_QUARTER} AND b <= {A.CKA_DIM_QUARTER}
             THEN CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 6)
                       AS DECIMAL(38,6)) END) AS syy16,
    SUM(CASE WHEN b <= {A.CKA_DIM_QUARTER}
             THEN CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 6)
                       AS DECIMAL(38,6)) END) AS sxy16
  FROM p
)
SELECT n_vecs,
       ROUND(CAST(sxy32 AS DOUBLE)
             / NULLIF(SQRT(CAST(sxx AS DOUBLE))
                      * SQRT(CAST(syy32 AS DOUBLE)), 0.0), 6) + 0.0
         AS cka_dim32,
       ROUND(CAST(sxy16 AS DOUBLE)
             / NULLIF(SQRT(CAST(sxx AS DOUBLE))
                      * SQRT(CAST(syy16 AS DOUBLE)), 0.0), 6) + 0.0
         AS cka_dim16
FROM sums CROSS JOIN n
""",
)
def embedding_cka_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA of the full 64-dim space vs its 32/16-dim matryoshka
    prefixes — basis-invariant representation similarity from one
    dim-pair gram aggregate."""
    return A.linear_cka_views(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Waves 218-220 (round 2): panel fixed effects, fairness parity audit,
# expected shortfall.
# --------------------------------------------------------------------------


@query(
    "lineitem_panel_fe",
    """
WITH base AS (
  SELECT l_partkey AS i, date_trunc('month', l_shipdate) AS t,
         CAST(l_discount AS DECIMAL(15,2)) AS x,
         CAST(l_quantity AS DECIMAL(15,2)) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
gi AS (
  SELECT i,
         ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS xi,
         ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS yi
  FROM base GROUP BY 1
),
gt AS (
  SELECT t,
         ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS xt,
         ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS yt
  FROM base GROUP BY 1
),
gg AS (
  SELECT ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS xg,
         ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS yg,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base
),
dem AS (
  SELECT n,
         CAST(b.x AS DOUBLE) - xi - xt + xg AS xd,
         CAST(b.y AS DOUBLE) - yi - yt + yg AS yd
  FROM base b JOIN gi USING (i) JOIN gt USING (t) CROSS JOIN gg
),
s AS (
  SELECT n,
         SUM(CAST(ROUND(xd * yd, 6) AS DECIMAL(30,6))) AS sxy,
         SUM(CAST(ROUND(xd * xd, 6) AS DECIMAL(30,6))) AS sxx,
         SUM(CAST(ROUND(yd * yd, 6) AS DECIMAL(30,6))) AS syy
  FROM dem GROUP BY 1
)
SELECT n,
       ROUND(CAST(sxy AS DOUBLE) / NULLIF(CAST(sxx AS DOUBLE), 0.0), 6) + 0.0
         AS fe_slope,
       ROUND(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)
             / NULLIF(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE), 0.0), 6)
         + 0.0 AS within_r2
FROM s
""",
)
def lineitem_panel_fe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects slope of quantity on discount (part +
    ship-month FE via demeaning) — panel econometrics beside the
    pooled elasticity."""
    return R.panel_fixed_effects(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "orders_priority_parity",
    f"""
WITH g AS (
  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_urgent
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
rated AS (
  SELECT segment, n_orders, n_urgent,
         ROUND(CAST(n_urgent AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS rate
  FROM g
),
mx AS (SELECT MAX(rate) AS max_rate FROM rated)
SELECT segment, n_orders, n_urgent,
       rate + 0.0 AS urgent_rate,
       ROUND(rate / NULLIF(max_rate, 0.0), 6) + 0.0 AS impact_ratio,
       CAST(CASE WHEN ROUND(rate / NULLIF(max_rate, 0.0), 6)
                      < {R.FAIRNESS_IMPACT_FLOOR} THEN 1 ELSE 0 END AS INT)
         AS four_fifths_flag
FROM rated CROSS JOIN mx
ORDER BY segment
""",
)
def orders_priority_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-fifths disparate-impact audit of urgent-priority rates
    across market segments."""
    return R.priority_parity_audit(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


@query(
    "orders_expected_shortfall",
    f"""
WITH u AS (
  SELECT ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), {R.ES_ALPHA}), 6)
           AS var
  FROM orders
),
tail AS (
  SELECT MAX(u.var) AS var, CAST(COUNT(*) AS BIGINT) AS n_tail,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS st
  FROM orders CROSS JOIN u
  WHERE CAST(o_totalprice AS DOUBLE) > u.var
)
SELECT var + 0.0 AS var_95, n_tail,
       ROUND(CAST(st AS DOUBLE) / CAST(n_tail AS DOUBLE), 6) + 0.0
         AS expected_shortfall,
       ROUND((CAST(st AS DOUBLE) / CAST(n_tail AS DOUBLE))
             / NULLIF(var, 0.0), 6) + 0.0 AS es_to_var_ratio
FROM tail
""",
)
def orders_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR(95) + expected shortfall of order values — the coherent
    tail-cost summary beside the GPD shape fit."""
    return R.expected_shortfall(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Waves 221-222 (round 2): price-volume-mix bridge; fightin'-words log-odds.
# --------------------------------------------------------------------------


@query(
    "lineitem_pvm_bridge",
    f"""
WITH py AS (
  SELECT l_partkey AS part_id, year(l_shipdate) AS yr,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS rev,
         SUM(CAST(l_quantity AS DECIMAL(15,2))) AS qty
  FROM lineitem
  WHERE year(l_shipdate) IN ({R.PVM_YEARS[0]}, {R.PVM_YEARS[1]})
  GROUP BY 1, 2
  HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > 0
),
priced AS (
  SELECT part_id, yr,
         ROUND(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE), 6) AS p,
         CAST(qty AS DOUBLE) AS q
  FROM py
),
j AS (
  SELECT b.part_id, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
  FROM (SELECT * FROM priced WHERE yr = {R.PVM_YEARS[0]}) b
  JOIN (SELECT * FROM priced WHERE yr = {R.PVM_YEARS[1]}) c USING (part_id)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(CAST(ROUND(p0 * q0, 6) AS DECIMAL(30,6))) AS rev0,
         SUM(CAST(ROUND(p1 * q1, 6) AS DECIMAL(30,6))) AS rev1,
         SUM(CAST(ROUND((p1 - p0) * q1, 6) AS DECIMAL(30,6))) AS price_eff,
         SUM(CAST(ROUND(q0, 6) AS DECIMAL(30,6))) AS tq0,
         SUM(CAST(ROUND(q1, 6) AS DECIMAL(30,6))) AS tq1
  FROM j
)
SELECT n_parts,
       ROUND(CAST(rev0 AS DOUBLE), 2) + 0.0 AS revenue_base,
       ROUND(CAST(rev1 AS DOUBLE), 2) + 0.0 AS revenue_current,
       ROUND(CAST(rev1 AS DOUBLE) - CAST(rev0 AS DOUBLE), 2) + 0.0
         AS delta_total,
       ROUND(CAST(price_eff AS DOUBLE), 2) + 0.0 AS price_effect,
       ROUND((CAST(tq1 AS DOUBLE) / NULLIF(CAST(tq0 AS DOUBLE), 0.0) - 1.0)
             * CAST(rev0 AS DOUBLE), 2) + 0.0 AS volume_effect,
       ROUND((CAST(rev1 AS DOUBLE) - CAST(rev0 AS DOUBLE))
             - CAST(price_eff AS DOUBLE)
             - (CAST(tq1 AS DOUBLE) / NULLIF(CAST(tq0 AS DOUBLE), 0.0) - 1.0)
               * CAST(rev0 AS DOUBLE), 2) + 0.0 AS mix_effect
FROM s
""",
)
def lineitem_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix waterfall of the YoY revenue change over the
    common basket; delta = price + volume + mix exactly."""
    return R.pvm_revenue_bridge(load_table(spark, sf_dir, "lineitem"))


@query(
    "source_fightin_words",
    f"""
WITH toks AS (
  SELECT source, unnest({_TK_SQL}) AS w FROM documents
),
tgt AS (SELECT MIN(source) AS tgt FROM toks),
counts AS (
  SELECT w,
         CAST(SUM(CASE WHEN source = (SELECT tgt FROM tgt)
                       THEN 1 ELSE 0 END) AS BIGINT) AS ya,
         CAST(SUM(CASE WHEN source <> (SELECT tgt FROM tgt)
                       THEN 1 ELSE 0 END) AS BIGINT) AS yb
  FROM toks GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(ya) AS BIGINT) AS na, CAST(SUM(yb) AS BIGINT) AS nb
  FROM counts
),
scored AS (
  SELECT w, ya, yb,
         ln((CAST(ya AS DOUBLE)
             + {T.FW_ALPHA0}
               * CAST(ya + yb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            / (CAST(na AS DOUBLE) + {T.FW_ALPHA0} - CAST(ya AS DOUBLE)
               - {T.FW_ALPHA0} * CAST(ya + yb AS DOUBLE)
                 / CAST(na + nb AS DOUBLE)))
         - ln((CAST(yb AS DOUBLE)
               + {T.FW_ALPHA0} * CAST(ya + yb AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
              / (CAST(nb AS DOUBLE) + {T.FW_ALPHA0} - CAST(yb AS DOUBLE)
                 - {T.FW_ALPHA0} * CAST(ya + yb AS DOUBLE)
                   / CAST(na + nb AS DOUBLE))) AS delta,
         1.0 / (CAST(ya AS DOUBLE) + {T.FW_ALPHA0}
                * CAST(ya + yb AS DOUBLE) / CAST(na + nb AS DOUBLE))
         + 1.0 / (CAST(yb AS DOUBLE) + {T.FW_ALPHA0}
                  * CAST(ya + yb AS DOUBLE) / CAST(na + nb AS DOUBLE)) AS var
  FROM counts CROSS JOIN tot
)
SELECT (SELECT tgt FROM tgt) AS target_source, w, ya, yb,
       ROUND(delta, 6) + 0.0 AS log_odds,
       ROUND(delta / NULLIF(SQRT(var), 0.0), 6) + 0.0 AS z_score
FROM scored
ORDER BY z_score DESC, w ASC
LIMIT {T.FW_TOPK}
""",
)
def source_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe log-odds with informative Dirichlet prior: words
    over-represented in the first source vs the rest, z-scored —
    the house-style / slop-phrase detector."""
    return T.fightin_words(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 223 (round 2): absorbing-chain funnel (fundamental-matrix reads).
# --------------------------------------------------------------------------


@query(
    "events_absorbing_funnel",
    """
WITH seq AS (
  SELECT event_type AS s,
         COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id),
                  '__exit__') AS t
  FROM events
),
trans AS MATERIALIZED (
  SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE s <> 'purchase' GROUP BY 1, 2
),
outs AS MATERIALIZED (
  SELECT s, CAST(SUM(c) AS BIGINT) AS n_out FROM trans GROUP BY 1
),
probs AS MATERIALIZED (
  SELECT trans.s, trans.t,
         ROUND(CAST(c AS DOUBLE) / CAST(n_out AS DOUBLE), 9) AS p
  FROM trans JOIN outs USING (s)
),
q AS MATERIALIZED (
  SELECT * FROM probs WHERE t NOT IN ('purchase', '__exit__')
),
radd AS (SELECT s, p AS a FROM probs WHERE t = 'purchase'),
eprob AS (SELECT s, p AS pe FROM probs WHERE t = '__exit__'),
states AS MATERIALIZED (SELECT s FROM outs),
tv0 AS (SELECT s, CAST(1.0 AS DOUBLE) AS v FROM states),
bv0 AS (
  SELECT states.s, ROUND(COALESCE(radd.a, 0.0), 9) AS v
  FROM states LEFT JOIN radd USING (s)
),
tvq1 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv0 v ON q.t = v.s GROUP BY 1
),
tv1 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq1 ON states.s = tvq1.s
),
bvq1 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv0 v ON q.t = v.s GROUP BY 1
),
bv1 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq1 ON states.s = bvq1.s
),
tvq2 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv1 v ON q.t = v.s GROUP BY 1
),
tv2 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq2 ON states.s = tvq2.s
),
bvq2 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv1 v ON q.t = v.s GROUP BY 1
),
bv2 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq2 ON states.s = bvq2.s
),
tvq3 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv2 v ON q.t = v.s GROUP BY 1
),
tv3 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq3 ON states.s = tvq3.s
),
bvq3 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv2 v ON q.t = v.s GROUP BY 1
),
bv3 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq3 ON states.s = bvq3.s
),
tvq4 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv3 v ON q.t = v.s GROUP BY 1
),
tv4 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq4 ON states.s = tvq4.s
),
bvq4 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv3 v ON q.t = v.s GROUP BY 1
),
bv4 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq4 ON states.s = bvq4.s
),
tvq5 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv4 v ON q.t = v.s GROUP BY 1
),
tv5 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq5 ON states.s = tvq5.s
),
bvq5 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv4 v ON q.t = v.s GROUP BY 1
),
bv5 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq5 ON states.s = bvq5.s
),
tvq6 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv5 v ON q.t = v.s GROUP BY 1
),
tv6 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq6 ON states.s = tvq6.s
),
bvq6 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv5 v ON q.t = v.s GROUP BY 1
),
bv6 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq6 ON states.s = bvq6.s
),
tvq7 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv6 v ON q.t = v.s GROUP BY 1
),
tv7 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq7 ON states.s = tvq7.s
),
bvq7 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv6 v ON q.t = v.s GROUP BY 1
),
bv7 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq7 ON states.s = bvq7.s
),
tvq8 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv7 v ON q.t = v.s GROUP BY 1
),
tv8 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq8 ON states.s = tvq8.s
),
bvq8 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv7 v ON q.t = v.s GROUP BY 1
),
bv8 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq8 ON states.s = bvq8.s
),
tvq9 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv8 v ON q.t = v.s GROUP BY 1
),
tv9 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq9 ON states.s = tvq9.s
),
bvq9 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv8 v ON q.t = v.s GROUP BY 1
),
bv9 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq9 ON states.s = bvq9.s
),
tvq10 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv9 v ON q.t = v.s GROUP BY 1
),
tv10 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq10 ON states.s = tvq10.s
),
bvq10 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv9 v ON q.t = v.s GROUP BY 1
),
bv10 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq10 ON states.s = bvq10.s
),
tvq11 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv10 v ON q.t = v.s GROUP BY 1
),
tv11 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq11 ON states.s = tvq11.s
),
bvq11 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv10 v ON q.t = v.s GROUP BY 1
),
bv11 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq11 ON states.s = bvq11.s
),
tvq12 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv11 v ON q.t = v.s GROUP BY 1
),
tv12 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq12 ON states.s = tvq12.s
),
bvq12 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv11 v ON q.t = v.s GROUP BY 1
),
bv12 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq12 ON states.s = bvq12.s
),
tvq13 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv12 v ON q.t = v.s GROUP BY 1
),
tv13 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq13 ON states.s = tvq13.s
),
bvq13 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv12 v ON q.t = v.s GROUP BY 1
),
bv13 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq13 ON states.s = bvq13.s
),
tvq14 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv13 v ON q.t = v.s GROUP BY 1
),
tv14 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq14 ON states.s = tvq14.s
),
bvq14 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv13 v ON q.t = v.s GROUP BY 1
),
bv14 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq14 ON states.s = bvq14.s
),
tvq15 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv14 v ON q.t = v.s GROUP BY 1
),
tv15 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq15 ON states.s = tvq15.s
),
bvq15 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv14 v ON q.t = v.s GROUP BY 1
),
bv15 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq15 ON states.s = bvq15.s
),
tvq16 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv15 v ON q.t = v.s GROUP BY 1
),
tv16 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq16 ON states.s = tvq16.s
),
bvq16 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv15 v ON q.t = v.s GROUP BY 1
),
bv16 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq16 ON states.s = bvq16.s
),
tvq17 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv16 v ON q.t = v.s GROUP BY 1
),
tv17 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq17 ON states.s = tvq17.s
),
bvq17 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv16 v ON q.t = v.s GROUP BY 1
),
bv17 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq17 ON states.s = bvq17.s
),
tvq18 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv17 v ON q.t = v.s GROUP BY 1
),
tv18 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq18 ON states.s = tvq18.s
),
bvq18 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv17 v ON q.t = v.s GROUP BY 1
),
bv18 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq18 ON states.s = bvq18.s
),
tvq19 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv18 v ON q.t = v.s GROUP BY 1
),
tv19 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq19 ON states.s = tvq19.s
),
bvq19 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv18 v ON q.t = v.s GROUP BY 1
),
bv19 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq19 ON states.s = bvq19.s
),
tvq20 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv19 v ON q.t = v.s GROUP BY 1
),
tv20 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq20 ON states.s = tvq20.s
),
bvq20 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv19 v ON q.t = v.s GROUP BY 1
),
bv20 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq20 ON states.s = bvq20.s
),
tvq21 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv20 v ON q.t = v.s GROUP BY 1
),
tv21 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq21 ON states.s = tvq21.s
),
bvq21 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv20 v ON q.t = v.s GROUP BY 1
),
bv21 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq21 ON states.s = bvq21.s
),
tvq22 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv21 v ON q.t = v.s GROUP BY 1
),
tv22 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq22 ON states.s = tvq22.s
),
bvq22 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv21 v ON q.t = v.s GROUP BY 1
),
bv22 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq22 ON states.s = bvq22.s
),
tvq23 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv22 v ON q.t = v.s GROUP BY 1
),
tv23 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq23 ON states.s = tvq23.s
),
bvq23 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv22 v ON q.t = v.s GROUP BY 1
),
bv23 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq23 ON states.s = bvq23.s
),
tvq24 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN tv23 v ON q.t = v.s GROUP BY 1
),
tv24 AS MATERIALIZED (
  SELECT states.s,
         ROUND(1.0 + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states  LEFT JOIN tvq24 ON states.s = tvq24.s
),
bvq24 AS (
  SELECT q.s,
         SUM(CAST(ROUND(q.p * v.v, 9) AS DECIMAL(20,9))) AS qv
  FROM q JOIN bv23 v ON q.t = v.s GROUP BY 1
),
bv24 AS MATERIALIZED (
  SELECT states.s,
         ROUND(COALESCE(radd.a, 0.0) + CAST(COALESCE(qv, 0) AS DOUBLE), 9) AS v
  FROM states LEFT JOIN radd USING (s) LEFT JOIN bvq24 ON states.s = bvq24.s
)
SELECT outs.s AS state, n_out,
       ROUND(COALESCE(eprob.pe, 0.0), 6) + 0.0 AS p_exit_next,
       ROUND(tv24.v, 6) + 0.0 AS expected_steps,
       ROUND(bv24.v, 6) + 0.0 AS p_end_in_purchase
FROM outs
LEFT JOIN eprob USING (s)
JOIN tv24 ON outs.s = tv24.s
JOIN bv24 ON outs.s = bv24.s
ORDER BY state
""",
)
def events_absorbing_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected remaining events and P(end in purchase) per state via
    Neumann iterations of the fundamental matrix — the absorbing-chain
    layer over the raw Markov transitions."""
    return E.absorbing_chain_funnel(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Waves 224-225 (round 2): WoE/IV feature screen; empirical tail dependence.
# --------------------------------------------------------------------------


@query(
    "events_information_value",
    f"""
WITH base AS (
  SELECT CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS INT)
           AS y,
         'h' || CAST(CAST(FLOOR(hour(ts) / 6) AS INT) AS VARCHAR)
           AS hour_band,
         CAST(CAST(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS INT) AS VARCHAR) AS weekend,
         CASE WHEN value < 50 THEN 'q1' WHEN value < 100 THEN 'q2'
              WHEN value < 150 THEN 'q3' ELSE 'q4' END AS value_band
  FROM events
),
long AS (
  SELECT 'hour_band' AS feature, hour_band AS v, y FROM base
  UNION ALL SELECT 'weekend', weekend, y FROM base
  UNION ALL SELECT 'value_band', value_band, y FROM base
),
cells AS (
  SELECT feature, v, CAST(SUM(y) AS BIGINT) AS g,
         CAST(SUM(1 - y) AS BIGINT) AS b
  FROM long GROUP BY 1, 2
),
tot AS (
  SELECT feature, CAST(SUM(g) AS BIGINT) AS tg, CAST(SUM(b) AS BIGINT) AS tb
  FROM cells GROUP BY 1
),
iv AS (
  SELECT c.feature,
         CAST(SUM(CAST(ROUND(((CAST(g AS DOUBLE) + {E.WOE_SMOOTH})
                              / (CAST(tg AS DOUBLE) + {E.WOE_SMOOTH})
                              - (CAST(b AS DOUBLE) + {E.WOE_SMOOTH})
                                / (CAST(tb AS DOUBLE) + {E.WOE_SMOOTH}))
                             * ln(((CAST(g AS DOUBLE) + {E.WOE_SMOOTH})
                                   / (CAST(tg AS DOUBLE) + {E.WOE_SMOOTH}))
                                  / ((CAST(b AS DOUBLE) + {E.WOE_SMOOTH})
                                     / (CAST(tb AS DOUBLE)
                                        + {E.WOE_SMOOTH}))), 9)
                       AS DECIMAL(18,9))) AS DOUBLE) AS iv
  FROM cells c JOIN tot USING (feature)
  GROUP BY 1
)
SELECT feature,
       ROUND(iv, 6) + 0.0 AS information_value,
       CASE WHEN ROUND(iv, 6) < 0.02 THEN 'useless'
            WHEN ROUND(iv, 6) < 0.1 THEN 'weak'
            WHEN ROUND(iv, 6) < 0.3 THEN 'medium'
            ELSE 'strong' END AS strength
FROM iv
ORDER BY information_value DESC, feature ASC
""",
)
def events_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence information value per feature with strength
    bands — the credit-scoring screen beside MI."""
    return E.woe_information_value(load_table(spark, sf_dir, "events"))


@query(
    "lineitem_tail_dependence",
    f"""
WITH base AS (
  SELECT l_orderkey AS k1, l_linenumber AS k2,
         l_quantity AS q, l_extendedprice AS p
  FROM lineitem
),
rr AS (
  SELECT 2 * RANK() OVER (ORDER BY q) + COUNT(*) OVER (PARTITION BY q) - 1
           AS ax,
         2 * RANK() OVER (ORDER BY p) + COUNT(*) OVER (PARTITION BY p) - 1
           AS ay
  FROM base
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
s AS (
  SELECT MAX(n.n) AS n,
         CAST(SUM(CASE WHEN CAST(ax AS DOUBLE)
                            > {2.0 * R.TAILDEP_Q} * CAST(n.n AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nu,
         CAST(SUM(CASE WHEN CAST(ax AS DOUBLE)
                            > {2.0 * R.TAILDEP_Q} * CAST(n.n AS DOUBLE)
                        AND CAST(ay AS DOUBLE)
                            > {2.0 * R.TAILDEP_Q} * CAST(n.n AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nuv,
         CAST(SUM(CASE WHEN CAST(ax AS DOUBLE)
                            <= {2.0 * (1 - R.TAILDEP_Q)} * CAST(n.n AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         CAST(SUM(CASE WHEN CAST(ax AS DOUBLE)
                            <= {2.0 * (1 - R.TAILDEP_Q)} * CAST(n.n AS DOUBLE)
                        AND CAST(ay AS DOUBLE)
                            <= {2.0 * (1 - R.TAILDEP_Q)} * CAST(n.n AS DOUBLE)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nlv
  FROM rr CROSS JOIN n
)
SELECT n,
       ROUND(CAST(nuv AS DOUBLE) / NULLIF(CAST(nu AS DOUBLE), 0.0), 6) + 0.0
         AS lambda_upper,
       ROUND(CAST(nlv AS DOUBLE) / NULLIF(CAST(nl AS DOUBLE), 0.0), 6) + 0.0
         AS lambda_lower,
       {round(1 - R.TAILDEP_Q, 6)} AS independence_baseline
FROM s
""",
)
def lineitem_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper/lower tail-dependence of quantity x price on
    the rank scale vs the independence baseline — joint-extremes
    dependence correlation can't see."""
    return R.tail_dependence(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 226 (round 2): MSTTR lexical diversity.
# --------------------------------------------------------------------------


@query(
    "source_msttr_diversity",
    f"""
WITH toks AS (
  SELECT doc_id, source, i - 1 AS pos, tk[i] AS t
  FROM (SELECT doc_id, source, {_TK_SQL} AS tk FROM documents),
       UNNEST(range(1, len(tk) + 1)) AS u(i)
),
segs AS (
  SELECT doc_id, source, CAST(FLOOR(pos / {T.MSTTR_WINDOW}) AS BIGINT) AS seg,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS n_typ
  FROM toks GROUP BY 1, 2, 3
  HAVING COUNT(*) = {T.MSTTR_WINDOW}
),
raw AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
  FROM toks GROUP BY 1
),
m AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
         SUM(CAST(ROUND(CAST(n_typ AS DOUBLE) / CAST(n_tok AS DOUBLE), 9)
                  AS DECIMAL(18,9))) AS sttr
  FROM segs GROUP BY 1
)
SELECT r.source, r.n_tokens,
       CAST(COALESCE(m.n_segments, 0) AS BIGINT) AS n_segments,
       ROUND(CAST(m.sttr AS DOUBLE)
             / NULLIF(CAST(m.n_segments AS DOUBLE), 0.0), 6) + 0.0 AS msttr,
       ROUND(CAST(r.n_types AS DOUBLE) / CAST(r.n_tokens AS DOUBLE), 6) + 0.0
         AS raw_ttr
FROM raw r LEFT JOIN m USING (source)
ORDER BY source
""",
)
def source_msttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental TTR per source (window 50) beside the
    length-biased raw TTR — commensurable lexical diversity."""
    return T.msttr_diversity(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 227 (round 2): streaming dead-letter-queue split.
# --------------------------------------------------------------------------


@query(
    "stream_dead_letter",
    f"""
WITH poisoned AS (
  SELECT event_type,
         CASE WHEN {_H_SQL.format(v="CAST(event_id AS VARCHAR)")}
                   % 19 = 0
              THEN substr(props, 1, 3) ELSE props END AS props
  FROM events
),
gated AS (
  -- json_extract must only ever SEE valid JSON: DuckDB's vectorized
  -- AND does not guarantee short-circuit, so `json_valid(x) AND
  -- json_extract(x, ...)` can still evaluate the extract on a
  -- malformed chunk and abort the query (it did at sf0.1, round 5).
  -- Gating the DATA (NULL for invalid rows) is evaluation-order-safe.
  SELECT event_type,
         CASE WHEN json_extract(
                CASE WHEN json_valid(props) THEN props END, '$.k'
              ) IS NOT NULL
              THEN 1 ELSE 0 END AS ok
  FROM poisoned
)
SELECT event_type,
       CAST(SUM(ok) AS BIGINT) AS n_valid,
       CAST(SUM(1 - ok) AS BIGINT) AS n_quarantined,
       ROUND(CAST(SUM(1 - ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
         AS dlq_rate
FROM gated GROUP BY 1 ORDER BY 1
""",
)
def stream_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DLQ split: md5-injected poison rows quarantined by a
    real from_json gate via foreachBatch — per-type accounting equals
    the batch oracle."""
    from ..streaming.jobs import dead_letter_stream

    return dead_letter_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# Wave 228 (round 2): hubness audit of the kNN graph.
# --------------------------------------------------------------------------


@query(
    "embedding_hubness_audit",
    f"""
WITH emb_s AS (
  -- deterministic all-pairs decimation cap (stride 1 at test scale):
  -- same rule as operators.knn._decimated
  SELECT * FROM embeddings
  WHERE vec_id % (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 65536.0) AS BIGINT))
                  FROM embeddings) = 0
),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         unnest(CAST(a.embedding AS DOUBLE[])) AS x,
         unnest(CAST(b.embedding AS DOUBLE[])) AS y
  FROM emb_s a CROSS JOIN emb_s b
  WHERE a.vec_id <> b.vec_id
),
d AS (
  SELECT qid, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d
  FROM pairs GROUP BY qid, cid
),
edges AS (
  SELECT cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY d ASC, cid ASC) AS rnk
    FROM d
  ) WHERE rnk <= {K.HUB_K}
),
nk AS (
  SELECT e.vec_id AS cid, CAST(COALESCE(c.nk, 0) AS BIGINT) AS nk
  FROM emb_s e
  LEFT JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS nk
             FROM edges GROUP BY 1) c ON e.vec_id = c.cid
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(CAST(nk AS DECIMAL(38,0))) AS s1,
         SUM(CAST(nk * nk AS DECIMAL(38,0))) AS s2,
         SUM(CAST(nk * nk * nk AS DECIMAL(38,0))) AS s3,
         MAX(nk) AS max_nk,
         CAST(SUM(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs
  FROM nk
),
mom AS (
  SELECT n_vecs, max_nk, n_antihubs,
         CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS r2,
         CAST(s3 AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS r3
  FROM s
)
SELECT n_vecs,
       ROUND((r3 - 3.0 * m * r2 + 2.0 * m * m * m)
             / NULLIF(SQRT(r2 - m * m) * SQRT(r2 - m * m)
                      * SQRT(r2 - m * m), 0.0), 6) + 0.0 AS nk_skewness,
       max_nk,
       ROUND(CAST(n_antihubs AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) + 0.0
         AS antihub_share
FROM mom
""",
)
def embedding_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence skewness, max hub, antihub share of the 5-NN graph
    — the high-dim pathology dial for vector search."""
    return K.hubness_audit(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Wave 229 (round 2): gravity-model fit of bilateral trade flows.
# --------------------------------------------------------------------------


@query(
    "nation_gravity_model",
    """
WITH flows AS MATERIALIZED (
  SELECT s_nationkey AS i, c_nationkey AS j,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS z
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
),
ex AS (SELECT i, SUM(z) AS mass_i FROM flows GROUP BY 1),
im AS (SELECT j, SUM(z) AS mass_j FROM flows GROUP BY 1),
pts AS (
  SELECT CAST(ROUND(ln(CAST(z AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y,
         CAST(ROUND(ln(CAST(mass_i AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x1,
         CAST(ROUND(ln(CAST(mass_j AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x2
  FROM flows JOIN ex USING (i) JOIN im USING (j)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x1) AS sq, SUM(x2) AS sd, SUM(y) AS sp,
         SUM(x1 * x1) AS sqq, SUM(x2 * x2) AS sdd, SUM(x1 * x2) AS sqd,
         SUM(x1 * y) AS sqp, SUM(x2 * y) AS sdp, SUM(y * y) AS spp
  FROM pts
),
d AS (
  -- decimal -> double through VARCHAR: the sums are DECIMAL(38,18)
  -- whose significands exceed 2^53, and DuckDB's direct decimal cast
  -- is off by 1 ulp for some of them where Spark's BigDecimal cast is
  -- correctly rounded (caught at sf0.1, round 5); strtod on the exact
  -- digit string is correctly rounded in both engines
  SELECT n, CAST(n AS DOUBLE) AS nn,
         CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sqv,
         CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sdv,
         CAST(CAST(sp AS VARCHAR) AS DOUBLE) AS spv,
         CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS sqqv,
         CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddv,
         CAST(CAST(sqd AS VARCHAR) AS DOUBLE) AS sqdv,
         CAST(CAST(sqp AS VARCHAR) AS DOUBLE) AS sqpv,
         CAST(CAST(sdp AS VARCHAR) AS DOUBLE) AS sdpv,
         CAST(CAST(spp AS VARCHAR) AS DOUBLE) AS sppv
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
SELECT n AS n_lanes,
       ROUND(b1, 6) + 0.0 AS export_elasticity,
       ROUND(b2, 6) + 0.0 AS import_elasticity,
       ROUND(1.0 - (sppv - b0 * spv - b1 * sqpv - b2 * sdpv)
                   / NULLIF(sppv - spv * spv / nn, 0.0), 6) + 0.0 AS r2
FROM betas
""",
)
def nation_gravity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model elasticities of bilateral trade on exporter and
    importer masses via closed-form 3x3 normal equations."""
    return R.gravity_model_fit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
    )


# --------------------------------------------------------------------------
# Waves 230-231 (round 2): Ljung-Box white-noise test; CR4/CR8 ratios.
# --------------------------------------------------------------------------


def _ljung_box_oracle() -> str:
    lags = R.LJUNG_BOX_LAGS
    gk_ctes = ",\n".join(
        f"""g{k} AS (
  SELECT SUM(CAST(ROUND(CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE), 6)
                  AS DECIMAL(30,6))) AS g{k}
  FROM cent a JOIN cent b ON a.t = b.t - {k}
)"""
        for k in range(1, lags + 1)
    )
    crosses = " CROSS JOIN ".join(f"g{k}" for k in range(1, lags + 1))
    qsum = " + ".join(
        f"(CAST(g{k} AS DOUBLE) / NULLIF(CAST(g0 AS DOUBLE), 0.0))"
        f" * (CAST(g{k} AS DOUBLE) / NULLIF(CAST(g0 AS DOUBLE), 0.0))"
        f" / (CAST(n AS DOUBLE) - {float(k)})"
        for k in range(1, lags + 1)
    )
    return f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY 1
),
mu AS (
  SELECT CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM monthly
),
cent AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) AS BIGINT) AS t, n,
         CAST(ROUND(CAST(y AS DOUBLE) - mu, 6) AS DECIMAL(24,6)) AS c
  FROM monthly CROSS JOIN mu
),
g0 AS (
  SELECT SUM(CAST(ROUND(CAST(c AS DOUBLE) * CAST(c AS DOUBLE), 6)
                  AS DECIMAL(30,6))) AS g0,
         MAX(n) AS n
  FROM cent
),
{gk_ctes}
SELECT n, {lags} AS lags,
       ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ({qsum}), 6)
         + 0.0 AS ljung_box_q,
       {R.LJUNG_BOX_CRIT} AS crit_5pct,
       CAST(CASE WHEN ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                            * ({qsum}), 6) > {R.LJUNG_BOX_CRIT}
                 THEN 1 ELSE 0 END AS INT) AS autocorrelated
FROM g0 CROSS JOIN {crosses}
"""


@query("orders_ljung_box", _ljung_box_oracle())
def orders_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over lags 1-6 of mean-centered monthly revenue vs
    the 12.592 critical value — the white-noise verdict closing the
    time-series loop."""
    return R.ljung_box_test(load_table(spark, sf_dir, "orders"))


@query(
    "orders_concentration_ratios",
    """
WITH per AS (
  SELECT c_nationkey AS nation,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
tot AS (SELECT SUM(rev) AS trev FROM per),
ranked AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, nation ASC) AS rnk,
         SUM(rev) OVER (ORDER BY rev DESC, nation ASC
                        ROWS UNBOUNDED PRECEDING) AS rev_cum
  FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_players,
       ROUND(CAST(MAX(CASE WHEN rnk = 4 THEN rev_cum END) AS DOUBLE)
             / MAX(CAST(trev AS DOUBLE)), 6) + 0.0 AS cr4,
       ROUND(CAST(MAX(CASE WHEN rnk = 8 THEN rev_cum END) AS DOUBLE)
             / MAX(CAST(trev AS DOUBLE)), 6) + 0.0 AS cr8
FROM ranked CROSS JOIN tot
""",
)
def orders_concentration_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4/CR8 revenue concentration by customer nation off the
    scale-safe prefix-sum rank — the antitrust read beside HHI."""
    return R.concentration_ratios(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


# --------------------------------------------------------------------------
# Waves 232-233 (round 2): forecast-error metric family; part lifecycle.
# --------------------------------------------------------------------------


@query(
    "events_forecast_error_family",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST(y AS DOUBLE) AS y
  FROM daily
),
j AS (
  SELECT c.y AS y1, s.y AS yhat, n.y AS ynaive
  FROM ranked c
  JOIN ranked s ON c.t = s.t + {E.MASE_SEASON}
  JOIN ranked n ON c.t = n.t + 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
         SUM(CAST(ROUND(ABS(y1 - yhat), 6) AS DECIMAL(24,6))) AS sae,
         SUM(CAST(ROUND(y1, 6) AS DECIMAL(24,6))) AS sy,
         SUM(CAST(ROUND(ABS(y1 - yhat)
                        / NULLIF((ABS(y1) + ABS(yhat)) / 2.0, 0.0), 9)
                  AS DECIMAL(18,9))) AS ssmape,
         SUM(CAST(ROUND(ABS(y1 - ynaive), 6) AS DECIMAL(24,6))) AS snaive
  FROM j
)
SELECT n_eval,
       ROUND(CAST(sae AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) + 0.0 AS mae,
       ROUND(CAST(sae AS DOUBLE) / NULLIF(CAST(sy AS DOUBLE), 0.0), 6) + 0.0
         AS wape,
       ROUND(CAST(ssmape AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) + 0.0
         AS smape,
       ROUND((CAST(sae AS DOUBLE) / CAST(n_eval AS DOUBLE))
             / NULLIF(CAST(snaive AS DOUBLE) / CAST(n_eval AS DOUBLE), 0.0),
             6) + 0.0 AS mase,
       CAST(CASE WHEN ROUND((CAST(sae AS DOUBLE) / CAST(n_eval AS DOUBLE))
                            / NULLIF(CAST(snaive AS DOUBLE)
                                     / CAST(n_eval AS DOUBLE), 0.0), 6) < 1.0
                 THEN 1 ELSE 0 END AS INT) AS beats_naive
FROM s
""",
)
def events_forecast_error_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE / WAPE / sMAPE / MASE of the weekly seasonal-naive forecast
    on daily counts — the metric family in one table."""
    return E.forecast_error_metrics(load_table(spark, sf_dir, "events"))


@query(
    "part_lifecycle_stages",
    f"""
WITH pm AS (
  SELECT l_partkey AS part_id, date_trunc('month', l_shipdate) AS m,
         SUM(CAST(l_quantity AS DECIMAL(15,2))) AS q
  FROM lineitem GROUP BY 1, 2
),
horizon AS (SELECT MAX(m) AS maxm FROM pm),
per AS (
  SELECT part_id, MIN(m) AS first_m, MAX(m) AS last_m FROM pm GROUP BY 1
),
halves AS (
  SELECT pm.part_id,
         SUM(CASE WHEN pm.m <= to_timestamp((epoch(p.first_m)
                                             + epoch(p.last_m)) / 2)
                  THEN q END) AS q1,
         SUM(CASE WHEN pm.m > to_timestamp((epoch(p.first_m)
                                            + epoch(p.last_m)) / 2)
                  THEN q END) AS q2
  FROM pm JOIN per p USING (part_id)
  GROUP BY 1
),
tagged AS (
  SELECT p.part_id,
         CASE WHEN p.first_m >= h.maxm - INTERVAL 3 MONTH THEN 'launch'
              WHEN CAST(COALESCE(q2, 0) AS DOUBLE)
                   / NULLIF(CAST(COALESCE(q1, 0) AS DOUBLE), 0.0)
                   > {R.LIFECYCLE_RATIO_HI} THEN 'growth'
              WHEN CAST(COALESCE(q2, 0) AS DOUBLE)
                   / NULLIF(CAST(COALESCE(q1, 0) AS DOUBLE), 0.0)
                   < {R.LIFECYCLE_RATIO_LO} THEN 'decline'
              ELSE 'mature' END AS stage
  FROM per p JOIN halves USING (part_id) CROSS JOIN horizon h
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tagged)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.n_total) AS DOUBLE), 6)
         + 0.0 AS share
FROM tagged CROSS JOIN tot
GROUP BY 1 ORDER BY 1
""",
)
def part_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Launch/growth/mature/decline staging per part from half-vs-half
    demand ratios — the assortment routing table beside SBC."""
    return R.part_lifecycle_stages(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 234 (round 2): per-label silhouette coefficients.
# --------------------------------------------------------------------------


@query(
    "embedding_label_silhouette",
    """
WITH emb_s AS (
  -- deterministic all-pairs decimation cap (stride 1 at test scale):
  -- same rule as operators.knn._decimated
  SELECT * FROM embeddings
  WHERE vec_id % (SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 65536.0) AS BIGINT))
                  FROM embeddings) = 0
),
pairs AS (
  SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS clabel,
         b.vec_id AS cid,
         unnest(CAST(a.embedding AS DOUBLE[])) AS x,
         unnest(CAST(b.embedding AS DOUBLE[])) AS y
  FROM emb_s a CROSS JOIN emb_s b
  WHERE a.vec_id <> b.vec_id
),
d AS (
  -- per-pair distance quantized to integer micros (floor(d*1e6+0.5) on
  -- the identical f64) so the fold is an exact, order-insensitive
  -- integer sum — mirrors knn.label_silhouette's tile kernel
  SELECT qid, qlabel, clabel,
         CAST(FLOOR(SQRT(SUM((x - y) * (x - y))) * 1000000 + 0.5) AS BIGINT)
           AS em
  FROM pairs GROUP BY qid, qlabel, clabel, cid
),
grp AS (
  -- exact integer half-up mean of the micros sum (_mean6_exact recipe)
  SELECT qid, qlabel, clabel,
         ((2 * SUM(em) + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS mean_d
  FROM d GROUP BY 1, 2, 3
),
ab AS (
  SELECT qid, qlabel,
         MAX(CASE WHEN clabel = qlabel THEN mean_d END) AS a_dist,
         MIN(CASE WHEN clabel <> qlabel THEN mean_d END) AS b_dist
  FROM grp GROUP BY 1, 2
),
scored AS (
  SELECT qlabel,
         ROUND((b_dist - a_dist) / NULLIF(GREATEST(a_dist, b_dist), 0.0), 6)
           AS sil
  FROM ab WHERE a_dist IS NOT NULL AND b_dist IS NOT NULL
)
SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(sil AS DECIMAL(12,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mean_silhouette,
       ROUND(CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS negative_share
FROM scored GROUP BY 1 ORDER BY 1
""",
)
def embedding_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean silhouette + negative share per label — the geometric
    separability read beside the LOO behavioral check."""
    return K.label_silhouette(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Waves 235-236 (round 2): gamma inter-purchase fit; price stickiness.
# --------------------------------------------------------------------------


@query(
    "orders_interpurchase_gamma",
    """
WITH gaps AS (
  SELECT CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate)
              AS BIGINT) AS g
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
  QUALIFY LAG(o_orderdate) OVER w IS NOT NULL
     AND date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
         SUM(CAST(g AS DECIMAL(38,0))) AS sg,
         SUM(CAST(g * g AS DECIMAL(38,0))) AS sgg
  FROM gaps
),
fit AS (
  SELECT n_gaps,
         CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS m,
         (CAST(sgg AS DOUBLE)
          - CAST(n_gaps AS DOUBLE)
            * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
            * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
         / (CAST(n_gaps AS DOUBLE) - 1.0) AS v
  FROM s
)
SELECT n_gaps,
       ROUND(m, 6) + 0.0 AS mean_gap_days,
       ROUND(COALESCE(m * m / NULLIF(v, 0.0), 1.0e12), 6) + 0.0
         AS gamma_shape,
       ROUND(v / NULLIF(m, 0.0), 6) + 0.0 AS gamma_scale,
       CASE WHEN ROUND(COALESCE(m * m / NULLIF(v, 0.0), 1.0e12), 6) < 0.8
              THEN 'bursty'
            WHEN ROUND(COALESCE(m * m / NULLIF(v, 0.0), 1.0e12), 6) > 1.2
              THEN 'regular'
            ELSE 'memoryless' END AS rhythm
FROM fit
""",
)
def orders_interpurchase_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma moment fit of inter-purchase gaps with the rhythm class —
    the parametric replenishment model over the CV rule."""
    return R.interpurchase_gamma_fit(load_table(spark, sf_dir, "orders"))


@query(
    "lineitem_price_stickiness",
    f"""
WITH pm AS (
  SELECT l_partkey AS part_id, date_trunc('month', l_shipdate) AS m,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE), 6)
           AS p
  FROM lineitem GROUP BY 1, 2
  HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > 0
),
flagged AS (
  SELECT CAST(CASE WHEN ABS(p - LAG(p) OVER w)
                        > {R.PRICE_STICKY_PCT} * LAG(p) OVER w
              THEN 1 ELSE 0 END AS INT) AS changed
  FROM pm
  WINDOW w AS (PARTITION BY part_id ORDER BY m)
  QUALIFY LAG(p) OVER w IS NOT NULL
     AND date_diff('month', LAG(m) OVER w, m) = 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_adjacent_pairs,
         CAST(SUM(changed) AS BIGINT) AS n_changes
  FROM flagged
)
SELECT n_adjacent_pairs, n_changes,
       ROUND(CAST(n_changes AS DOUBLE)
             / NULLIF(CAST(n_adjacent_pairs AS DOUBLE), 0.0), 6) + 0.0
         AS monthly_change_freq,
       ROUND(1.0 / NULLIF(CAST(n_changes AS DOUBLE)
                          / NULLIF(CAST(n_adjacent_pairs AS DOUBLE), 0.0),
                          0.0), 6) + 0.0 AS mean_spell_months
FROM s
""",
)
def lineitem_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly unit-price change frequency and implied price-spell
    duration — menu-cost stickiness at part grain."""
    return R.price_stickiness(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 237 (round 2): log-rank survival test and Croston forecasting.
# --------------------------------------------------------------------------


@query(
    "customers_logrank_test",
    f"""
WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
per AS (
  SELECT CASE WHEN ANY_VALUE(c.c_mktsegment) = '{R.LOGRANK_SEGMENT}'
              THEN 'A' ELSE 'B' END AS grp,
         CAST(FLOOR(date_diff('day', MIN(o.o_orderdate), MAX(o.o_orderdate))
                    / {R.KM_MONTH_DAYS}.0) AS BIGINT) AS t,
         CASE WHEN date_diff('day', MAX(o.o_orderdate), ANY_VALUE(maxd.md))
                   >= {R.KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS ev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  CROSS JOIN maxd
  GROUP BY o.o_custkey
),
cells AS (
  SELECT grp, t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM per GROUP BY 1, 2
),
grid AS (
  SELECT t, g.grp
  FROM (SELECT DISTINCT t FROM cells)
  CROSS JOIN (SELECT 'A' AS grp UNION ALL SELECT 'B') g
),
tot AS (SELECT grp, CAST(SUM(m) AS BIGINT) AS ntot FROM cells GROUP BY 1),
full_g AS (
  SELECT grid.grp, grid.t,
         COALESCE(c.d, 0) AS d, COALESCE(c.m, 0) AS m,
         tot.ntot
           - COALESCE(SUM(COALESCE(c.m, 0)) OVER (
               PARTITION BY grid.grp ORDER BY grid.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grid
  LEFT JOIN cells c ON c.grp = grid.grp AND c.t = grid.t
  JOIN tot ON tot.grp = grid.grp
),
byt AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS dt,
         CAST(SUM(CASE WHEN grp = 'A' THEN d ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(n_risk) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN grp = 'A' THEN n_risk ELSE 0 END) AS BIGINT)
           AS n1
  FROM full_g GROUP BY 1
),
terms AS (
  SELECT d1,
         CAST(ROUND(CAST(dt AS DOUBLE)
                    * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS e1,
         CAST(ROUND(CAST(dt AS DOUBLE)
                    * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                    * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
                    * CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE), 9)
              AS DECIMAL(28,9)) AS v
  FROM byt WHERE dt > 0 AND nt > 1
),
s AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS observed_a,
         CAST(SUM(e1) AS DOUBLE) AS e, CAST(SUM(v) AS DOUBLE) AS v
  FROM terms
),
na AS (
  SELECT CAST(SUM(CASE WHEN grp = 'A' THEN ntot ELSE 0 END) AS BIGINT)
           AS n_group_a,
         CAST(SUM(CASE WHEN grp = 'B' THEN ntot ELSE 0 END) AS BIGINT)
           AS n_group_b
  FROM tot
),
c2 AS (
  SELECT n_group_a, n_group_b, observed_a, e,
         (CAST(observed_a AS DOUBLE) - e) * (CAST(observed_a AS DOUBLE) - e)
           / NULLIF(v, 0.0) AS chi2
  FROM s CROSS JOIN na
)
SELECT n_group_a, n_group_b, observed_a,
       ROUND(e, 6) + 0.0 AS expected_a,
       ROUND(chi2, 6) + 0.0 AS chi2,
       ROUND({_nsf2_sql("SQRT(chi2)")}, 6) + 0.0 AS p_value
FROM c2
""",
)
def customers_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank test: does the BUILDING segment churn at a
    different hazard than everyone else?"""
    return R.logrank_test(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@query(
    "parts_croston_forecast",
    f"""
WITH pm AS (
  SELECT l_partkey AS part_id, date_trunc('month', l_shipdate) AS m,
         SUM(CAST(l_quantity AS DECIMAL(15,2))) AS q
  FROM lineitem GROUP BY 1, 2
  HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > 0
),
m0 AS (SELECT MIN(m) AS first_m FROM pm),
seq AS (
  SELECT part_id, m, CAST(q AS DOUBLE) AS z,
         CASE WHEN LAG(m) OVER w IS NULL
              THEN CAST(date_diff('month', m0.first_m, m) AS DOUBLE) + 1.0
              ELSE CAST(date_diff('month', LAG(m) OVER w, m) AS DOUBLE)
         END AS gap
  FROM pm CROSS JOIN m0
  WINDOW w AS (PARTITION BY part_id ORDER BY m)
),
packed AS (
  SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_demand_months,
         list(z ORDER BY m) AS zs, list(gap ORDER BY m) AS gs
  FROM seq GROUP BY 1 HAVING COUNT(*) >= {R.CROSTON_MIN_MONTHS}
),
sm AS (
  SELECT part_id, n_demand_months,
         list_reduce(zs, (acc, x) -> {R.CROSTON_ALPHA} * x
                                     + {1.0 - R.CROSTON_ALPHA} * acc) AS zh,
         list_reduce(gs, (acc, x) -> {R.CROSTON_ALPHA} * x
                                     + {1.0 - R.CROSTON_ALPHA} * acc) AS ph
  FROM packed
)
SELECT part_id, n_demand_months,
       ROUND(zh, 6) + 0.0 AS z_hat,
       ROUND(ph, 6) + 0.0 AS p_hat,
       ROUND(zh / NULLIF(ph, 0.0), 6) + 0.0 AS croston_fc,
       ROUND({1.0 - R.CROSTON_ALPHA / 2.0} * (zh / NULLIF(ph, 0.0)), 6)
         + 0.0 AS sba_fc
FROM sm
ORDER BY sba_fc DESC, part_id
LIMIT {R.CROSTON_TOP}
""",
)
def parts_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston/SBA intermittent-demand forecast per part — the
    forecasting family parts_sbc_classification prescribes."""
    return R.croston_forecast(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 238 (round 2): Brier decomposition and purchase streaks.
# --------------------------------------------------------------------------


@query(
    "orders_brier_decomposition",
    f"""
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c),
scored AS (
  SELECT cents - lo AS c0, hi - lo AS d, y FROM c CROSS JOIN rng
),
pb AS (
  SELECT LEAST((c0 * {R.CALIBRATION_BINS}) // (d + 1),
               {R.CALIBRATION_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(c0) AS s1,
         SUM(c0 * c0) AS s2,
         SUM(CASE WHEN y = 1 THEN c0 ELSE 0 END) AS s1y,
         CAST(SUM(y) AS BIGINT) AS ny,
         ANY_VALUE(d) AS d
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
         CAST(SUM(ny) AS BIGINT) AS nyt,
         SUM(s2) AS s2t, SUM(s1y) AS s1yt,
         ANY_VALUE(d) AS d
  FROM pb
),
terms AS (
  SELECT CAST(ROUND(CAST(n AS DOUBLE)
               * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
                    / CAST(pb.d AS DOUBLE)
                  - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
                    / CAST(pb.d AS DOUBLE)
                  - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(tot.n_orders AS DOUBLE), 9) AS DECIMAL(28,9)) AS rel_t,
         CAST(ROUND(CAST(n AS DOUBLE)
               * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tot.nyt AS DOUBLE) / CAST(tot.n_orders AS DOUBLE))
               * (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tot.nyt AS DOUBLE) / CAST(tot.n_orders AS DOUBLE))
               / CAST(tot.n_orders AS DOUBLE), 9) AS DECIMAL(28,9)) AS res_t
  FROM pb CROSS JOIN tot
),
sums AS (
  SELECT CAST(SUM(rel_t) AS DOUBLE) AS rel,
         CAST(SUM(res_t) AS DOUBLE) AS res
  FROM terms
)
SELECT n_orders,
       ROUND(CAST(nyt AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) + 0.0
         AS base_rate,
       ROUND((CAST(s2t AS DOUBLE)
                / (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
              - 2.0 * CAST(s1yt AS DOUBLE) / CAST(d AS DOUBLE)
              + CAST(nyt AS DOUBLE)) / CAST(n_orders AS DOUBLE), 6) + 0.0
         AS brier_score,
       ROUND(rel, 6) + 0.0 AS reliability,
       ROUND(res, 6) + 0.0 AS resolution,
       ROUND((CAST(nyt AS DOUBLE) / CAST(n_orders AS DOUBLE))
             * (1.0 - CAST(nyt AS DOUBLE) / CAST(n_orders AS DOUBLE)), 6)
         + 0.0 AS uncertainty,
       ROUND(rel - res
             + (CAST(nyt AS DOUBLE) / CAST(n_orders AS DOUBLE))
               * (1.0 - CAST(nyt AS DOUBLE) / CAST(n_orders AS DOUBLE)), 6)
         + 0.0 AS brier_binned
FROM tot CROSS JOIN sums
""",
)
def orders_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability /
    resolution / uncertainty) over the calibration-bins convention."""
    return R.brier_decomposition(load_table(spark, sf_dir, "orders"))


@query(
    "customers_order_streaks",
    """
WITH cm AS (
  SELECT DISTINCT o_custkey AS cust,
         year(o_orderdate) * 12 + month(o_orderdate) AS idx
  FROM orders
),
isl AS (
  SELECT cust,
         idx - ROW_NUMBER() OVER (PARTITION BY cust ORDER BY idx) AS isl
  FROM cm
),
st AS (
  SELECT cust, isl, CAST(COUNT(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2
),
best AS (SELECT cust, MAX(len) AS longest FROM st GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM best)
SELECT longest AS streak_months,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(tot.n) AS DOUBLE), 6)
         + 0.0 AS share
FROM best CROSS JOIN tot
GROUP BY 1
""",
)
def customers_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands longest consecutive-month purchase streak per
    customer, rolled into a histogram."""
    return R.order_streaks(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 239 (round 2): Kendall tau-b and trade-graph closeness.
# --------------------------------------------------------------------------


@query(
    "orders_kendall_tau",
    f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) * 100 AS BIGINT) AS y
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT a.x - b.x AS dx, a.y - b.y AS dy
  FROM monthly a JOIN monthly b ON a.m < b.m
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant,
         CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
         CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM pairs
),
nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly),
c2 AS (
  SELECT n_months, concordant, discordant, ties_x, ties_y,
         CAST(concordant - discordant AS DOUBLE)
           / NULLIF(SQRT(CAST(n0 - ties_x AS DOUBLE)
                         * CAST(n0 - ties_y AS DOUBLE)), 0.0) AS tau,
         3.0 * CAST(concordant - discordant AS DOUBLE)
           / SQRT(CAST(n_months AS DOUBLE)
                  * (CAST(n_months AS DOUBLE) - 1.0)
                  * (2.0 * CAST(n_months AS DOUBLE) + 5.0) / 2.0) AS z
  FROM s CROSS JOIN nm
)
SELECT n_months, concordant, discordant, ties_x, ties_y,
       ROUND(tau, 6) + 0.0 AS tau_b,
       ROUND(z, 6) + 0.0 AS z_stat,
       ROUND({_nsf2_sql("ABS(z)")}, 6) + 0.0 AS p_value
FROM c2
""",
)
def orders_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between monthly order count and monthly revenue
    with normal-approximation z and p."""
    return R.kendall_tau_monthly(load_table(spark, sf_dir, "orders"))


@query(
    "nation_trade_closeness",
    f"""
WITH RECURSIVE ew AS (
  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
),
e3 AS (
  SELECT src AS u, dst AS v FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY w DESC, dst) AS rn
    FROM ew
  ) WHERE rn <= 3
),
und AS (SELECT u, v FROM e3 UNION SELECT v AS u, u AS v FROM e3),
paths(u, v, d) AS (
  SELECT u, v, 1 AS d FROM und
  UNION ALL
  SELECT p.u, e.v, p.d + 1
  FROM paths p JOIN und e ON p.v = e.u
  WHERE p.d < {R.HARMONIC_MAX_HOPS} AND e.v <> p.u
),
dist AS (SELECT u, v, MIN(d) AS d FROM paths GROUP BY 1, 2)
SELECT u AS nation_key,
       CAST(COUNT(*) AS BIGINT) AS n_reachable,
       ROUND(CAST(SUM(CAST(ROUND(1.0 / CAST(d AS DOUBLE), 9)
                           AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0
         AS harmonic_centrality,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(d) AS DOUBLE), 6) + 0.0
         AS closeness
FROM dist
GROUP BY 1
""",
)
def nation_trade_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded harmonic + closeness centrality on the undirected
    top-3 major-lane nation trade graph."""
    return R.trade_closeness(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
    )


# --------------------------------------------------------------------------
# Wave 240 (round 2): Granger causality and process capability.
# --------------------------------------------------------------------------


@query(
    "orders_granger_revenue",
    f"""
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT a.cents AS x, a.cnt AS z, b.cents AS y
  FROM monthly a JOIN monthly b ON b.idx = a.idx + 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(z AS HUGEINT)) AS sz,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(z AS HUGEINT) * z) AS szz,
         SUM(CAST(x AS HUGEINT) * z) AS sxz,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(z AS HUGEINT) * y) AS szy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM p
),
c AS (
  SELECT n,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
           / CAST(n AS DOUBLE) AS cxx,
         CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
           / CAST(n AS DOUBLE) AS czz,
         CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
           / CAST(n AS DOUBLE) AS cxz,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
           / CAST(n AS DOUBLE) AS cxy,
         CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE)
           / CAST(n AS DOUBLE) AS czy,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
           / CAST(n AS DOUBLE) AS cyy
  FROM s
),
m AS (
  SELECT n, cxx, czz, cxz, cxy, czy, cyy,
         cyy - cxy * cxy / cxx AS rss_r,
         cxx * czz - cxz * cxz AS det
  FROM c
),
m2 AS (
  SELECT n, cxy, czy, cyy, rss_r,
         (cxy * czz - czy * cxz) / det AS b1,
         (czy * cxx - cxy * cxz) / det AS b2
  FROM m
),
m3 AS (SELECT n, cyy, rss_r, b2,
              cyy - b1 * cxy - b2 * czy AS rss_u FROM m2),
m4 AS (
  SELECT n, cyy, rss_r, rss_u, b2,
         (rss_r - rss_u) * (CAST(n AS DOUBLE) - 3.0) / rss_u AS f
  FROM m3
)
SELECT n AS n_obs,
       ROUND(1.0 - rss_r / cyy, 6) + 0.0 AS r2_restricted,
       ROUND(1.0 - rss_u / cyy, 6) + 0.0 AS r2_unrestricted,
       ROUND(b2 / 100.0, 6) + 0.0 AS beta_count_lag,
       ROUND(f, 6) + 0.0 AS f_stat,
       ROUND({_nsf2_sql("SQRT(GREATEST(f, 0.0))")}, 6) + 0.0 AS p_value
FROM m4
""",
)
def orders_granger_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger test: does last month's order count improve the
    revenue forecast beyond last month's revenue?"""
    return R.granger_revenue(load_table(spark, sf_dir, "orders"))


@query(
    "lineitem_process_capability",
    f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(15,2)) AS DECIMAL(38,2)))
           AS s1,
         SUM(CAST(CAST(l_quantity AS DECIMAL(15,2))
                  * CAST(l_quantity AS DECIMAL(15,2)) AS DECIMAL(38,4)))
           AS s2,
         CAST(SUM(CASE WHEN CAST(l_quantity AS DECIMAL(15,2)) < {R.CPK_LSL}
                         OR CAST(l_quantity AS DECIMAL(15,2)) > {R.CPK_USL}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_oos
  FROM lineitem
),
d AS (
  SELECT n, n_oos,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         SQRT((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE)
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
              / (CAST(n AS DOUBLE) - 1.0)) AS sd
  FROM s
),
k AS (
  SELECT n, n_oos, m, sd,
         {R.CPK_USL - R.CPK_LSL} / (6.0 * sd) AS cp,
         LEAST({R.CPK_USL} - m, m - {R.CPK_LSL}) / (3.0 * sd) AS cpk
  FROM d
)
SELECT n AS n_lines,
       ROUND(m, 6) + 0.0 AS mean_qty,
       ROUND(sd, 6) + 0.0 AS sd_qty,
       ROUND(cp, 6) + 0.0 AS cp,
       ROUND(cpk, 6) + 0.0 AS cpk,
       ROUND(CAST(n_oos AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6, 6) + 0.0
         AS observed_oos_ppm,
       ROUND({_nsf2_sql("(3.0 * cpk)")} / 2.0 * 1.0e6, 6) + 0.0
         AS normal_theory_ppm
FROM k
""",
)
def lineitem_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cp/Cpk process capability of lineitem quantity against fixed
    spec limits, with observed vs normal-theory out-of-spec PPM."""
    return R.process_capability(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 241 (round 2): trained NB language ID and Good-Turing discounts.
# --------------------------------------------------------------------------


@query(
    "text_nb_langid_confusion",
    f"""
WITH dg AS (
  SELECT doc_id, lang, unnest(
    CASE WHEN length(lower(text)) >= 3
         THEN list_transform(range(1, length(lower(text)) - 1),
                             i -> substr(lower(text), i, 3))
         ELSE [] END) AS g
  FROM documents
),
train AS (SELECT * FROM dg WHERE doc_id % {T.NB_TRAIN_MOD} = 0),
test AS (
  SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM dg WHERE doc_id % {T.NB_TRAIN_MOD} <> 0 GROUP BY 1, 2, 3
),
counts AS (
  SELECT lang AS plang, g, CAST(COUNT(*) AS BIGINT) AS n
  FROM train GROUP BY 1, 2
),
lang_tot AS (SELECT plang, CAST(SUM(n) AS BIGINT) AS tot
             FROM counts GROUP BY 1),
vocab AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS v FROM counts),
trd AS (
  SELECT lang AS plang, CAST(COUNT(*) AS BIGINT) AS nl
  FROM documents WHERE doc_id % {T.NB_TRAIN_MOD} = 0 GROUP BY 1
),
ntrd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntr
         FROM documents WHERE doc_id % {T.NB_TRAIN_MOD} = 0),
langs AS (
  SELECT trd.plang, nl, ntr, tot, v
  FROM trd JOIN lang_tot ON trd.plang = lang_tot.plang
  CROSS JOIN ntrd CROSS JOIN vocab
),
cand AS (
  SELECT t.doc_id, t.lang, l.plang,
         CAST(ROUND(CAST(t.cnt AS DOUBLE)
              * ln((CAST(COALESCE(c.n, 0) AS DOUBLE) + 1.0)
                   / (CAST(l.tot AS DOUBLE) + CAST(l.v AS DOUBLE))), 9)
              AS DECIMAL(28,9)) AS term,
         CAST(ROUND(ln(CAST(l.nl AS DOUBLE) / CAST(l.ntr AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS prior
  FROM test t CROSS JOIN langs l
  LEFT JOIN counts c ON c.plang = l.plang AND c.g = t.g
),
scores AS (
  SELECT doc_id, lang, plang, SUM(term) + ANY_VALUE(prior) AS score
  FROM cand GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, lang, plang FROM (
    SELECT doc_id, lang, plang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, plang) AS r
    FROM scores
  ) WHERE r = 1
)
SELECT lang AS lang_true, plang AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       lang = plang AS correct
FROM best GROUP BY 1, 2
""",
)
def text_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained multinomial NB language classifier (char trigrams,
    Laplace smoothing) evaluated on the doc_id-parity holdout."""
    return T.nb_langid_confusion(load_table(spark, sf_dir, "documents"))


@query(
    "vocab_good_turing",
    f"""
WITH tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS r
  FROM (SELECT doc_id, unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY 1, 2
),
spec AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM tf GROUP BY 1),
ntot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens FROM tf)
SELECT a.r, a.nr AS n_r, b.nr AS n_r_plus_1,
       ROUND(CAST(a.r + 1 AS DOUBLE) * CAST(b.nr AS DOUBLE)
             / CAST(a.nr AS DOUBLE), 6) + 0.0 AS r_star,
       ROUND(CAST(a.r + 1 AS DOUBLE) * CAST(b.nr AS DOUBLE)
             / CAST(a.nr AS DOUBLE) / CAST(a.r AS DOUBLE), 6) + 0.0
         AS discount_ratio,
       ROUND(CAST(a.r + 1 AS DOUBLE) * CAST(b.nr AS DOUBLE)
             / CAST(a.nr AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) + 0.0
         AS p_good_turing
FROM spec a JOIN spec b ON b.r = a.r + 1 CROSS JOIN ntot
WHERE a.r <= {T.GT_MAX_R}
""",
)
def vocab_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing adjusted counts r* and discount ratios for low
    token frequencies."""
    return T.good_turing_discounts(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 237 (round 3): graph-ANN parity with IVF — the measured
# recall-vs-beam curve (the reference's ef_search dial,
# src/hnswlib_index.cc:27-53) and the incremental upsert/maintenance
# audit mirroring ivf_index_upsert_audit.
# --------------------------------------------------------------------------


def _beam_recall_sql() -> str:
    walks, rows = [], []
    for b in A.GRAPH_RECALL_BEAMS:
        p = f"b{b}"
        walks.append(
            f"""s0{p} AS (SELECT vec_id AS id, d FROM qd
        WHERE vec_id IN ({_CENTS_SQL})),
f0{p} AS (SELECT id FROM s0{p} ORDER BY d, id LIMIT {b}),
{_graph_walk_sql(beam=b, p=p)}"""
        )
        rows.append(
            f"""SELECT CAST({b} AS INT) AS beam,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM (SELECT id FROM visited{p} ORDER BY d, id LIMIT {ANN_K}) t
WHERE id IN (SELECT vec_id FROM exact_top)"""
        )
    return ",\n".join(walks) + "\n" + "\nUNION ALL\n".join(rows)


@query(
    "ann_recall_vs_beam",
    f"""
WITH {_NAV_EDGES_SQL},
edges AS MATERIALIZED (SELECT src, nbr FROM rk WHERE rnk <= {A.GRAPH_DEGREE}),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       WHERE vec_id = {ANN_QUERY_ID}),
qe AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x,
              unnest(q.v) AS y
       FROM embeddings e CROSS JOIN qv q),
qd AS MATERIALIZED (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS d
      FROM qe GROUP BY vec_id),
exact_top AS (SELECT vec_id FROM qd ORDER BY d, vec_id LIMIT {ANN_K}),
{_beam_recall_sql()}
""",
)
def ann_recall_vs_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN tuning curve: measured recall@{ANN_K} for beam widths
    {A.GRAPH_RECALL_BEAMS} — the navigable graph's ef_search dial
    (include/hnswlib_index.h:16, src/hnswlib_index.cc:27-53), the
    graph twin of ann_recall_vs_nprobe: one edge build + one exact
    top-k baseline shared across walks, each walk frontier-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.graph_recall_vs_beam(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS), ANN_QUERY_ID, ANN_K,
        edges=_graph_edges(spark, sf_dir),
        ball=_graph_ball(spark, sf_dir),
    )


@query(
    "graph_index_upsert_audit",
    f"""
WITH {_NAV_EDGES_SQL},
eb AS MATERIALIZED (SELECT src, nbr, dist FROM rk WHERE rnk <= {A.GRAPH_DEGREE}),
upd AS (SELECT vec_id FROM embeddings WHERE vec_id % {A.GRAPH_UPD_MOD} = 0),
batch AS MATERIALIZED (
  SELECT vec_id, list_reverse(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings WHERE vec_id % {A.GRAPH_UPD_MOD} = 0
  UNION ALL
  SELECT vec_id + {A.GRAPH_INS_SHIFT}, CAST(embedding AS DOUBLE[])
  FROM embeddings WHERE vec_id % {A.GRAPH_INS_MOD} = 0
),
after_corpus AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id NOT IN (SELECT vec_id FROM batch)
  UNION ALL SELECT vec_id, v FROM batch
),
bpc AS (
  SELECT b.vec_id, c.cid, unnest(b.v) AS x, unnest(c.cv) AS y
  FROM batch b CROSS JOIN cents c
),
bcd AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d
        FROM bpc GROUP BY vec_id, cid),
bassign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM bcd
  ) WHERE rn <= {A.GRAPH_ASSIGN}
),
affected AS (SELECT DISTINCT cell FROM bassign),
old_assign AS (
  SELECT vec_id, cell FROM assign
  WHERE vec_id NOT IN (SELECT vec_id FROM batch)
),
members AS MATERIALIZED (
  SELECT a.cell, a.vec_id, ac.v
  FROM (SELECT * FROM old_assign UNION ALL SELECT * FROM bassign) a
  JOIN affected USING (cell)
  JOIN after_corpus ac ON ac.vec_id = a.vec_id
),
fpairs AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr
  FROM members a JOIN members b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
),
fpe AS (
  SELECT p.src, p.nbr, unnest(ca.v) AS x, unnest(cb.v) AS y
  FROM fpairs p
  JOIN after_corpus ca ON ca.vec_id = p.src
  JOIN after_corpus cb ON cb.vec_id = p.nbr
),
fresh AS (SELECT src, nbr, ROUND(SUM((x - y) * (x - y)), 6) AS dist
          FROM fpe GROUP BY src, nbr),
valid_old AS (
  SELECT src, nbr, dist FROM eb
  WHERE src NOT IN (SELECT vec_id FROM upd)
    AND nbr NOT IN (SELECT vec_id FROM upd)
),
aff_srcs AS (SELECT DISTINCT vec_id AS src FROM members),
merged AS (
  SELECT src, nbr, MIN(dist) AS dist FROM (
    SELECT v.* FROM valid_old v JOIN aff_srcs USING (src)
    UNION ALL SELECT * FROM fresh
  ) GROUP BY src, nbr
),
rer AS (
  SELECT src, nbr FROM (
    SELECT src, nbr,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, nbr) AS rk
    FROM merged
  ) WHERE rk <= {A.GRAPH_DEGREE}
),
ea AS MATERIALIZED (
  SELECT v.src, v.nbr FROM valid_old v
  WHERE v.src NOT IN (SELECT src FROM aff_srcs)
  UNION ALL SELECT src, nbr FROM rer
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM batch) AS n_batch_rows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM affected) AS n_affected_cells,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM eb) AS n_edges_before,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ea) AS n_edges_after,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM eb
   WHERE NOT EXISTS (SELECT 1 FROM ea
                     WHERE ea.src = eb.src AND ea.nbr = eb.nbr)) AS n_dropped,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ea
   WHERE NOT EXISTS (SELECT 1 FROM eb
                     WHERE eb.src = ea.src AND eb.nbr = ea.nbr)) AS n_added,
  (SELECT CAST(MAX(cnt) AS BIGINT) FROM
    (SELECT COUNT(*) AS cnt FROM ea GROUP BY src)) AS max_out_degree
""",
)
def graph_index_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental navigable-graph maintenance: deterministic upsert
    batch, affected-cell-only edge repair (stale edges drop on either
    updated endpoint — HNSW's lazy markDelete, src/hnswlib_index.cc:
    55-80), before/after edge accounting + the degree-cap check.  Cost
    O(affected cells), never O(corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.graph_index_upsert_audit(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS),
        edges_before=_graph_edges(spark, sf_dir),
        base_cells=_graph_cells(spark, sf_dir),
    )


@query("graph_index_persist_roundtrip", _ORACLES["knn_graph_search"])
def graph_index_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O19 for the GRAPH index (hnswlib saveIndex/loadIndex,
    src/hnswlib_index.cc:55-67): the navigable edge table IS the
    index artifact — write it as Parquet partitioned on a 16-way src
    hash bucket (the layout a serving shard prunes on when hydrating
    its edge partitions), read it back, and run the SAME greedy beam
    search over the RELOADED edges.  Result equals knn_graph_search
    (shared oracle), proving the round trip lossless — the graph twin
    of ann_ivf_partitioned's persisted IVF layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = _graph_edges(spark, sf_dir)
    path = scratch_path("graph_index", sf_dir)
    (
        edges.withColumn("bucket", (F.col("vec_id") % 16).cast("int"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    reloaded = spark.read.parquet(path).select(
        "vec_id", "nbr_id", "dist", "rnk"
    )
    return A.knn_graph_greedy_search(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS), ANN_QUERY_ID, ANN_K,
        edges=reloaded,
    )

