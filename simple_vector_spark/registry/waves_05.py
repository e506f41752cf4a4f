"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table

from . import finalize_double, query
from .core_relational import E, R
from .core_dedup import D, MINHASH_A, _DOCS_PLUS_SQL, _SIG_COLS_SQL, _TOKS_SQL, _cached_index, _docs_plus_spark, _minhash_pairs
from .core_ann import A, ANN_K, ANN_QUERY_ID, T, _CENTS_SQL, _PQ_SQL, _graph_edges, _seed_codebook, _trained_pq
from .core_text import _PROFILE_SQL, _TK_SQL
from .core_multimodal_streaming import MM
from .waves_01 import CU, SK



# --------------------------------------------------------------------------
# Wave 93 (round 2): PQ reconstruction distortion.
# --------------------------------------------------------------------------


@query(
    "ann_pq_distortion",
    f"""
WITH {_PQ_SQL},
mind AS (SELECT vec_id, s, MIN(d) AS md FROM encdist GROUP BY vec_id, s),
per_vec AS (
  SELECT vec_id,
         CAST(SUM(CAST(md AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS dist
  FROM mind GROUP BY vec_id
),
norm2 AS (
  SELECT vec_id, CAST(ROUND(SUM(x * x), 6) AS DECIMAL(18,6)) AS n2
  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings)
  GROUP BY vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6) AS mean_distortion,
       ROUND(CAST(MAX(dist) AS DOUBLE), 6) AS max_distortion,
       ROUND(CAST(SUM(dist) AS DOUBLE) / CAST(SUM(n2) AS DOUBLE), 6)
         AS distortion_share
FROM per_vec JOIN norm2 USING (vec_id)
""",
)
def ann_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction distortion: the squared error the 8-byte code
    loses, corpus mean/max and share of mean norm² — the quantization
    QA number before trusting ADC shortlists."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.pq_distortion_audit(emb, _trained_pq(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 94 (round 2): priority-latency inversion test.
# --------------------------------------------------------------------------


@query(
    "orders_latency_inversion_mw",
    f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship
  FROM lineitem GROUP BY l_orderkey
),
days AS (
  SELECT o_orderpriority AS grp,
         CAST(ship - CAST(o_orderdate AS DATE) AS BIGINT) AS v
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
  WHERE o_orderpriority IN ('{R.LATENCY_MW_GROUPS[0]}',
                            '{R.LATENCY_MW_GROUPS[1]}')
),
counts AS (
  SELECT v,
         SUM(CASE WHEN grp = '{R.LATENCY_MW_GROUPS[0]}' THEN 1 ELSE 0 END)
           AS c_a,
         SUM(CASE WHEN grp = '{R.LATENCY_MW_GROUPS[1]}' THEN 1 ELSE 0 END)
           AS c_b,
         COUNT(*) AS n_v
  FROM days GROUP BY v
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
         AS latency_differs
FROM agg
""",
)
def orders_latency_inversion_mw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-vs-latency Mann-Whitney: does URGENT actually ship
    faster than LOW — rank-exact on the bounded day domain."""
    return R.latency_inversion_mw(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 95 (round 2): user-activity power law.
# --------------------------------------------------------------------------


@query(
    "events_user_zipf",
    f"""
WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
top AS (
  SELECT n FROM per ORDER BY n DESC, user_id LIMIT {E.ZIPF_USERS_TOP}
),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC) AS BIGINT) AS rank, n
  FROM top
),
logs AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(20,6)) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(20,6)) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(30,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(30,12))) AS sxx
  FROM logs
)
SELECT n_used,
       ROUND((n_used * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n_used * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - ((n_used * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_used * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / n_used, 4) AS intercept
FROM sums
""",
)
def events_user_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law slope of user activity (Zipf recipe on behavior) —
    organic heavy tail vs synthetic/bot-dominated traffic."""
    return E.user_activity_zipf(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 96 (round 2): SLA trend by quarter.
# --------------------------------------------------------------------------


@query(
    "orders_sla_trend",
    f"""
WITH first_ship AS (
  SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) || '-'
           || CAST(EXTRACT(quarter FROM o_orderdate) AS VARCHAR) AS quarter,
         ship - CAST(o_orderdate AS DATE) <= {R.SLA_TREND_DAYS} AS ok
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
),
q AS (
  SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(SUM(CASE WHEN ok THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS on_time_share
  FROM j GROUP BY quarter
)
SELECT quarter, n_orders, on_time_share,
       ROUND(on_time_share - lag(on_time_share) OVER (ORDER BY quarter), 6)
         AS qoq_delta
FROM q
""",
)
def orders_sla_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time-within-{R.SLA_TREND_DAYS}-days share by quarter with QoQ
    delta — the fulfilment direction-of-travel."""
    return R.sla_trend(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 97 (round 2): AMS second-moment sketch — one-pass self-join-size
# estimation, the planner statistic that prices a join before paying it.
# --------------------------------------------------------------------------

_AMS_SIGN_SQL = ", ".join(
    f"""SUM(CASE WHEN (({SK.MINHASH_A[j]} * h + {SK.MINHASH_B[j]})
        % {SK.MINHASH_P}) % 2 = 0 THEN 1 ELSE -1 END) AS s{j}"""
    for j in range(SK.AMS_D)
)
_AMS_EST_SQL = " UNION ALL ".join(
    f"SELECT s{j} * s{j} AS est FROM sk" for j in range(SK.AMS_D)
)


@query(
    "events_ams_f2_sketch",
    f"""
WITH h AS (
  SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
sk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {_AMS_SIGN_SQL}
  FROM h
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id)
),
e AS (
  SELECT est, ROW_NUMBER() OVER (ORDER BY est) AS rn
  FROM ({_AMS_EST_SQL})
),
med AS (
  SELECT ROUND(SUM(CAST(est AS DOUBLE)) / 2.0, 1) AS ams_median_est
  FROM e WHERE rn IN ({SK.AMS_D // 2}, {SK.AMS_D // 2 + 1})
)
SELECT n_rows, n_keys, exact_f2, ams_median_est,
       ROUND(ABS(ams_median_est - exact_f2) / exact_f2, 6) AS rel_err
FROM sk, ex, med
""",
)
def events_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch: |events SELF-JOIN events| on
    user_id estimated in ONE map-side pass (8 deterministic +/-1 sign
    sums, median of squares) vs the exact sum(count^2) — the join-size
    statistic without the key shuffle."""
    return SK.ams_f2_audit(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 98 (round 2): navigable k-NN graph + greedy beam search — the HNSW
# query-path analog (fixed entry point, beam = ef_search, fixed hops),
# deterministic end to end so DuckDB can replay the walk hop by hop.
# --------------------------------------------------------------------------

_NAV_EDGES_SQL = f"""cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({{cents}})
),
pc AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN cents c
),
cd AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d
       FROM pc GROUP BY vec_id, cid),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd
  ) WHERE rn <= {A.GRAPH_ASSIGN}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr
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
pd AS (SELECT src, nbr, ROUND(SUM((x - y) * (x - y)), 6) AS dist
       FROM pe GROUP BY src, nbr),
rk AS (
  SELECT src, nbr, dist,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, nbr) AS rnk
  FROM pd
)""".format(cents=_CENTS_SQL)


@query(
    "knn_graph_navigable",
    f"""
WITH {_NAV_EDGES_SQL}
SELECT src AS vec_id, nbr AS nbr_id, dist, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {A.GRAPH_DEGREE}
""",
)
def knn_graph_navigable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigable k-NN graph: top-{A.GRAPH_DEGREE} neighbors under
    top-{A.GRAPH_ASSIGN}-cell OVERLAPPED assignment — boundary vectors
    bridge adjacent cells, making the graph greedy-traversable across
    cells (the within-cell graph is disconnected by construction)."""
    return _graph_edges(spark, sf_dir)


def _graph_walk_sql(beam: int = A.GRAPH_BEAM, p: str = "") -> str:
    """Unrolled greedy-walk CTEs: seed s0{p}/f0{p} must be defined by
    the caller; emits c/s/f per hop (frontier LIMIT ``beam``) and a
    visited{p} union.  ``p`` prefixes every CTE so several beam widths
    can walk side by side in one statement."""
    hops = []
    prev = f"f0{p}"
    for i in range(1, A.GRAPH_HOPS + 1):
        hops.append(
            f"""c{i}{p} AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM {prev}
    UNION ALL
    SELECT e.nbr AS id FROM edges e JOIN {prev} f ON e.src = f.id
  )
),
s{i}{p} AS (SELECT c.id, qd.d FROM c{i}{p} c JOIN qd ON qd.vec_id = c.id),
f{i}{p} AS (SELECT id FROM s{i}{p} ORDER BY d, id LIMIT {beam})"""
        )
        prev = f"f{i}{p}"
    visited = " UNION ".join(
        f"SELECT id, d FROM s{i}{p}" for i in range(0, A.GRAPH_HOPS + 1)
    )
    return (
        ",\n".join(hops)
        + f",\nvisited{p} AS ({visited})"
    )


@query(
    "knn_graph_search",
    f"""
WITH {_NAV_EDGES_SQL},
edges AS (SELECT src, nbr FROM rk WHERE rnk <= {A.GRAPH_DEGREE}),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       WHERE vec_id = {ANN_QUERY_ID}),
qe AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x,
              unnest(q.v) AS y
       FROM embeddings e CROSS JOIN qv q),
qd AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS d
       FROM qe GROUP BY vec_id),
s0 AS (SELECT vec_id AS id, d FROM qd WHERE vec_id IN ({_CENTS_SQL})),
f0 AS (SELECT id FROM s0 ORDER BY d, id LIMIT {A.GRAPH_BEAM}),
{_graph_walk_sql()}
SELECT id AS vec_id, d AS dist,
       CAST(ROW_NUMBER() OVER (ORDER BY d, id) AS INT) AS rnk
FROM visited ORDER BY d, id LIMIT {ANN_K}
""",
)
def knn_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the navigable k-NN graph — the HNSW
    query path (greedy descent from a fixed entry point, beam width
    {A.GRAPH_BEAM} = the ef_search dial, {A.GRAPH_HOPS} hops,
    src/hnswlib_index.cc:27-53) as broadcast-frontier joins against the
    edge table; answer = top-{ANN_K} of everything visited."""
    emb = load_table(spark, sf_dir, "embeddings")
    return A.knn_graph_greedy_search(
        emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS), ANN_QUERY_ID, ANN_K,
        edges=_graph_edges(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Wave 99 (round 2): WebDataset-style shard packing for the binary column.
# --------------------------------------------------------------------------


@query(
    "multimodal_shard_pack",
    f"""
WITH per AS (
  SELECT source, doc_id,
         CAST(FLOOR(doc_id / {MM.SHARD_GROUP_DOCS}) AS BIGINT) AS grp,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents
),
cum AS (
  SELECT source, grp, byte_len,
         CAST(FLOOR(COALESCE(SUM(byte_len) OVER (
           PARTITION BY source, grp ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {MM.SHARD_CAPACITY_BYTES}) AS BIGINT) AS shard_id
  FROM per
),
ps AS (
  SELECT source, grp, shard_id, COUNT(*) AS items, SUM(byte_len) AS bytes
  FROM cum GROUP BY source, grp, shard_id
)
SELECT source,
       CAST(SUM(items) AS BIGINT) AS n_items,
       CAST(SUM(bytes) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_shards,
       ROUND(SUM(items) * 1.0 / COUNT(*), 6) AS items_per_shard,
       ROUND(SUM(bytes) * 1.0 / (COUNT(*) * {float(MM.SHARD_CAPACITY_BYTES)!r}), 6)
         AS fill_ratio,
       CAST(SUM(CASE WHEN bytes > {MM.SHARD_CAPACITY_BYTES} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_over_capacity
FROM ps GROUP BY source
""",
)
def multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing of binary payloads: greedy
    sequential byte-budget packing within (source, bounded id-group)
    — per-source shard count, items/shard, fill ratio, oversize items;
    the layout audit before the tar-shard write."""
    return MM.shard_pack_audit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 100 (round 2): trimmed + winsorized means — robust location on the
# two-phase grouped rank, no single-partition window.
# --------------------------------------------------------------------------


@query(
    "lineitem_trimmed_mean",
    f"""
WITH r AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS rnk,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
r2 AS (SELECT *, CAST(FLOOR(n * {R.TRIM_FRAC!r}) AS BIGINT) AS lo FROM r),
kept AS (
  SELECT flag, MAX(n) AS n, MAX(lo) AS n_trimmed_each,
         SUM(price) AS ksum, COUNT(*) AS kn
  FROM r2 WHERE rnk > lo AND rnk <= n - lo GROUP BY flag
),
b AS (
  SELECT flag, MIN(price) AS pl, MAX(price) AS ph
  FROM r2 WHERE rnk = lo + 1 OR rnk = n - lo GROUP BY flag
),
f AS (SELECT l_returnflag AS flag, SUM(l_extendedprice) AS fsum
      FROM lineitem GROUP BY 1)
SELECT kept.flag, CAST(kept.n AS BIGINT) AS n,
       CAST(n_trimmed_each AS BIGINT) AS n_trimmed_each,
       ROUND(CAST(fsum AS DOUBLE) / kept.n, 6) AS mean,
       ROUND(CAST(ksum AS DOUBLE) / kn, 6) AS trimmed_mean,
       ROUND(CAST(ksum + (pl + ph) * n_trimmed_each AS DOUBLE) / kept.n, 6)
         AS winsorized_mean
FROM kept JOIN b ON kept.flag = b.flag JOIN f ON kept.flag = f.flag
""",
)
def lineitem_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed + winsorized means of l_extendedprice per return flag
    (symmetric {R.TRIM_FRAC} tails) vs the plain mean — the robust
    location pair, exact on the two-phase grouped rank with DECIMAL
    sums."""
    return R.trimmed_winsorized_stats(load_table(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# Wave 101 (round 2): differential-privacy release audit — deterministic
# Laplace counts, the epsilon-vs-utility table behind published aggregates.
# --------------------------------------------------------------------------


@query(
    "orders_dp_release",
    f"""
WITH c AS (
  SELECT n_name AS nation, COUNT(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
u AS (
  SELECT nation, n,
         CAST(concat('0x', substr(md5(nation), 1, 8)) AS BIGINT)
           / 4294967296.0 - 0.5 AS up
  FROM c
),
z AS (
  SELECT nation, n,
         {-1.0 / CU.DP_EPSILON!r}
           * (CASE WHEN up < 0 THEN -1.0 ELSE 1.0 END)
           * ROUND(ln(GREATEST(1 - 2 * ABS(up), 1e-9)), 9) AS noise
  FROM u
)
SELECT nation, CAST(n AS BIGINT) AS n_true,
       ROUND(n + noise, 6) AS n_noisy,
       ROUND(ABS(noise), 6) AS abs_err,
       {float(CU.DP_EPSILON)!r} AS epsilon
FROM z
""",
)
def orders_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release audit: per-nation order counts with
    deterministic Laplace(1/epsilon) noise (md5 inverse-CDF draw) next
    to the true counts — the epsilon-vs-utility sign-off table;
    sensitivity-1 counts, dims broadcast, noise on the 25-row
    aggregate."""
    return CU.dp_noisy_counts(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


# --------------------------------------------------------------------------
# Wave 102 (round 2): code-vs-prose curation gate.
# --------------------------------------------------------------------------


@query(
    "doc_code_detect",
    f"""
WITH per AS (
  SELECT source,
         CAST(length(text)
              - length(regexp_replace(text, '[{{}}();=<>]', '', 'g'))
              AS DOUBLE) AS sym,
         CAST(length(text) AS DOUBLE) AS len
  FROM documents
),
r AS (
  SELECT source, sym, len,
         CASE WHEN len > 0 THEN sym / len ELSE 0.0 END AS ratio
  FROM per
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ratio > {T.CODE_SYMBOL_TAU!r} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_code,
       ROUND(SUM(CASE WHEN ratio > {T.CODE_SYMBOL_TAU!r} THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS code_share,
       ROUND(SUM(sym) / SUM(len), 6) AS symbol_density
FROM r GROUP BY source
""",
)
def doc_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose curation gate: per-source share of code-like docs
    by structural-symbol density ({{}}();=<> chars / length) — the
    mixture-routing switch before LM training; one scan, all JVM
    expressions."""
    return T.code_detect(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 103 (round 2): degree assortativity of the near-dup pair graph.
# --------------------------------------------------------------------------


@query(
    "dedup_graph_assortativity",
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
),
sym AS (
  SELECT doc_a AS x, doc_b AS y FROM pairs
  UNION ALL
  SELECT doc_b AS x, doc_a AS y FROM pairs
),
e AS (
  SELECT da.degree AS dx, db.degree AS dy
  FROM sym JOIN degrees da ON sym.x = da.doc_id
           JOIN degrees db ON sym.y = db.doc_id
),
s AS (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM e
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM degrees)
SELECT n_nodes,
       CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                           * CAST(m * syy - sy * sy AS DOUBLE)), 0.0), 6)
         AS assortativity
FROM s, nn
""",
)
def dedup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the MinHash candidate-pair graph —
    hub-to-hub (boilerplate cliques) vs hub-to-leaf (template stars)
    wiring, from exact integer power sums over symmetrized edges."""
    return D.pair_graph_assortativity(_minhash_pairs(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 104 (round 2): TextRank keywords — PageRank centrality on the
# co-occurrence graph, vocabulary-capped so the graph is constant-size.
# --------------------------------------------------------------------------


def _textrank_oracle() -> str:
    d = T.TEXTRANK_DAMPING
    ctes = [
        f"tk AS (SELECT {_TK_SQL} AS t FROM documents)",
        """adj AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM tk, UNNEST(range(1, len(t))) AS u(i)
)""",
        """tc AS (
  SELECT tok AS token, COUNT(*) AS tf
  FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY 1
)""",
        f"""vocab AS (
  SELECT token FROM tc ORDER BY tf DESC, token LIMIT {T.TEXTRANK_VOCAB}
)""",
        """sym AS (
  SELECT a, b FROM adj UNION ALL SELECT b, a FROM adj
)""",
        """edges AS (
  SELECT a, b, COUNT(*) AS w
  FROM sym
  WHERE a != b
    AND a IN (SELECT token FROM vocab)
    AND b IN (SELECT token FROM vocab)
  GROUP BY a, b
)""",
        "outw AS (SELECT a, SUM(w) AS wout FROM edges GROUP BY a)",
        """trans AS (
  SELECT e.a, e.b, CAST(e.w AS DOUBLE) / o.wout AS p
  FROM edges e JOIN outw o USING (a)
)""",
        "nodes AS (SELECT token AS node FROM vocab)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, T.TEXTRANK_ITERS + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS (
  SELECT t.b, SUM(t.p * r.r) AS inflow
  FROM trans t JOIN r{p} r ON t.a = r.node GROUP BY t.b
),
r{i} AS (
  SELECT nodes.node,
         ROUND((1.0 - {d}) / nn.n + {d} * COALESCE(c{i}.inflow, 0.0), 8) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.b
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT node AS token, ROUND(r, 6) AS textrank
FROM r{T.TEXTRANK_ITERS}
ORDER BY r DESC, node LIMIT {T.TEXTRANK_TOPK}
"""


@query("vocab_textrank_keywords", _textrank_oracle())
def vocab_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: damped PageRank ({T.TEXTRANK_ITERS} fixed
    iterations, per-iteration ROUND 8) over the symmetrized
    adjacent-token co-occurrence graph capped at the top
    {T.TEXTRANK_VOCAB} vocabulary — centrality keywords, not raw
    counts; the graph is constant-size regardless of corpus volume."""
    return T.textrank_keywords(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 105 (round 2): magic-byte MIME sniffing — trust the bytes, not the
# label, before dispatching any codec.
# --------------------------------------------------------------------------

_SNIFF_TEXTISH_SQL = " AND ".join(
    f"(substr(hex8, {2 * i + 1}, 2) BETWEEN '20' AND '7E'"
    f" OR substr(hex8, {2 * i + 1}, 2) IN ('09', '0A', '0D'))"
    for i in range(4)
)
_SNIFF_MAGIC_SQL = "\n    ".join(
    f"WHEN substr(hex8, 1, {len(prefix)}) = '{prefix}' THEN '{label}'"
    for prefix, label in MM._MAGIC_PREFIXES
)


@query(
    "multimodal_mime_sniff",
    f"""
WITH p AS (
  SELECT upper(substr(hex(encode(text)), 1, 8)) AS hex8 FROM documents
),
s AS (
  SELECT CASE
    WHEN length(hex8) < 8 THEN 'application/octet-stream'
    {_SNIFF_MAGIC_SQL}
    WHEN {_SNIFF_TEXTISH_SQL} THEN 'text/plain'
    ELSE 'application/octet-stream' END AS sniffed
  FROM p
),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents)
SELECT 'application/octet-stream' AS declared_mime,
       sniffed AS sniffed_mime,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(COUNT(*) / t.total, 6) AS share,
       'application/octet-stream' = sniffed AS agrees
FROM s, t GROUP BY sniffed, t.total
""",
)
def multimodal_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-sniffed MIME audit: magic-byte dispatch on the first
    four payload bytes (PNG/JPEG/GIF/PDF/RIFF/OGG signatures, then a
    printable-ASCII text heuristic) against the declared label — codec
    routing must follow the BYTES; one scan, tiny groupBy."""
    return MM.mime_sniff_audit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 106 (round 2): Theil-T decomposition — additive between/within
# inequality accounting over customer spend.
# --------------------------------------------------------------------------


@query(
    "orders_theil_decomposition",
    """
WITH per AS (
  SELECT c_nationkey AS g, o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
gs AS (SELECT g, COUNT(*) AS ng, SUM(x) AS sg FROM per GROUP BY g),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s FROM per),
terms AS (
  SELECT per.g, gs.ng, gs.sg, tot.n, tot.s,
         CAST(ROUND((CAST(per.x AS DOUBLE) / (CAST(gs.sg AS DOUBLE) / gs.ng))
               * ln(CAST(per.x AS DOUBLE) / (CAST(gs.sg AS DOUBLE) / gs.ng)), 9)
              AS DECIMAL(38,12)) AS wg_term,
         CAST(ROUND((CAST(per.x AS DOUBLE) / (CAST(tot.s AS DOUBLE) / tot.n))
               * ln(CAST(per.x AS DOUBLE) / (CAST(tot.s AS DOUBLE) / tot.n)), 9)
              AS DECIMAL(38,12)) AS tt_term
  FROM per JOIN gs USING (g) CROSS JOIN tot
),
wg AS (
  SELECT g, ng, sg, n, s, SUM(wg_term) AS sw, SUM(tt_term) AS st_g
  FROM terms GROUP BY g, ng, sg, n, s
),
folded AS (
  SELECT MAX(n) AS n_customers,
         SUM(CAST(ROUND((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
               * (CAST(CAST(sw AS VARCHAR) AS DOUBLE) / ng), 9) AS DECIMAL(38,12))) AS tw,
         SUM(CAST(ROUND((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
               * ln((CAST(sg AS DOUBLE) / ng) / (CAST(s AS DOUBLE) / n)), 9)
              AS DECIMAL(38,12))) AS tb,
         SUM(st_g) AS st
  FROM wg
)
-- st/tb/tw -> double via VARCHAR (scale-12 sums, 2^53-significand
-- hazard: nation_gravity_model class, r5)
SELECT n_customers,
       ROUND(CAST(CAST(st AS VARCHAR) AS DOUBLE) / n_customers, 6) AS theil_total,
       ROUND(CAST(CAST(tb AS VARCHAR) AS DOUBLE), 6) AS theil_between,
       ROUND(CAST(CAST(tw AS VARCHAR) AS DOUBLE), 6) AS theil_within,
       ROUND(CAST(CAST(st AS VARCHAR) AS DOUBLE) / n_customers - CAST(CAST(tb AS VARCHAR) AS DOUBLE)
             - CAST(CAST(tw AS VARCHAR) AS DOUBLE), 6) + 0.0 AS residual
FROM folded
""",
)
def orders_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer spend split into between-nation +
    within-nation components (additive accounting Gini can't do), with
    the rounded-ln/DECIMAL determinism contract; one customer agg, the
    25-row group table broadcast."""
    return R.theil_decomposition(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


# --------------------------------------------------------------------------
# Wave 107 (round 2): Wald-Wolfowitz runs test — regime persistence in the
# daily revenue series.
# --------------------------------------------------------------------------


@query(
    "orders_runs_test",
    """
WITH daily AS (
  SELECT o_orderdate AS d, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
  FROM orders GROUP BY 1
),
rk AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS vr,
         COUNT(*) OVER () AS nd
  FROM daily
),
med AS (SELECT rev AS med FROM rk WHERE vr = CAST(ceil(nd / 2.0) AS BIGINT)),
signed AS (
  SELECT d, CASE WHEN rev > med THEN 1 ELSE 0 END AS up
  FROM daily CROSS JOIN med WHERE rev != med
),
seq AS (SELECT up, ROW_NUMBER() OVER (ORDER BY d) AS t FROM signed),
fl AS (
  SELECT SUM(CASE WHEN a.up != b.up THEN 1 ELSE 0 END) AS flips
  FROM seq a JOIN seq b ON b.t = a.t + 1
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days_used,
         CAST(SUM(up) AS BIGINT) AS n_above,
         CAST(SUM(1 - up) AS BIGINT) AS n_below
  FROM signed
)
SELECT n_days_used, n_above, n_below,
       CAST(flips + 1 AS BIGINT) AS runs,
       ROUND(1.0 + 2.0 * n_above * n_below / (n_above + n_below), 6)
         AS expected_runs,
       ROUND((flips + 1 - (1.0 + 2.0 * n_above * n_below / (n_above + n_below)))
             / NULLIF(sqrt((2.0 * n_above * n_below
                     * (2.0 * n_above * n_below - n_above - n_below))
                    / ((n_above + n_below) * (n_above + n_below)
                       * (n_above + n_below - 1.0))), 0.0), 6) AS z
FROM c, fl
""",
)
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs the lower median:
    observed same-side runs against the closed-form null — the
    regime-persistence / momentum check; two-phase ranks + shifted-rank
    join, integers until the final z."""
    return R.daily_runs_test(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 108 (round 2): join-strategy advisor over the declared FK edges.
# --------------------------------------------------------------------------

_JOIN_ADV_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{edge}' AS edge,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS child_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {parent}) AS parent_rows,
       (SELECT CAST(COUNT(*) * {({**R.ROW_WIDTH_BYTES, **R.DIM_WIDTH_BYTES})[child]} AS BIGINT) FROM {child}) AS child_bytes,
       (SELECT CAST(COUNT(*) * {({**R.ROW_WIDTH_BYTES, **R.DIM_WIDTH_BYTES})[parent]} AS BIGINT) FROM {parent}) AS parent_bytes,
       CASE
         WHEN (SELECT COUNT(*) * {({**R.ROW_WIDTH_BYTES, **R.DIM_WIDTH_BYTES})[parent]} FROM {parent})
              <= {R.BROADCAST_THRESHOLD_BYTES} THEN 'broadcast_parent'
         WHEN (SELECT COUNT(*) * {({**R.ROW_WIDTH_BYTES, **R.DIM_WIDTH_BYTES})[child]} FROM {child})
              <= {R.BROADCAST_THRESHOLD_BYTES} THEN 'broadcast_child'
         ELSE 'shuffle_merge_bucket' END AS strategy"""
    for edge, child, _ck, parent, _pk in __import__(
        "simple_vector_spark.operators.validate", fromlist=["FK_EDGES"]
    ).FK_EDGES
)


@query("join_strategy_advisor", _JOIN_ADV_SQL)
def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor: per declared FK edge, side sizes (rows x
    static width) and the physical plan the numbers justify —
    broadcast under the 10 MB autoBroadcastJoinThreshold, else
    shuffle-merge with bucketing; AQE's arithmetic as a planning
    table."""
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "lineitem", "customer", "supplier", "part",
                  "nation", "region")
    }
    return R.join_strategy_advisor(tables)


# --------------------------------------------------------------------------
# Wave 109 (round 2): ROWS vs RANGE frame semantics, quantified where the
# two diverge (tied order dates).
# --------------------------------------------------------------------------


@query(
    "orders_frame_semantics",
    f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev,
         CAST(arg_min(o_totalprice, o_orderkey) AS DECIMAL(15,2)) AS first_rev
  FROM orders GROUP BY 1
),
cum AS (
  SELECT a.d, a.n_orders, a.rev, a.first_rev, SUM(b.rev) AS range_total
  FROM daily a JOIN daily b ON b.d <= a.d
  GROUP BY a.d, a.n_orders, a.rev, a.first_rev
)
SELECT d, n_orders,
       CAST(CAST(range_total AS DECIMAL(20,2)) AS DOUBLE) AS range_total,
       CAST(CAST(range_total - rev + first_rev AS DECIMAL(20,2)) AS DOUBLE)
         AS rows_total_at_first,
       CAST(CAST(rev - first_rev AS DECIMAL(20,2)) AS DOUBLE) AS divergence
FROM cum ORDER BY d LIMIT {R.FRAME_DEMO_DAYS}
""",
)
def orders_frame_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE running-total divergence on tied order dates —
    the silently-made frame choice quantified per date; computed on
    the bounded daily aggregate (triangle prefix sums), order grain
    never meets a window."""
    return finalize_double(
        R.window_frame_semantics(load_table(spark, sf_dir, "orders")),
        "range_total", "rows_total_at_first", "divergence",
    )


# --------------------------------------------------------------------------
# Wave 110 (round 2): CMS width tuning curve — the sketch-sizing dial,
# measured (the Count-Min sibling of dedup_lsh_band_tuning).
# --------------------------------------------------------------------------


def _cms_width_oracle() -> str:
    ctes = [
        f"""counts AS (
  SELECT token, COUNT(*) AS cnt,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h
  FROM (SELECT unnest({_TK_SQL}) AS token FROM documents)
  GROUP BY token
)""",
        "tops AS (SELECT token, cnt, h FROM counts ORDER BY cnt DESC, token LIMIT 20)",
    ]
    segs = []
    for w in SK.CMS_WIDTHS:
        for j in range(SK.CMS_D):
            ctes.append(
                f"""t_{w}_{j} AS (
  SELECT (({SK.MINHASH_A[j]} * h + {SK.MINHASH_B[j]}) % {SK.MINHASH_P}) % {w}
           AS b,
         SUM(cnt) AS tot
  FROM counts GROUP BY 1
)"""
            )
        joins = " ".join(
            f"JOIN t_{w}_{j} ON (({SK.MINHASH_A[j]} * tops.h"
            f" + {SK.MINHASH_B[j]}) % {SK.MINHASH_P}) % {w} = t_{w}_{j}.b"
            for j in range(SK.CMS_D)
        )
        least = ", ".join(f"t_{w}_{j}.tot" for j in range(SK.CMS_D))
        segs.append(
            f"""SELECT {w} AS width,
       ROUND(AVG(est - cnt), 6) AS mean_overcount,
       CAST(MAX(est - cnt) AS BIGINT) AS max_overcount,
       ROUND(AVG(CASE WHEN est = cnt THEN 1.0 ELSE 0.0 END), 6) AS exact_share
FROM (SELECT tops.cnt AS cnt, LEAST({least}) AS est FROM tops {joins})"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(segs)


@query("cms_width_tuning", _cms_width_oracle())
def cms_width_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min width tuning curve: mean/max overcount + exact-answer
    share on the true top-20 tokens at widths {SK.CMS_WIDTHS} — the
    measured memory-vs-error dial for sketch sizing; one exact token
    count feeds all four sketches, exact-integer throughout."""
    return SK.cms_width_curve(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 111 (round 2): open-order backlog aging — the WIP staleness report.
# --------------------------------------------------------------------------

_AGING_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN age <= {days} THEN '{label}'"
        for days, label in R.AGING_BANDS
    )
    + f" ELSE '{R.AGING_TAIL}' END"
)


@query(
    "orders_backlog_aging",
    f"""
WITH refd AS (SELECT MAX(o_orderdate) AS a FROM orders),
o AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(refd.a AS DATE))
           AS age,
         CAST(o_totalprice AS DECIMAL(15,2)) AS v
  FROM orders CROSS JOIN refd
  WHERE o_orderstatus = 'O'
),
per AS (
  SELECT {_AGING_CASE_SQL} AS age_band,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(v) AS val, SUM(age) AS ages
  FROM o GROUP BY 1
),
tot AS (SELECT SUM(val) AS tv FROM per)
SELECT age_band, n_orders,
       CAST(CAST(val AS DECIMAL(20,2)) AS DOUBLE) AS backlog_value,
       ROUND(CAST(val AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS value_share,
       ROUND(ages * 1.0 / n_orders, 6) AS mean_age_days
FROM per, tot
""",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging bands (as-of the latest order date):
    count, locked-up DECIMAL value, value share, mean age per band —
    the WIP staleness report; one scan + broadcast scalar."""
    return finalize_double(
        R.backlog_aging(load_table(spark, sf_dir, "orders")),
        "backlog_value",
    )


# --------------------------------------------------------------------------
# Wave 112 (round 2): CUPED variance reduction — the pre-period covariate
# adjustment that makes the same traffic detect smaller effects.
# --------------------------------------------------------------------------


@query(
    "events_cuped_adjustment",
    """
WITH mid AS (
  SELECT CAST(FLOOR((MIN(FLOOR(epoch(ts))) + MAX(FLOOR(epoch(ts)))) / 2.0)
              AS BIGINT) AS m
  FROM events
),
pu AS (
  SELECT user_id,
         CAST((CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 2) AS INT) AS arm,
         SUM(CASE WHEN FLOOR(epoch(ts)) < mid.m THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN FLOOR(epoch(ts)) >= mid.m THEN 1 ELSE 0 END) AS y
  FROM events CROSS JOIN mid
  GROUP BY user_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pu
),
a AS (SELECT COUNT(*) AS na, SUM(x) AS sxa, SUM(y) AS sya FROM pu WHERE arm = 0),
b AS (SELECT COUNT(*) AS nb, SUM(x) AS sxb, SUM(y) AS syb FROM pu WHERE arm = 1)
SELECT n_users,
       ROUND(CAST(n_users * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(n_users * sxx - sx * sx AS DOUBLE), 0.0), 6)
         AS theta,
       ROUND(CAST(sya AS DOUBLE) / na, 6) AS mean_a,
       ROUND(CAST(syb AS DOUBLE) / nb, 6) AS mean_b,
       ROUND(CAST(sya AS DOUBLE) / na
             - (CAST(n_users * sxy - sx * sy AS DOUBLE)
                / NULLIF(CAST(n_users * sxx - sx * sx AS DOUBLE), 0.0))
               * (CAST(sxa AS DOUBLE) / na - CAST(sx AS DOUBLE) / n_users), 6)
         AS mean_a_adj,
       ROUND(CAST(syb AS DOUBLE) / nb
             - (CAST(n_users * sxy - sx * sy AS DOUBLE)
                / NULLIF(CAST(n_users * sxx - sx * sx AS DOUBLE), 0.0))
               * (CAST(sxb AS DOUBLE) / nb - CAST(sx AS DOUBLE) / n_users), 6)
         AS mean_b_adj,
       ROUND(CAST((n_users * sxy - sx * sy) * (n_users * sxy - sx * sy) AS DOUBLE)
             / NULLIF(CAST((n_users * sxx - sx * sx)
                           * (n_users * syy - sy * sy) AS DOUBLE), 0.0), 6)
         AS var_reduction
FROM g, a, b
""",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED: pre-period per-user activity as the covariate for the
    post-period metric under the md5 A/B split — theta, raw vs adjusted
    arm means, and the corr² variance-reduction share, all from exact
    integer power sums."""
    return E.cuped_adjustment(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 113 (round 2): Markov entropy rate — bits of surprise per event and
# what knowing the previous one buys.
# --------------------------------------------------------------------------


@query(
    "events_markov_entropy",
    """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rt AS (SELECT prev_type, SUM(n) AS ns FROM counts GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_transitions,
         CAST(COUNT(DISTINCT prev_type) AS BIGINT) AS n_states
  FROM counts
),
hc AS (
  SELECT SUM(CAST(ROUND((c.n * 1.0 / t.n_transitions)
                        * log2(c.n * 1.0 / r.ns), 9) AS DECIMAL(38,12))) AS v
  FROM counts c JOIN rt r USING (prev_type) CROSS JOIN tot t
),
hm AS (
  SELECT SUM(CAST(ROUND((mt * 1.0 / t.n_transitions)
                        * log2(mt * 1.0 / t.n_transitions), 9)
                  AS DECIMAL(38,12))) AS v
  FROM (SELECT next_type, SUM(n) AS mt FROM counts GROUP BY 1)
  CROSS JOIN tot t
)
SELECT n_transitions, n_states,
       ROUND(-CAST(hc.v AS DOUBLE), 6) AS h_conditional_bits,
       ROUND(-CAST(hm.v AS DOUBLE), 6) AS h_marginal_bits,
       ROUND(CAST(hc.v - hm.v AS DOUBLE), 6) AS predictability_gain
FROM tot, hc, hm
""",
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type chain: H(next|prev) vs the
    marginal next-event entropy with the predictability gain — the
    information-theoretic read of the transition matrix; rounded-log2
    DECIMAL folds over the |types|² aggregate."""
    return E.markov_entropy_rate(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 114 (round 2): SimHash bit-balance QA — dead bits halve the LSH
# band resolution silently.
# --------------------------------------------------------------------------


@query(
    "dedup_simhash_bit_balance",
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
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
bits AS (
  SELECT b.b AS bit,
         CAST(floor(simhash / pow(2, b.b)) AS BIGINT) % 2 AS s
  FROM fp, unnest(range(16)) AS b(b)
)
SELECT CAST(bit AS INT) AS bit,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s) AS BIGINT) AS n_set,
       ROUND(SUM(s) * 1.0 / COUNT(*), 6) AS share_set,
       ROUND(ABS(SUM(s) * 1.0 / COUNT(*) - 0.5), 6) AS abs_dev
FROM bits GROUP BY bit
""",
)
def dedup_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit population balance of the 16-bit SimHash — pinned bits
    carry no discrimination and silently halve LSH band resolution;
    linear fingerprint scan + one 16-group aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return D.simhash_bit_balance(docs)


# --------------------------------------------------------------------------
# Wave 115 (round 2): Hill tail-index estimator — the heavy-tail number
# behind the Pareto deciles.
# --------------------------------------------------------------------------


@query(
    "orders_hill_tail_index",
    f"""
WITH top AS (
  SELECT CAST(o_totalprice AS DECIMAL(15,2)) AS x, o_orderkey
  FROM orders ORDER BY x DESC, o_orderkey LIMIT {R.HILL_K + 1}
),
thr AS (SELECT MIN(x) AS t FROM top),
terms AS (
  SELECT CAST(ROUND(ln(CAST(x AS DOUBLE) / CAST(thr.t AS DOUBLE)), 9)
              AS DECIMAL(38,12)) AS v, thr.t
  FROM (SELECT x FROM top ORDER BY x DESC, o_orderkey LIMIT {R.HILL_K})
  CROSS JOIN thr
),
agg AS (SELECT t, SUM(v) AS s, COUNT(*) AS k FROM terms GROUP BY t)
SELECT CAST(k AS BIGINT) AS k,
       CAST(t AS DOUBLE) AS threshold,
       ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE) / k, 6) AS hill_h,
       ROUND(1.0 / NULLIF(CAST(CAST(s AS VARCHAR) AS DOUBLE) / k, 0.0), 6) AS tail_alpha
FROM agg
""",
)
def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator over the top-{R.HILL_K} order values: mean
    rounded-ln excess over the (k+1)-th order statistic, alpha = 1/H —
    the quantitative heavy-tail dial; TakeOrdered heap, request-sized
    arithmetic."""
    return finalize_double(
        R.hill_tail_index(load_table(spark, sf_dir, "orders")), "threshold"
    )


# --------------------------------------------------------------------------
# Wave 116 (round 2): categorical mutual information — dependence in bits
# beside chi-square / Cramér's V.
# --------------------------------------------------------------------------


@query(
    "part_brand_type_mi",
    """
WITH cells AS (
  SELECT p_brand AS x, p_type AS y, COUNT(*) AS n
  FROM part GROUP BY 1, 2
),
mx AS (SELECT x, SUM(n) AS nx FROM cells GROUP BY x),
my AS (SELECT y, SUM(n) AS ny FROM cells GROUP BY y),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
mi AS (
  SELECT SUM(CAST(ROUND((c.n * 1.0 / t.nn)
                        * log2((c.n * 1.0 * t.nn) / (mx.nx * 1.0 * my.ny)), 9)
                  AS DECIMAL(38,12))) AS v
  FROM cells c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t
),
hx AS (
  SELECT -SUM(CAST(ROUND((nx * 1.0 / t.nn) * log2(nx * 1.0 / t.nn), 9)
                   AS DECIMAL(38,12))) AS v
  FROM mx CROSS JOIN tot t
),
hy AS (
  SELECT -SUM(CAST(ROUND((ny * 1.0 / t.nn) * log2(ny * 1.0 / t.nn), 9)
                   AS DECIMAL(38,12))) AS v
  FROM my CROSS JOIN tot t
),
cx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_x_values FROM mx),
cy AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_y_values FROM my)
SELECT tot.nn AS n_rows, n_x_values, n_y_values,
       ROUND(CAST(mi.v AS DOUBLE), 6) AS mi_bits,
       ROUND(CAST(hx.v AS DOUBLE), 6) AS h_x_bits,
       ROUND(CAST(hy.v AS DOUBLE), 6) AS h_y_bits,
       ROUND(CAST(mi.v AS DOUBLE)
             / NULLIF(LEAST(CAST(hx.v AS DOUBLE), CAST(hy.v AS DOUBLE)), 0.0), 6)
         AS nmi
FROM tot, mi, hx, hy, cx, cy
""",
)
def part_brand_type_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between part brand and type (bits),
    marginal entropies, and normalized MI — categorical dependence
    beside chi-square; rounded-log2 DECIMAL folds over the cell
    aggregate."""
    return R.categorical_mutual_info(load_table(spark, sf_dir, "part"))


# --------------------------------------------------------------------------
# Wave 117 (round 2): measured LSH S-curve — catch probability and
# estimator bias per exact-Jaccard band.
# --------------------------------------------------------------------------

_SCURVE_AGREE_SQL = " + ".join(
    f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(len(MINHASH_A))
)


@query(
    "dedup_lsh_scurve",
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
),
ep AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jacc
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
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
cpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
j AS (
  SELECT LEAST(CAST(FLOOR(ep.jacc * 10) AS INT), 9) AS jacc_band,
         CASE WHEN cp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit,
         {_SCURVE_AGREE_SQL} AS agree
  FROM ep
  LEFT JOIN cpairs cp ON ep.doc_a = cp.doc_a AND ep.doc_b = cp.doc_b
  JOIN sigs sa ON sa.doc_id = ep.doc_a
  JOIN sigs sb ON sb.doc_id = ep.doc_b
)
SELECT jacc_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_candidates,
       ROUND(SUM(hit) * 1.0 / COUNT(*), 6) AS hit_rate,
       ROUND(SUM(agree) / ({float(len(MINHASH_A))!r} * COUNT(*)), 6)
         AS mean_sig_jaccard
FROM j GROUP BY jacc_band
""",
)
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH S-curve: per exact-Jaccard 0.1 band, the share of
    pairs the banded MinHash join actually caught + the mean
    signature-agreement estimate — catch probability and estimator
    bias, measured against the blocked exact pair space."""
    docs = _docs_plus_spark(spark, sf_dir)
    sigs = _cached_index(
        spark, sf_dir, "mh_sigs", lambda: D.minhash_signatures(docs)
    )
    return D.lsh_scurve(docs, cands=_minhash_pairs(spark, sf_dir), sigs=sigs)


# --------------------------------------------------------------------------
# Wave 118 (round 2): SPC p-chart — single-broken-day detection beside
# CUSUM's slow-drift monitor.
# --------------------------------------------------------------------------


@query(
    "events_error_pchart",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY 1
),
o AS (SELECT SUM(n_errors) * 1.0 / SUM(n_events) AS pbar FROM daily)
SELECT day, n_events, n_errors,
       ROUND(n_errors * 1.0 / n_events, 6) AS p_day,
       ROUND(pbar, 6) AS p_bar,
       ROUND(pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n_events), 6) AS ucl,
       ROUND(GREATEST(pbar - 3.0 * sqrt(pbar * (1.0 - pbar) / n_events), 0.0), 6)
         AS lcl,
       (n_errors * 1.0 / n_events
          > pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n_events))
       OR (n_errors * 1.0 / n_events
          < GREATEST(pbar - 3.0 * sqrt(pbar * (1.0 - pbar) / n_events), 0.0))
         AS out_of_control
FROM daily, o
""",
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC p-chart: daily error share vs 3-sigma binomial control
    limits around the pooled rate with an out-of-control flag — the
    single-broken-day monitor beside CUSUM's drift detector."""
    return E.error_rate_pchart(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 119 (round 2): trade-flow balance on the nation edge aggregate.
# --------------------------------------------------------------------------


@query(
    "nation_trade_balance",
    """
WITH edges AS (
  SELECT s_nationkey AS src, c_nationkey AS dst,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2
),
ex AS (SELECT src AS nk, SUM(rev) AS export_rev FROM edges GROUP BY 1),
im AS (SELECT dst AS nk, SUM(rev) AS import_rev FROM edges GROUP BY 1),
j AS (
  SELECT n_name AS nation,
         CAST(COALESCE(export_rev, 0) AS DECIMAL(25,2)) AS export_rev,
         CAST(COALESCE(import_rev, 0) AS DECIMAL(25,2)) AS import_rev
  FROM nation
  LEFT JOIN ex ON n_nationkey = ex.nk
  LEFT JOIN im ON n_nationkey = im.nk
)
SELECT nation,
       CAST(export_rev AS DOUBLE) AS export_rev,
       CAST(import_rev AS DOUBLE) AS import_rev,
       CAST(CAST(export_rev - import_rev AS DECIMAL(25,2)) AS DOUBLE)
         AS net_balance,
       ROUND(CAST(export_rev - import_rev AS DOUBLE)
             / NULLIF(CAST(export_rev + import_rev AS DOUBLE), 0.0), 6)
         AS imbalance
FROM j
""",
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation export vs import revenue with net balance and the
    normalized imbalance — the surplus/deficit read on the same edge
    aggregate PageRank and reciprocity consume; one fact shuffle, dims
    broadcast."""
    return finalize_double(
        R.trade_flow_balance(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
        ),
        "export_rev", "import_rev", "net_balance",
    )


# --------------------------------------------------------------------------
# Wave 120 (round 2): sessionizer gap-tuning curve + time-axis gap audit.
# --------------------------------------------------------------------------

_GAP_SEGS = "\nUNION ALL\n".join(
    f"""SELECT {gm} AS gap_minutes,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev IS NULL OR t - prev > {gm * 60}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       ROUND(COUNT(*) * 1.0
             / SUM(CASE WHEN prev IS NULL OR t - prev > {gm * 60}
                        THEN 1 ELSE 0 END), 6) AS mean_session_events,
       ROUND(SUM(CASE WHEN (prev IS NULL OR t - prev > {gm * 60})
                       AND (nxt IS NULL OR nxt - t > {gm * 60})
                      THEN 1 ELSE 0 END) * 1.0
             / SUM(CASE WHEN prev IS NULL OR t - prev > {gm * 60}
                        THEN 1 ELSE 0 END), 6) AS single_share
FROM lagged"""
    for gm in E.SESSION_GAP_GRID_MIN
)


@query(
    "events_session_gap_tuning",
    f"""
WITH lagged AS (
  SELECT user_id,
         FLOOR(epoch(ts)) AS t,
         lag(FLOOR(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev,
         lead(FLOOR(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
)
{_GAP_SEGS}
""",
)
def events_session_gap_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionizer idle-timeout tuning curve at {E.SESSION_GAP_GRID_MIN}
    minutes: session count, mean size, single-event share per
    threshold — one user shuffle, every candidate an aggregate over
    the same lag table."""
    return E.session_gap_tuning(load_table(spark, sf_dir, "events"))


@query(
    "events_time_axis_gaps",
    """
WITH mins AS (
  SELECT date_trunc('minute', ts) AS m, COUNT(*) AS n
  FROM events GROUP BY 1
),
span AS (
  SELECT MIN(m) AS lo, MAX(m) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n_occupied
  FROM mins
),
seq AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM mins),
gaps AS (
  SELECT CAST((FLOOR(epoch(b.m)) - FLOOR(epoch(a.m))) / 60 AS BIGINT) AS g
  FROM seq a JOIN seq b ON b.r = a.r + 1
),
lg AS (SELECT CAST(COALESCE(MAX(g), 0) AS BIGINT) AS longest_gap_minutes FROM gaps)
SELECT CAST(FLOOR((FLOOR(epoch(hi)) - FLOOR(epoch(lo))) / 60) + 1 AS BIGINT)
         AS n_slots,
       n_occupied,
       ROUND(n_occupied * 1.0
             / (FLOOR((FLOOR(epoch(hi)) - FLOOR(epoch(lo))) / 60) + 1), 6)
         AS coverage,
       longest_gap_minutes
FROM span, lg
""",
)
def events_time_axis_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-minute-grid coverage of the event stream: slots vs
    occupied minutes, coverage share, longest silent stretch — the
    regularization report before any lag-based time-series read."""
    return E.time_axis_gap_audit(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 122 (round 2): hashing-trick dense text retrieval — the feature-hash
# encoder as a vocabulary-free document vectorizer, exact-integer cosine.
# --------------------------------------------------------------------------

_HE_D = T.HASH_EMBED_DIM
_HE_H = "CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)"
_HE_VEC = (
    f"list_transform(range(0, {_HE_D}), d -> "
    f"list_aggregate(list_transform(tk, t -> CASE WHEN {_HE_H} % {_HE_D} = d "
    f"THEN 2 * (CAST(floor({_HE_H} / {_HE_D}) AS BIGINT) % 2) - 1 "
    f"ELSE 0 END), 'sum'))"
)


@query(
    "doc_hash_embed_search",
    f"""
WITH tkq AS (
  SELECT list_filter(regexp_split_to_array(lower('{T.HASH_EMBED_QUERY}'), '\\s+'),
                     x -> x != '') AS tk
),
qv AS (SELECT {_HE_VEC} AS q FROM tkq),
tkd AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')
           AS tk
  FROM documents
),
dv AS (SELECT doc_id, {_HE_VEC} AS v FROM tkd),
comp AS (
  SELECT doc_id,
         list_aggregate(list_transform(range(1, {_HE_D} + 1),
                        i -> v[i] * q[i]), 'sum') AS dot,
         list_aggregate(list_transform(v, x -> x * x), 'sum') AS nv,
         list_aggregate(list_transform(q, x -> x * x), 'sum') AS nq
  FROM dv CROSS JOIN qv
)
SELECT doc_id,
       ROUND(dot / NULLIF(sqrt(CAST(nv AS DOUBLE) * CAST(nq AS DOUBLE)), 0.0), 6)
         AS cos
FROM comp
WHERE dot / NULLIF(sqrt(CAST(nv AS DOUBLE) * CAST(nq AS DOUBLE)), 0.0)
      IS NOT NULL
ORDER BY cos DESC, doc_id LIMIT {T.HASH_EMBED_K}
""",
)
def doc_hash_embed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free dense retrieval: query and corpus encoded by the
    same signed hashing-trick expression ({_HE_D} dims), ranked by
    exact-integer cosine — text-to-vector search with no model
    artifact; per-row encode inside the scan, TakeOrdered top-k."""
    return T.hash_embed_search(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 123 (round 2): Cohen's kappa — chance-corrected segment stickiness
# on the shared ntile machinery.
# --------------------------------------------------------------------------


@query(
    "customers_segment_kappa",
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
         ntile({R.MIGRATION_TILES}) OVER (ORDER BY spend DESC, o_custkey) AS g1
  FROM s1
),
t2 AS (
  SELECT o_custkey,
         ntile({R.MIGRATION_TILES}) OVER (ORDER BY spend DESC, o_custkey) AS g2
  FROM s2
),
cells AS (
  SELECT g1, g2, COUNT(*) AS n FROM t1 JOIN t2 USING (o_custkey) GROUP BY 1, 2
),
m1 AS (SELECT g1, SUM(n) AS n1 FROM cells GROUP BY 1),
m2 AS (SELECT g2, SUM(n) AS n2 FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
po AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS agree
       FROM cells WHERE g1 = g2),
pe AS (SELECT CAST(SUM(n1 * n2) AS BIGINT) AS pe_n
       FROM m1 JOIN m2 ON m1.g1 = m2.g2)
SELECT nn AS n_customers_both_years,
       agree AS n_same_segment,
       ROUND(agree * 1.0 / nn, 6) AS observed_agreement,
       ROUND(pe_n / (CAST(nn AS DOUBLE) * nn), 6) AS expected_agreement,
       ROUND((agree * 1.0 / nn - pe_n / (CAST(nn AS DOUBLE) * nn))
             / NULLIF(1.0 - pe_n / (CAST(nn AS DOUBLE) * nn), 0.0), 6) AS kappa
FROM tot, po, pe
""",
)
def customers_segment_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of year-over-year spend terciles: chance-corrected
    segment stickiness for customers active in both years — the
    single-number read on the migration matrix's diagonal; shared
    two-phase ntile machinery, closed-form integer kappa."""
    return R.segment_stability_kappa(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 124 (round 2): derived-column consistency + sentence-grain profile.
# --------------------------------------------------------------------------


@query(
    "lineitem_unit_price_audit",
    """
WITH per AS (
  SELECT l_partkey AS pk,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         COUNT(DISTINCT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
                                   / CAST(l_quantity AS DECIMAL(18,6)), 2)
                             AS DECIMAL(18,2))) AS n_units,
         MIN(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
                        / CAST(l_quantity AS DECIMAL(18,6)), 2)
                  AS DECIMAL(18,2))) AS lo,
         MAX(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
                        / CAST(l_quantity AS DECIMAL(18,6)), 2)
                  AS DECIMAL(18,2))) AS hi
  FROM lineitem GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN n_units = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consistent,
       ROUND(SUM(CASE WHEN n_units = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS consistent_share,
       CAST(MAX(n_units) AS BIGINT) AS max_distinct_units,
       ROUND(MAX(CAST(hi - lo AS DOUBLE)), 2) AS max_unit_spread
FROM per
""",
)
def lineitem_unit_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-column consistency: is extendedprice/quantity a stable
    per-part unit price — the formula contract the schema can't
    express; one partkey shuffle, cents-rounded DECIMAL division."""
    from ..operators import validate as V

    return V.unit_price_consistency(load_table(spark, sf_dir, "lineitem"))


@query(
    "doc_sentence_stats",
    """
WITH per AS (
  SELECT source,
         len(list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                        s -> trim(s)), s -> s != '')) AS ns,
         len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')) AS nw
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ns) AS BIGINT) AS n_sentences,
       ROUND(SUM(ns) * 1.0 / COUNT(*), 6) AS sentences_per_doc,
       ROUND(SUM(nw) * 1.0 / NULLIF(SUM(ns), 0), 6) AS words_per_sentence
FROM per GROUP BY source
""",
)
def doc_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain profile per source ([.!?]+ segmentation):
    sentences/doc and words/sentence — the readability signal between
    char and token stats; scan-stage array expressions only."""
    return T.sentence_stats(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 125 (round 2): within-session action co-occurrence PMI.
# --------------------------------------------------------------------------


@query(
    "events_session_type_pmi",
    f"""
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(FLOOR(epoch(ts)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR FLOOR(epoch(ts))
                   - lag(FLOOR(epoch(ts)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
st AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || '#' || CAST(sid AS VARCHAR) AS sk,
         event_type
  FROM s
),
ns AS (SELECT CAST(COUNT(DISTINCT sk) AS BIGINT) AS n FROM st),
marg AS (SELECT event_type, COUNT(*) AS n_t FROM st GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM st a JOIN st b ON a.sk = b.sk AND a.event_type < b.event_type
  GROUP BY 1, 2
  HAVING COUNT(*) >= {E.COOC_MIN_SUPPORT}
)
SELECT type_a, type_b,
       CAST(n_ab AS BIGINT) AS n_sessions_both,
       CAST(ma.n_t AS BIGINT) AS n_sessions_a,
       CAST(mb.n_t AS BIGINT) AS n_sessions_b,
       ROUND((n_ab * 1.0 * ns.n) / (ma.n_t * 1.0 * mb.n_t), 6) AS lift,
       ROUND(log2((n_ab * 1.0 * ns.n) / (ma.n_t * 1.0 * mb.n_t)), 6) AS pmi_bits
FROM pairs
JOIN marg ma ON ma.event_type = pairs.type_a
JOIN marg mb ON mb.event_type = pairs.type_b
CROSS JOIN ns
""",
)
def events_session_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session action co-occurrence: PMI + lift of event-type
    pairs against session-level marginals — behavioral collocation
    (market-basket on actions); gaps-and-islands sessions, session-
    keyed pair join bounded by |types|."""
    return E.session_type_pmi(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 126 (round 2): LSA power iteration — the corpus's dominant topic
# axis from the sparse tf-idf matrix.
# --------------------------------------------------------------------------


def _lsa_oracle() -> str:
    ctes = [
        f"tk AS (SELECT doc_id, unnest({_TK_SQL}) AS t FROM documents)",
        "tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tk GROUP BY 1, 2)",
        "dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1)",
        "nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)",
        f"""vdf AS (
  SELECT t, ROUND(ln(nd.n / df), 6) AS idf
  FROM dfreq CROSS JOIN nd
  ORDER BY df DESC, t LIMIT {T.LSA_VOCAB}
)""",
        "w AS (SELECT tf.doc_id, tf.t, tf.tf * vdf.idf AS w FROM tf JOIN vdf USING (t))",
        "v0 AS (SELECT t, 1.0 AS v FROM vdf)",
    ]
    for i in range(1, T.LSA_ITERS + 1):
        p = i - 1
        ctes.append(
            f"""s{i} AS (
  SELECT w.doc_id,
         CAST(SUM(CAST(ROUND(w.w * v{p}.v, 9) AS DECIMAL(38,12))) AS DOUBLE) AS s
  FROM w JOIN v{p} USING (t) GROUP BY w.doc_id
),
u{i} AS (
  SELECT w.t,
         CAST(SUM(CAST(ROUND(w.w * s{i}.s, 9) AS DECIMAL(38,12))) AS DOUBLE) AS u
  FROM w JOIN s{i} USING (doc_id) GROUP BY w.t
),
n{i} AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 9) AS DECIMAL(38,12))) AS DOUBLE)) AS nn
  FROM u{i}
),
v{i} AS (SELECT t, ROUND(u / n{i}.nn, 8) AS v FROM u{i} CROSS JOIN n{i})"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT t AS term, ROUND(v, 6) AS loading
FROM v{T.LSA_ITERS}
ORDER BY v DESC, t LIMIT {T.LSA_TOPK}
"""


@query("doc_lsa_topic_axis", _lsa_oracle())
def doc_lsa_topic_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSA power iteration ({T.LSA_ITERS} fixed AᵀA steps, per-step
    renormalize + rounded-DECIMAL sums) over the vocabulary-capped
    tf-idf matrix: the corpus's dominant topic direction as its top
    term loadings — distributed LSA with a |V|-row model state."""
    return T.lsa_power_iteration(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 127 (round 2): item-item collaborative filtering on co-visitation
# cosine — 'customers who bought X also bought'.
# --------------------------------------------------------------------------


_CV_H = (
    "CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR) || '#' "
    "|| CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT)"
)


@query(
    "part_covisit_recs",
    f"""
WITH rel0 AS (
  SELECT DISTINCT o_custkey, l_partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
-- whale-basket cap: top-{R.COVISIT_BASKET_CAP} parts per customer by
-- the deterministic md5(cust#part) hash rank (same rule as the operator)
rel AS (
  SELECT o_custkey, l_partkey FROM (
    SELECT o_custkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY {_CV_H}, l_partkey) AS r
    FROM rel0
  ) WHERE r <= {R.COVISIT_BASKET_CAP}
),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS co
  FROM rel a JOIN rel b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {R.COVISIT_MIN_CO}
),
support AS (SELECT l_partkey AS pk, COUNT(*) AS n_cust FROM rel GROUP BY 1),
sym AS (
  SELECT a, b, co FROM pairs
  UNION ALL
  SELECT b, a, co FROM pairs
),
scored AS (
  SELECT sym.a, sym.b, sym.co,
         ROUND(sym.co / sqrt(CAST(sa.n_cust AS DOUBLE) * sb.n_cust), 6)
           AS cosine
  FROM sym
  JOIN support sa ON sa.pk = sym.a
  JOIN support sb ON sb.pk = sym.b
),
rk AS (
  SELECT a, b, co, cosine,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rnk
  FROM scored
)
SELECT a AS part_id, b AS rec_part_id,
       CAST(co AS BIGINT) AS n_co_customers, cosine, CAST(rnk AS INT) AS rnk
FROM rk WHERE rnk <= {R.COVISIT_TOPK}
""",
)
def part_covisit_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item CF: per part, the top-{R.COVISIT_TOPK} co-purchased
    parts by co-visitation cosine — the neighborhood recommender; one
    customer shuffle, in-expression basket pair explosion, rank-limit
    window on the pair aggregate."""
    return R.item_covisit_recs(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 128 (round 2): Markov accuracy@1 vs the majority baseline — is
# sequence context worth modeling on this stream?
# --------------------------------------------------------------------------


@query(
    "events_markov_accuracy",
    """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
am AS (
  SELECT prev_type, next_type AS predicted FROM (
    SELECT prev_type, next_type,
           ROW_NUMBER() OVER (PARTITION BY prev_type
                              ORDER BY n DESC, next_type) AS r
    FROM counts
  ) WHERE r = 1
),
marg AS (SELECT next_type, SUM(n) AS m FROM counts GROUP BY 1),
base AS (SELECT next_type AS majority, m FROM marg
         ORDER BY m DESC, next_type LIMIT 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_transitions FROM counts),
corr AS (
  SELECT CAST(SUM(CASE WHEN counts.next_type = am.predicted
                       THEN counts.n ELSE 0 END) AS BIGINT) AS n_correct
  FROM counts JOIN am USING (prev_type)
)
SELECT n_transitions, n_correct,
       ROUND(n_correct * 1.0 / n_transitions, 6) AS markov_accuracy,
       majority AS baseline_type,
       ROUND(m * 1.0 / n_transitions, 6) AS baseline_accuracy,
       ROUND((n_correct - m) * 1.0 / n_transitions, 6) AS lift
FROM tot, corr, base
""",
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov accuracy@1: argmax-transition next-event prediction vs
    the majority-class baseline with the lift — the is-sequence-
    context-worth-it number (in-sample ceiling, stated); |types|-sized
    model tables broadcast."""
    return E.markov_prediction_accuracy(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 129 (round 2): leave-one-out recommender evaluation — hit@k of the
# hidden purchase, the quality number behind the similarity table.
# --------------------------------------------------------------------------

@query(
    "part_covisit_holdout_eval",
    f"""
WITH rel AS (
  SELECT DISTINCT o_custkey, l_partkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
mk AS (
  SELECT o_custkey, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY {_CV_H}, l_partkey) AS r,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n
  FROM rel
),
holdout AS (SELECT o_custkey, l_partkey AS held FROM mk WHERE r = 1 AND n >= 2),
train AS (SELECT o_custkey, l_partkey FROM mk
          WHERE (r > 1 OR n < 2) AND r <= {R.COVISIT_BASKET_CAP} + 1),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS co
  FROM train a JOIN train b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {R.COVISIT_MIN_CO}
),
support AS (SELECT l_partkey AS pk, COUNT(*) AS n_cust FROM train GROUP BY 1),
sym AS (SELECT a, b, co FROM pairs UNION ALL SELECT b, a, co FROM pairs),
scored AS (
  SELECT sym.a, sym.b,
         ROUND(sym.co / sqrt(CAST(sa.n_cust AS DOUBLE) * sb.n_cust), 6)
           AS cosine
  FROM sym
  JOIN support sa ON sa.pk = sym.a
  JOIN support sb ON sb.pk = sym.b
),
recs AS (
  SELECT a, b, cosine FROM (
    SELECT a, b, cosine,
           ROW_NUMBER() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rk
    FROM scored
  ) WHERE rk <= {R.COVISIT_TOPK}
),
cand AS (
  SELECT t.o_custkey, r.b AS cand,
         SUM(CAST(r.cosine AS DECIMAL(18,6))) AS score
  FROM train t JOIN recs r ON t.l_partkey = r.a
  WHERE NOT EXISTS (SELECT 1 FROM train t2
                    WHERE t2.o_custkey = t.o_custkey AND t2.l_partkey = r.b)
  GROUP BY 1, 2
),
topc AS (
  SELECT o_custkey, cand FROM (
    SELECT o_custkey, cand,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY score DESC, cand) AS rk
    FROM cand
  ) WHERE rk <= {R.COVISIT_TOPK}
),
hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM holdout h
  WHERE EXISTS (SELECT 1 FROM topc
                WHERE topc.o_custkey = h.o_custkey AND topc.cand = h.held)
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users_eval FROM holdout)
SELECT n_users_eval, n_hits,
       ROUND(n_hits * 1.0 / NULLIF(n_users_eval, 0), 6) AS hit_rate_at_{R.COVISIT_TOPK}
FROM ne, hits
""",
)
def part_covisit_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out recommender eval: hide one md5-gated purchase per
    multi-part customer, rebuild the top-{R.COVISIT_TOPK} rec lists
    from the rest, score user candidates by DECIMAL-exact cosine sums
    (owned items excluded) and measure hit@{R.COVISIT_TOPK} of the
    hidden item — recommender QUALITY, not just similarity."""
    return R.covisit_holdout_eval(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# --------------------------------------------------------------------------
# Wave 130 (round 2): k-means on z-scored RFM — the clustering counterpart
# of the rule-based tercile segments.
# --------------------------------------------------------------------------


def _rfm_kmeans_oracle() -> str:
    seeds = ", ".join(str(s) for s in R.RFM_KMEANS_SEEDS)
    z_of = (
        "ROUND((CAST({c} AS DOUBLE) - CAST(s_{c} AS DOUBLE) / n)"
        " / sqrt(CAST(q_{c} AS DOUBLE) / n"
        " - (CAST(s_{c} AS DOUBLE) / n) * (CAST(s_{c} AS DOUBLE) / n)), 6)"
    )
    ctes = [
        "refd AS (SELECT MAX(o_orderdate) AS a FROM orders)",
        """feats AS (
  SELECT o_custkey,
         CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(refd.a AS DATE))) AS BIGINT) AS rec,
         CAST(COUNT(*) AS BIGINT) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS mon
  FROM orders CROSS JOIN refd GROUP BY o_custkey
)""",
        """stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(rec AS DECIMAL(28,4))) AS s_rec,
         SUM(CAST(CAST(rec AS DECIMAL(18,2)) * CAST(rec AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS q_rec,
         SUM(CAST(freq AS DECIMAL(28,4))) AS s_freq,
         SUM(CAST(CAST(freq AS DECIMAL(18,2)) * CAST(freq AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS q_freq,
         SUM(CAST(mon AS DECIMAL(28,4))) AS s_mon,
         SUM(CAST(CAST(mon AS DECIMAL(18,2)) * CAST(mon AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS q_mon
  FROM feats
)""",
        f"""z AS (
  SELECT o_custkey,
         {z_of.format(c='rec')} AS zr,
         {z_of.format(c='freq')} AS zf,
         {z_of.format(c='mon')} AS zm
  FROM feats CROSS JOIN stats
)""",
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_custkey) - 1 AS INT) AS c,
         zr AS cr, zf AS cf, zm AS cm
  FROM z WHERE o_custkey IN ({seeds})
)""",
    ]
    dist = (
        "ROUND((zr - cr) * (zr - cr) + (zf - cf) * (zf - cf)"
        " + (zm - cm) * (zm - cm), 6)"
    )
    for i in range(1, R.RFM_KMEANS_ITERS + 1):
        p = i - 1
        ctes.append(
            f"""a{i} AS (
  SELECT o_custkey, zr, zf, zm, c FROM (
    SELECT z.*, c{p}.c, {dist} AS d,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY {dist}, c{p}.c) AS rn
    FROM z CROSS JOIN c{p}
  ) WHERE rn = 1
),
c{i} AS (
  SELECT c,
         ROUND(CAST(SUM(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS cr,
         ROUND(CAST(SUM(CAST(zf AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS cf,
         ROUND(CAST(SUM(CAST(zm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS cm
  FROM a{i} GROUP BY c
)"""
        )
    last = R.RFM_KMEANS_ITERS
    ctes.append(
        f"""fin AS (
  SELECT o_custkey, c, cr, cf, cm FROM (
    SELECT z.o_custkey, c{last}.c, c{last}.cr, c{last}.cf, c{last}.cm,
           ROW_NUMBER() OVER (PARTITION BY z.o_custkey
                              ORDER BY {dist}, c{last}.c) AS rn
    FROM z CROSS JOIN c{last}
  ) WHERE rn = 1
)"""
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_customers,
       cr AS centroid_recency_z, cf AS centroid_frequency_z,
       cm AS centroid_monetary_z
FROM fin GROUP BY c, cr, cf, cm
"""


@query("customers_rfm_kmeans", _rfm_kmeans_oracle())
def customers_rfm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means ({R.RFM_KMEANS_ITERS} fixed Lloyd steps, deterministic
    seed customers, per-step ROUND 6) over z-scored RFM features —
    clustering-based customer segments beside the rule-based terciles;
    k-row model state broadcast each step."""
    return R.rfm_kmeans_segments(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 131 (round 2): language-mix purity per source + retention half-life.
# --------------------------------------------------------------------------


@query(
    "source_lang_entropy",
    f"""
WITH t AS (SELECT source, {_TK_SQL} AS tk FROM documents),
s AS (
  SELECT source,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS s_en,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["de"]}'], x))) AS s_de,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["fr"]}'], x))) AS s_fr,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["es"]}'], x))) AS s_es
  FROM t
),
p AS (
  SELECT source,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END AS predicted
  FROM s
),
cells AS (SELECT source, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2),
tot AS (SELECT source, SUM(n) AS nt FROM cells GROUP BY 1),
top AS (
  SELECT source, predicted AS dominant_lang, n AS dn FROM (
    SELECT source, predicted, n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, predicted) AS r
    FROM cells
  ) WHERE r = 1
),
ent AS (
  SELECT source,
         -SUM(CAST(ROUND((n * 1.0 / nt) * log2(n * 1.0 / nt), 9)
                   AS DECIMAL(38,12))) AS h
  FROM cells JOIN tot USING (source) GROUP BY source
)
SELECT source, CAST(nt AS BIGINT) AS n_docs, dominant_lang,
       ROUND(dn * 1.0 / nt, 6) AS dominant_share,
       ROUND(CAST(h AS DOUBLE), 6) AS lang_entropy_bits
FROM tot JOIN top USING (source) JOIN ent USING (source)
""",
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix purity per source: predicted-language entropy,
    dominant language + share — the is-this-slice-monolingual read on
    the deterministic profile-word classifier."""
    return T.source_language_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "events_retention_halflife",
    f"""
WITH wk AS (
  SELECT user_id, date_trunc('week', ts) AS w FROM events
),
first AS (SELECT user_id, MIN(w) AS cohort FROM wk GROUP BY 1),
active AS (SELECT DISTINCT user_id, w FROM wk),
grid AS (
  SELECT CAST(first.cohort AS DATE) AS cohort_week,
         CAST(date_diff('day', CAST(first.cohort AS DATE), CAST(active.w AS DATE))
              / 7 AS INT) AS week_offset,
         CAST(COUNT(DISTINCT active.user_id) AS BIGINT) AS n_users
  FROM active JOIN first USING (user_id)
  GROUP BY 1, 2
),
eligible AS (
  SELECT cohort_week FROM grid GROUP BY cohort_week
  HAVING MAX(week_offset) >= {E.RET_FIT_K}
),
g AS (SELECT grid.* FROM grid JOIN eligible USING (cohort_week)),
base AS (
  SELECT CAST(SUM(n_users) AS BIGINT) AS n0,
         CAST(COUNT(*) AS BIGINT) AS n_cohorts_used
  FROM g WHERE week_offset = 0
),
pooled AS (
  SELECT CAST(week_offset AS BIGINT) AS k,
         ROUND(SUM(n_users) * 1.0 / base.n0, 6) AS r,
         CAST(ROUND(ln(SUM(n_users) * 1.0 / base.n0), 9) AS DECIMAL(38,12)) AS y,
         base.n0, base.n_cohorts_used
  FROM g CROSS JOIN base
  WHERE week_offset BETWEEN 1 AND {E.RET_FIT_K}
  GROUP BY week_offset, base.n0, base.n_cohorts_used
),
s AS (
  SELECT n_cohorts_used, CAST(COUNT(*) AS BIGINT) AS m,
         SUM(k) AS sk, SUM(k * k) AS skk, SUM(y) AS sy,
         SUM(CAST(k * y AS DECIMAL(38,12))) AS sky,
         MAX(CASE WHEN k = 1 THEN r END) AS r1_share
  FROM pooled GROUP BY n_cohorts_used
)
-- sky/sy -> double via VARCHAR: scale-12 sums whose significand can
-- exceed 2^53; DuckDB's direct decimal cast can be 1 ulp off Spark's
-- correctly-rounded BigDecimal cast (nation_gravity_model class, r5)
SELECT n_cohorts_used, m AS n_points, r1_share,
       ROUND((m * CAST(CAST(sky AS VARCHAR) AS DOUBLE) - sk * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / NULLIF(CAST(m * skk - sk * sk AS DOUBLE), 0.0), 6) AS decay_slope,
       ROUND(CASE WHEN ROUND((m * CAST(CAST(sky AS VARCHAR) AS DOUBLE) - sk * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                       / NULLIF(CAST(m * skk - sk * sk AS DOUBLE), 0.0), 6) < 0
                  THEN -ln(2.0)
                       / ROUND((m * CAST(CAST(sky AS VARCHAR) AS DOUBLE) - sk * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                       / NULLIF(CAST(m * skk - sk * sk AS DOUBLE), 0.0), 6)
             END, 6) AS half_life_weeks
FROM s
""",
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of pooled weekly retention (offsets
    1..{E.RET_FIT_K}, cohorts old enough to reach them): slope and the
    half-life in weeks — the single number behind the retention grid;
    rounded-ln DECIMAL sums on <= {E.RET_FIT_K} points."""
    return E.retention_halflife(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 133 (round 2): composite quality gate — the ship-it filter the
# individual audits feed, with per-rule failure attribution.
# --------------------------------------------------------------------------


@query(
    "doc_quality_gate",
    f"""
WITH sig AS (
  SELECT source,
         len({_TK_SQL}) AS n_tok,
         length(text) AS n_char,
         len(list_filter({_TK_SQL},
             x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS n_stop,
         length(text) - length(regexp_replace(text, '[{{}}();=<>]', '', 'g'))
           AS symbols,
         COALESCE((SELECT MAX(c) FROM (
            SELECT COUNT(*) AS c FROM unnest({_TK_SQL}) AS u(t) GROUP BY t
         )), 0) AS top_tok
  FROM documents
),
rules AS (
  SELECT source,
         (n_tok >= {T.GATE_MIN_TOKENS} AND n_tok <= {T.GATE_MAX_TOKENS}) AS r_l,
         CASE WHEN n_tok > 0
              THEN n_stop * 1.0 / n_tok >= {T.GATE_MIN_STOP!r}
              ELSE FALSE END AS r_s,
         CASE WHEN n_char > 0
              THEN symbols * 1.0 / n_char <= {T.GATE_MAX_SYMBOL!r}
              ELSE TRUE END AS r_y,
         CASE WHEN n_tok > 0
              THEN top_tok * 1.0 / n_tok <= {T.GATE_MAX_TOP_TOKEN!r}
              ELSE FALSE END AS r_r,
         n_char > 0 AS r_e
  FROM sig
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN r_l AND r_s AND r_y AND r_r AND r_e
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       ROUND(SUM(CASE WHEN r_l AND r_s AND r_y AND r_r AND r_e
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS pass_rate,
       CAST(SUM(CASE WHEN NOT r_l THEN 1 ELSE 0 END) AS BIGINT) AS fail_length,
       CAST(SUM(CASE WHEN NOT r_s THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
       CAST(SUM(CASE WHEN NOT r_y THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbols,
       CAST(SUM(CASE WHEN NOT r_r THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_repetition,
       CAST(SUM(CASE WHEN NOT r_e THEN 1 ELSE 0 END) AS BIGINT) AS fail_empty
FROM rules GROUP BY source
""",
)
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style quality gate: five deterministic
    rules per doc (length band, function-word floor, symbol ceiling,
    repetition ceiling, non-empty) — per-source pass rate with
    per-rule failure attribution; one scan, linear-fold signals."""
    return T.quality_gate(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 134 (round 2): OOV-rate tokenizer-fit audit per source.
# --------------------------------------------------------------------------


@query(
    "source_oov_rate",
    f"""
WITH occ AS (
  SELECT source, t, COUNT(*) AS n
  FROM (SELECT source, unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY 1, 2
),
vocab AS (
  SELECT t FROM (SELECT t, SUM(n) AS tf FROM occ GROUP BY t)
  ORDER BY tf DESC, t LIMIT {T.OOV_VOCAB}
),
fl AS (
  SELECT occ.source, occ.n,
         CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END AS oov
  FROM occ LEFT JOIN vocab ON occ.t = vocab.t
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) AS BIGINT) AS n_oov_tokens,
       ROUND(SUM(CASE WHEN oov = 1 THEN n ELSE 0 END) * 1.0 / SUM(n), 6)
         AS oov_token_rate,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(oov) AS BIGINT) AS n_oov_types,
       ROUND(SUM(oov) * 1.0 / COUNT(*), 6) AS oov_type_rate
FROM fl GROUP BY source
""",
)
def source_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV share of token occurrences and distinct types
    against the corpus top-{T.OOV_VOCAB} vocabulary — the
    tokenizer-fit audit; one token count + a broadcast vocab join."""
    return T.source_oov_rate(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 135 (round 2): Gini concentration trend — the direction-of-travel
# the single-number inequality index hides.
# --------------------------------------------------------------------------


@query(
    "orders_gini_trend",
    """
WITH spend AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) || '-'
           || CAST(quarter(o_orderdate) AS VARCHAR) AS q,
         o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
  FROM orders GROUP BY 1, 2
),
rk AS (
  SELECT q, spend,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY spend, o_custkey) AS i
  FROM spend
),
per AS (
  SELECT q, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(spend) AS sx,
         SUM(CAST(i * spend AS DECIMAL(30,2))) AS six
  FROM rk GROUP BY q
),
g AS (
  SELECT q, n_customers,
         ROUND(2.0 * CAST(six AS DOUBLE)
               / (n_customers * CAST(sx AS DOUBLE))
               - (n_customers + 1.0) / n_customers, 6) AS gini
  FROM per
),
seq AS (SELECT g.*, ROW_NUMBER() OVER (ORDER BY q) AS t FROM g)
SELECT a.q, a.n_customers, a.gini,
       ROUND(a.gini - b.gini, 6) AS qoq_delta
FROM seq a LEFT JOIN seq b ON a.t = b.t + 1
""",
)
def orders_gini_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quarter customer-spend Gini with QoQ delta — concentration
    direction-of-travel; two-phase grouped ranks, shifted-rank delta
    join on the bounded quarter table."""
    return R.gini_trend_by_quarter(load_table(spark, sf_dir, "orders"))

