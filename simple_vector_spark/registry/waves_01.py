"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, scratch_path

from . import finalize_double, query
from .core_knn import PLANT_MOD, PLANT_SHIFT, WAU_WINDOW_DAYS, _PAIR_COS, _query_vector
from .core_relational import E, R, _DEC_DISC_SQL, _DEC_PRICE_SQL
from .core_dedup import COSINE_DUP_THRESHOLD, D, MINHASH_A, MINHASH_B, MINHASH_P, _DOCS_PLUS_SQL, _SIG_COLS_SQL, _TOKS_SQL, _docs_plus_spark, _minhash_pairs
from .core_ann import A, ANN_K, ANN_QUERY_ID, IVF_NPROBE, T, _CENTS_SQL, _TRAINED_CTES, _emb_with_cells, _mean6_sql, _seed_codebook, _trained_centroids
from .core_text import _TK_SQL
from .core_multimodal_streaming import MM


# --------------------------------------------------------------------------
# Relational wave 3: remaining classic TPC-H shapes + exact distributed
# statistics + phrase mining + event inter-arrival.
# --------------------------------------------------------------------------


@query(
    "tpch_q13_order_counts",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT CAST(COALESCE(n, 0) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) oc
    ON c_custkey = oc.o_custkey
) GROUP BY c_count
""",
)
def tpch_q13_order_counts(spark, sf_dir):
    """TPC-H Q13: customer distribution by order count (incl. zero),
    aggregate-before-join so the outer join moves pre-counted rows."""
    return R.order_count_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@query(
    "tpch_q18_large_orders",
    """
SELECT CAST(c_custkey AS BIGINT) AS custkey, o_orderkey AS orderkey,
       o_orderdate AS orderdate,
       ROUND(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE), 2) AS totalprice,
       ROUND(CAST(sumq AS DOUBLE), 2) AS sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sumq
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > 300
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18: HAVING-filtered aggregate as a semi-join driver."""
    return R.large_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "tpch_q19_disjunctive",
    f"""
SELECT ROUND(CAST(SUM({_DEC_PRICE_SQL} * {_DEC_DISC_SQL}) AS DOUBLE), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19: OR-of-ANDs predicate spanning both join sides."""
    return R.disjunctive_promo_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "tpch_q22_idle_rich",
    """
WITH stats AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS total, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_nationkey AS INT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE), 2) AS totacctbal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(15,2)) * n > total
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
""",
)
def tpch_q22_idle_rich(spark, sf_dir):
    """TPC-H Q22: above-average balance (division-free DECIMAL
    comparison) + lapsed-customer anti-join (no orders since
    2001-01-01), per-nation rollup."""
    return R.idle_rich_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@query(
    "cheapest_supplier_parts",
    """
WITH ranked AS (
  SELECT l_partkey, l_suppkey,
         ROW_NUMBER() OVER (
           PARTITION BY l_partkey
           ORDER BY ROUND(l_extendedprice / l_quantity, 6) ASC, l_suppkey ASC
         ) AS rn
  FROM lineitem
)
SELECT s_suppkey AS suppkey, s_name AS suppname,
       CAST(COUNT(*) AS BIGINT) AS n_parts_won
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
GROUP BY s_suppkey, s_name
""",
)
def cheapest_supplier_parts(spark, sf_dir):
    """TPC-H Q2 shape on the fixture schema: per-part min-cost supplier
    via one window (no correlated self-join), counted per supplier."""
    return R.cheapest_supplier_parts(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


@query(
    "lineitem_corr_stats",
    """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2)) AS DECIMAL(25,4))) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2)) AS DECIMAL(30,4))) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2)) AS DECIMAL(28,4))) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price,
       ROUND(SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * (n - 1.0))), 6)
         AS stddev_qty,
       ROUND(SQRT((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / (n * (n - 1.0))), 4)
         AS stddev_price
FROM s
""",
)
def lineitem_corr_stats(spark, sf_dir):
    """Distributed corr/stddev from exact DECIMAL power sums — stable
    at any partition count, unlike naive double F.corr."""
    return R.flag_corr_stats(load_table(spark, sf_dir, "lineitem"))


@query(
    "events_interarrival",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(SUM(gap_us) / (COUNT(*) * 1e6), 6) AS avg_gap_sec,
       ROUND(MAX(gap_us) / 1e6, 6) AS max_gap_sec,
       ROUND(MIN(gap_us) / 1e6, 6) AS min_gap_sec
FROM (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
) WHERE gap_us IS NOT NULL
GROUP BY event_type
""",
)
def events_interarrival(spark, sf_dir):
    """Per-type inter-arrival gaps via per-user lag window; exact
    integer-microsecond sums."""
    return E.interarrival_stats(load_table(spark, sf_dir, "events"))


@query(
    "doc_bigrams_top50",
    f"""
WITH tk AS (SELECT {_TK_SQL} AS t FROM documents),
b AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM tk, UNNEST(range(1, len(t))) AS u(i)
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
""",
)
def doc_bigrams_top50(spark, sf_dir):
    """Corpus top-50 bigrams: zip_with shifted slices inside the scan,
    partial-agg shuffle, TakeOrderedAndProject."""
    return T.bigram_topn(load_table(spark, sf_dir, "documents"), 50)


# --------------------------------------------------------------------------
# Wave 4: training-data curation (decontamination, chunking, splits,
# repetition, blocklist) + bulk k-means iteration.
# --------------------------------------------------------------------------
from ..operators import curation as CU  # noqa: E402

_SH8_SQL = (
    "CASE WHEN len(tk) >= 8 THEN list_transform(range(len(tk) - 7), i -> "
    + " || ' ' || ".join(f"tk[i+{j}]" for j in range(1, 9))
    + ") ELSE [] END"
)
_SH3_SQL = (
    "CASE WHEN len(tk) >= 3 THEN list_transform(range(len(tk) - 2), i -> "
    "tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) ELSE [] END"
)
_BENCH_PRED = f"(doc_id % {PLANT_MOD} = 0 AND doc_id < {PLANT_SHIFT})"
BLOCKLIST = ["slow", "legacy", "broken"]


@query(
    "decontaminate_ngram",
    f"""
WITH {_DOCS_PLUS_SQL.strip()},
tk AS (SELECT doc_id, {_TK_SQL} AS tk FROM docs_plus),
sh AS (SELECT doc_id, {_SH8_SQL} AS sh FROM tk),
bsh AS (SELECT DISTINCT doc_id AS bench_id, unnest(sh) AS s FROM sh
        WHERE {_BENCH_PRED}),
tsh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh
        WHERE NOT {_BENCH_PRED})
SELECT doc_id,
       CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_hit,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shared_shingles
FROM tsh JOIN bsh USING (s)
GROUP BY doc_id
""",
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 8-gram with
    the held-out set (the planted originals act as the benchmark; their
    planted copies are guaranteed hits) — benchmark side broadcast."""
    return CU.decontaminate(_docs_plus_spark(spark, sf_dir), PLANT_MOD, PLANT_SHIFT)


@query(
    "doc_chunk_audit",
    f"""
WITH tk AS (SELECT source, len({_TK_SQL}) AS n_tok FROM documents),
c AS (
  SELECT source, least(128, n_tok - start + 1) AS chunk_tok
  FROM tk, UNNEST(range(1, greatest(n_tok, 1) + 1, 96)) AS u(start)
  WHERE n_tok >= 1
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tok) AS BIGINT) AS sum_chunk_tokens,
       CAST(COUNT(CASE WHEN chunk_tok < 128 THEN 1 END) AS BIGINT) AS n_partial
FROM c GROUP BY source
""",
)
def doc_chunk_audit(spark, sf_dir):
    """Context-window chunking (size 128, stride 96): per-source chunk
    counts and partial-chunk (padding-waste) accounting."""
    return CU.chunk_audit(load_table(spark, sf_dir, "documents"))


@query(
    "dataset_split_audit",
    """
SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h,
         lang, n_chars
  FROM documents
) GROUP BY 1, 2
""",
)
def dataset_split_audit(spark, sf_dir):
    """Deterministic md5-gate train/val/test split with per-(split,
    lang) dataset-card stats."""
    return CU.split_audit(load_table(spark, sf_dir, "documents"))


@query(
    "doc_repetition_stats",
    f"""
WITH tk AS (SELECT source, {_TK_SQL} AS tk FROM documents),
sh AS (SELECT source, {_SH3_SQL} AS sh FROM tk),
per AS (SELECT source, len(sh) AS n_sh, len(list_distinct(sh)) AS n_uniq FROM sh)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN n_uniq < n_sh THEN 1 END) AS BIGINT) AS n_docs_with_repeats,
       CAST(SUM(n_sh) AS BIGINT) AS sum_shingles,
       CAST(SUM(n_uniq) AS BIGINT) AS sum_distinct,
       ROUND(1 - CAST(SUM(n_uniq) AS DOUBLE) / SUM(n_sh), 6) AS corpus_rep_ratio
FROM per GROUP BY source
""",
)
def doc_repetition_stats(spark, sf_dir):
    """Within-doc 3-gram repetition audit (Gopher/C4 quality rule)."""
    return CU.repetition_stats(load_table(spark, sf_dir, "documents"))


@query(
    "blocklist_audit",
    f"""
WITH t AS (
  SELECT source,
         len(list_filter({_TK_SQL}, x -> list_contains(['{"', '".join(BLOCKLIST)}'], x))) AS n_hits
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN n_hits > 0 THEN 1 END) AS BIGINT) AS n_flagged,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits
FROM t GROUP BY source
""",
)
def blocklist_audit(spark, sf_dir):
    """C4-style blocklist pass: per-source flagged docs + hit mass."""
    return CU.blocklist_audit(load_table(spark, sf_dir, "documents"), BLOCKLIST)


_KM_CIDS = ", ".join(str(i) for i in A.CENTROID_IDS)


@query(
    "embeddings_kmeans_step",
    f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_KM_CIDS})
),
pairs AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN c
),
d AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS dist
      FROM pairs GROUP BY vec_id, cid),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
vals AS (
  SELECT a.cid AS cluster_id,
         CAST(ROUND(CAST(e.embedding[1] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d0,
         CAST(ROUND(CAST(e.embedding[2] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d1,
         CAST(ROUND(CAST(e.embedding[3] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d2,
         CAST(ROUND(CAST(e.embedding[4] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d3
  FROM assign a JOIN embeddings e USING (vec_id)
)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
       {_mean6_sql("SUM(d0)", "COUNT(*)")} AS mean_d0,
       {_mean6_sql("SUM(d1)", "COUNT(*)")} AS mean_d1,
       {_mean6_sql("SUM(d2)", "COUNT(*)")} AS mean_d2,
       {_mean6_sql("SUM(d3)", "COUNT(*)")} AS mean_d3
FROM vals GROUP BY cluster_id
""",
)
def embeddings_kmeans_step(spark, sf_dir):
    """One k-means Lloyd iteration (assign + recompute means) with
    order-insensitive DECIMAL component sums."""
    return A.kmeans_step(
        load_table(spark, sf_dir, "embeddings"), _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    )


# --------------------------------------------------------------------------
# Wave 5: two-stage vector search (IVF-PQ rerank) and blocked
# embedding dedup with measured blocking recall.
# --------------------------------------------------------------------------
_IVFPQ_SHORTLIST = 50

_ASSIGN_SQL = f"""
cents AS (
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
)
"""

_BLOCKED_PAIRS_SQL = f"""
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.cell
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
pv AS (
  SELECT ia, ib, cell,
         unnest(CAST(ea.embedding AS DOUBLE[])) AS x,
         unnest(CAST(eb.embedding AS DOUBLE[])) AS y
  FROM pairs JOIN embeddings ea ON ea.vec_id = pairs.ia
             JOIN embeddings eb ON eb.vec_id = pairs.ib
),
bld AS (
  SELECT ia, ib, cell,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 6) AS sim
  FROM pv GROUP BY ia, ib, cell
)
"""


@query(
    "ann_ivfpq_rerank",
    f"""
WITH {_ASSIGN_SQL.strip()},
probe AS (SELECT cid AS cell FROM cd WHERE vec_id = {ANN_QUERY_ID} ORDER BY d, cid LIMIT {IVF_NPROBE}),
cand AS (SELECT a.vec_id FROM assign a JOIN probe p USING (cell)),
sub AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
cb AS (
  SELECT cid, s, cv[s*8+1 : s*8+8] AS cw,
         CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY cid) AS INT) AS idx
  FROM cents CROSS JOIN sub
),
corp AS (
  SELECT e.vec_id, s, CAST(e.embedding AS DOUBLE[])[s*8+1 : s*8+8] AS sv
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN sub
),
encdist AS (
  SELECT corp.vec_id, corp.s, cb.idx,
         ROUND(list_aggregate(list_transform(range(1,9),
               i -> (sv[i]-cw[i])*(sv[i]-cw[i])), 'sum'), 6) AS d
  FROM corp JOIN cb ON corp.s = cb.s
),
enc AS (
  SELECT vec_id, s, idx FROM (
    SELECT vec_id, s, idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, idx) AS rn
    FROM encdist
  ) WHERE rn = 1
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
dq AS (
  SELECT cb.s, cb.idx,
         CAST(ROUND(list_aggregate(list_transform(range(1,9),
              i -> (qv[cb.s*8+i]-cw[i])*(qv[cb.s*8+i]-cw[i])), 'sum'), 6)
              AS DECIMAL(18,6)) AS d
  FROM cb CROSS JOIN q
),
adc AS (
  SELECT enc.vec_id, CAST(SUM(dq.d) AS DOUBLE) AS adc_dist
  FROM enc JOIN dq ON enc.s = dq.s AND enc.idx = dq.idx
  GROUP BY enc.vec_id
),
short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT {_IVFPQ_SHORTLIST}),
rp AS (
  SELECT s.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM short s JOIN embeddings e USING (vec_id) CROSS JOIN q
),
rd AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM rp GROUP BY vec_id)
SELECT vec_id, dist FROM rd ORDER BY dist, vec_id LIMIT {ANN_K}
""",
)
def ann_ivfpq_rerank(spark, sf_dir):
    """Full IVF-PQ pipeline (FAISS IndexIVFPQ analog): nprobe-cell
    probe -> codes-only ADC shortlist (top-50) -> exact rerank of the
    shortlist only.  Stage 1 touches the 8-byte code column of probed
    cells; stage 2 fetches 50 full vectors by broadcast id join."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    cbs = A.pq_codebooks(cents)
    q = _query_vector(spark, sf_dir, ANN_QUERY_ID)
    return A.ivfpq_rerank_search(
        _emb_with_cells(spark, sf_dir), q, cents, cbs, ANN_K, IVF_NPROBE,
        _IVFPQ_SHORTLIST
    )


@query(
    "dedup_embedding_blocked",
    f"""
WITH {_ASSIGN_SQL.strip()},
{_BLOCKED_PAIRS_SQL.strip()}
SELECT ia, ib, CAST(cell AS INT) AS cell, sim
FROM bld WHERE sim >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_blocked(spark, sf_dir):
    """Cell-blocked semantic near-dup pairs: IVF-cell assignment
    in-scan, shuffle join on the cell id — sum(cell^2) pair space
    instead of n^2 (the 100 TB path; recall measured below)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    return D.embedding_cosine_pairs_blocked(emb, cents, COSINE_DUP_THRESHOLD)


@query(
    "embedding_blocked_recall",
    f"""
WITH {_ASSIGN_SQL.strip()},
{_BLOCKED_PAIRS_SQL.strip()},
bp AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         unnest(CAST(a.embedding AS DOUBLE[])) AS x,
         unnest(CAST(b.embedding AS DOUBLE[])) AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
bd AS (SELECT ia, ib, ROUND(SUM(x*y)/(SQRT(SUM(x*x))*SQRT(SUM(y*y))),6) AS sim
       FROM bp GROUP BY ia, ib),
nb AS (SELECT COUNT(*) AS n FROM bd WHERE sim >= {COSINE_DUP_THRESHOLD}),
nk AS (SELECT COUNT(*) AS n FROM bld WHERE sim >= {COSINE_DUP_THRESHOLD})
SELECT CAST(nb.n AS BIGINT) AS n_brute, CAST(nk.n AS BIGINT) AS n_blocked,
       CASE WHEN nb.n > 0
            THEN ROUND(CAST(nk.n AS DOUBLE) / nb.n, 6) END AS recall
FROM nb CROSS JOIN nk
""",
)
def embedding_blocked_recall(spark, sf_dir):
    """What cell-blocking costs: blocked pairs / brute-force pairs at
    the same threshold (blocked is a strict subset — same sim
    expression, fewer candidates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    blocked = D.embedding_cosine_pairs_blocked(emb, cents, COSINE_DUP_THRESHOLD)
    # brute-force denominator is a COUNT only — the blocked cogrouped
    # tile kernel (per-tile counts shuffle, numpy at BLAS speed)
    # replaces materializing the broadcast-NLJ HOF pair set
    nb = K.allpairs_threshold_count_arrow(
        emb, COSINE_DUP_THRESHOLD, metric="cosine"
    ).withColumnRenamed("n_true_pairs", "n_brute")
    nk = blocked.agg(F.count("*").cast("bigint").alias("n_blocked"))
    return nb.crossJoin(nk).select(
        "n_brute",
        "n_blocked",
        F.when(
            F.col("n_brute") > 0,
            F.round(F.col("n_blocked").cast("double") / F.col("n_brute"), 6),
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# Wave 6: harder TPC-H shapes (Q7/Q10/Q16/Q21) and a bucketed
# time-range join.
# --------------------------------------------------------------------------
@query(
    "tpch_q7_nation_volume",
    """
SELECT supp_nation, cust_nation, l_year,
       ROUND(CAST(SUM(vol) AS DOUBLE), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) *
         (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6))) AS vol
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name != n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7: cross-nation shipping volume by year/direction; both
    nation-pruned dims broadcast, single fact-fact shuffle."""
    return R.nation_trade_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@query(
    "tpch_q10_returned_revenue",
    """
WITH per AS (
  SELECT o_custkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
  GROUP BY o_custkey
)
SELECT c_custkey AS custkey, c_name AS custname,
       ROUND(CAST(rev AS DOUBLE), 4) AS revenue,
       ROUND(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE), 2) AS acctbal,
       n_name AS nation
FROM per JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, custkey LIMIT 20
""",
)
def tpch_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10: per-customer returned-item revenue for one quarter,
    top-20; fact-side filters first, dims broadcast after the agg."""
    return R.returned_item_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@query(
    "tpch_q16_supplier_counts",
    """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per part attribute group,
    flagged suppliers excluded via broadcast anti-join."""
    return R.parts_supplier_counts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@query(
    "tpch_q21_sole_blame",
    """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_fail
  FROM lineitem GROUP BY l_orderkey
),
blamed AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN per_order p ON l.l_orderkey = p.l_orderkey
  WHERE l.l_returnflag = 'R' AND p.n_supps > 1 AND p.n_fail = 1
)
SELECT s_suppkey AS suppkey, s_name AS suppname,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM blamed JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, suppkey LIMIT 20
""",
)
def tpch_q21_sole_blame(spark, sf_dir):
    """TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair decorrelated into
    one per-order aggregate (n_supps > 1 AND n_fail = 1) — one fact
    shuffle instead of three correlated self-joins."""
    return R.sole_blame_suppliers(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


@query(
    "events_range_join_follow",
    """
WITH errors AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
purchases AS (SELECT ts FROM events WHERE event_type = 'purchase'),
m AS (
  SELECT e.event_id, CAST(COUNT(p.ts) AS BIGINT) AS n_follow
  FROM errors e LEFT JOIN purchases p
    ON p.ts > e.ts AND p.ts <= e.ts + INTERVAL 600 SECONDS
  GROUP BY e.event_id
)
SELECT event_id, n_follow FROM m
""",
)
def events_range_join_follow(spark, sf_dir):
    """Interval join via bucket decomposition: each error event covers
    exactly two 600s buckets, purchases carry their own bucket, so the
    non-equi time predicate becomes an equi-join on bucket + residual
    filter.  The oracle states the same semantics as a plain non-equi
    join — the decomposition is pure plan strategy."""
    return E.range_join_follow_counts(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 7: remaining UDF shapes — Python UDTF (LATERAL) and grouped-agg
# Arrow UDAF.
# --------------------------------------------------------------------------
@query(
    "doc_chunks_udtf",
    f"""
WITH tk AS (SELECT doc_id, len({_TK_SQL}) AS n_tok FROM documents)
SELECT doc_id, CAST(start AS INT) AS start,
       CAST(least(128, n_tok - start + 1) AS INT) AS chunk_tok
FROM tk, UNNEST(range(1, n_tok + 1, 96)) AS u(start)
WHERE n_tok >= 1
""",
)
def doc_chunks_udtf(spark, sf_dir):
    """Python UDTF surface: the context-window chunker as a table
    function invoked via SQL LATERAL — one doc row fans out to its
    chunk rows inside the scan stage's Python worker (same distributed
    shape as the explode() form in doc_chunk_audit, different
    extension mechanism)."""
    from ..functions.text import tokens
    from ..functions.udx import ChunkUDTF

    spark.udtf.register("chunk_windows", ChunkUDTF)
    load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    ).createOrReplaceTempView("__doc_tok")
    return spark.sql(
        """
        SELECT d.doc_id, c.start, c.chunk_tok
        FROM __doc_tok d, LATERAL chunk_windows(d.n_tok) c
        """
    )


@query(
    "doc_median_chars",
    """
SELECT source, lang, CAST(median(n_chars) AS DOUBLE) AS median_chars
FROM documents GROUP BY source, lang
""",
)
def doc_median_chars(spark, sf_dir):
    """Grouped-agg Arrow UDAF surface: exact median over integer
    n_chars per (source, lang) — the whole group arrives as one Arrow
    batch, kernel is order-insensitive, result hash-matches SQL
    median()."""
    from ..functions.udx import median_agg

    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(median_agg(F.col("n_chars")).alias("median_chars"))
    )


# --------------------------------------------------------------------------
# Wave 8: sketches — Count-Min heavy hitters (exact-arithmetic,
# oracle-checked) and quantile-sketch accuracy audit (rows-only).
# --------------------------------------------------------------------------
from ..operators import sketches as SK  # noqa: E402

_CMS_A = "[" + ", ".join(str(a) for a in MINHASH_A[:4]) + "]"
_CMS_B = "[" + ", ".join(str(b) for b in MINHASH_B[:4]) + "]"


@query(
    "cms_heavy_hitters",
    f"""
WITH toks AS (SELECT unnest({_TK_SQL}) AS t FROM documents),
cnt AS (
  SELECT t, COUNT(*) AS true_cnt,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS h
  FROM toks GROUP BY t
),
rws AS (SELECT CAST(j AS INT) AS j FROM range(4) r(j)),
hb AS (
  SELECT t, true_cnt, j,
         (({_CMS_A}[j+1] * h + {_CMS_B}[j+1]) % {MINHASH_P}) % {SK.CMS_W} AS b
  FROM cnt CROSS JOIN rws
),
sk AS (SELECT j, b, SUM(true_cnt) AS bucket_cnt FROM hb GROUP BY j, b),
top AS (SELECT t, true_cnt FROM cnt ORDER BY true_cnt DESC, t LIMIT 20),
pr AS (SELECT top.t, top.true_cnt, hb.j, hb.b FROM top JOIN hb ON hb.t = top.t),
est AS (
  SELECT pr.t, pr.true_cnt, MIN(sk.bucket_cnt) AS cms_est
  FROM pr JOIN sk USING (j, b) GROUP BY pr.t, pr.true_cnt
)
SELECT t AS token, CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overcount
FROM est
""",
)
def cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch audit: exact top-20 token counts vs their CMS
    estimates (4x256, MinHash-family integer hashes) with the
    one-sided collision overcount."""
    return SK.cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


@query(
    "orders_quantile_sketch_audit",
    """
WITH s AS (
  SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                       [0.25, 0.5, 0.75, 0.95]) AS q,
         COUNT(*) AS n
  FROM orders
)
SELECT t.p,
       ROUND(q[t.i], 6) + 0.0 AS exact_value,
       CAST(n AS BIGINT) AS n_rows,
       TRUE AS rank_within_bound
FROM s, (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.95)) t(i, p)
""",
)
def orders_quantile_sketch_audit(spark, sf_dir):
    """percentile_approx (Greenwald-Khanna, the one-pass bounded-memory
    quantile path) vs exact percentile.  The sketch VALUE is
    engine-specific, but its rank-error CONTRACT is not: the checked
    projection emits the exact percentile (DuckDB recomputes it from
    the sorted data) and the boolean rank-error-within-bound column
    whose expected value is the GK guarantee (eps=0.01 plus one row of
    discreteness slack) — a sketch defect flips the boolean and breaks
    the hash.  Full diagnostics (approx value/rank) stay on the
    operator, tests/test_sketches.py asserts the raw contract."""
    return SK.approx_quantile_audit(load_table(spark, sf_dir, "orders")).select(
        "p",
        (F.round(F.col("exact_value"), 6) + F.lit(0.0)).alias("exact_value"),
        "n_rows",
        "rank_within_bound",
    )


# --------------------------------------------------------------------------
# Wave 9: multimodal frame-sampling plumbing (video/audio container
# stand-in): mapInArrow one-to-many fan-out + oracle-checked audit.
# --------------------------------------------------------------------------
@query(
    "multimodal_frame_audit",
    f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(floor((octet_length(encode(text)) + {MM.FRAME_BYTES} - 1) / {MM.FRAME_BYTES}) AS BIGINT) AS n_frames,
       CAST(floor((floor((octet_length(encode(text)) + {MM.FRAME_BYTES} - 1) / {MM.FRAME_BYTES}) + {MM.FRAME_STRIDE} - 1) / {MM.FRAME_STRIDE}) AS BIGINT) AS n_sampled
FROM documents
""",
)
def multimodal_frame_audit(spark, sf_dir):
    """Frame accounting from byte_len alone (no decode): frames per
    container and rows a stride-4 sampler emits — the oracle-checked
    contract for multimodal_frames' fan-out."""
    return MM.frame_audit(MM.with_payload(load_table(spark, sf_dir, "documents")))


@query(
    "multimodal_frames",
    f"""
WITH lk AS (SELECT i AS v, upper(lpad(to_hex(i), 2, '0')) AS h FROM range(256) t(i)),
p AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT p.doc_id, p.hx, p.n, gs.fi
  FROM p, LATERAL (SELECT unnest(generate_series(
           0, CAST(CEIL(p.n / {MM.FRAME_BYTES}.0) AS BIGINT) - 1,
           {MM.FRAME_STRIDE})) AS fi) gs
  WHERE p.n > 0
),
fb AS (
  SELECT fr.doc_id, fr.fi,
         substr(fr.hx,
                CAST(fr.fi * {2 * MM.FRAME_BYTES} + (t.bi - 1) * 2 + 1 AS BIGINT),
                2) AS hp
  FROM fr, LATERAL (SELECT unnest(generate_series(
           1, LEAST(fr.n, (fr.fi + 1) * {MM.FRAME_BYTES})
              - fr.fi * {MM.FRAME_BYTES})) AS bi) t
)
SELECT fb.doc_id,
       CAST(fb.fi AS INT) AS frame_idx,
       CAST(fb.fi * {MM.FRAME_BYTES} AS BIGINT) AS frame_off,
       CAST(SUM(lk.v) % 2147483647 AS BIGINT) AS frame_checksum,
       CAST({MM.THUMB} AS INT) AS thumb_w,
       CAST({MM.THUMB} AS INT) AS thumb_h
FROM fb JOIN lk ON lk.h = fb.hp
GROUP BY fb.doc_id, fb.fi
""",
)
def multimodal_frames(spark, sf_dir):
    """Video frame-sampling via mapInArrow one-to-many fan-out: every
    4th 256-byte frame of each payload becomes a row.  Oracle-checked
    since round 4: the per-frame checksum is byte arithmetic on the
    manufactured payload, which DuckDB recomputes from hex-pair
    explosion (the decode of a REAL video container stays behind the
    codec boundary; the framing math and checksum contract are fully
    verified)."""
    return MM.sample_frames(MM.with_payload(load_table(spark, sf_dir, "documents")))


# --------------------------------------------------------------------------
# Wave 10: text-file source (log-line parsing) and the mapInArrow
# surface.
# --------------------------------------------------------------------------
@query(
    "text_source_logparse",
    """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
""",
)
def text_source_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.read.text source: documents are written as tab-framed log
    lines, read back as raw value strings, and parsed with
    regexp_extract — the classic unstructured-log ingest path.  The
    parse runs inside the scan (JVM regex, no UDF); the oracle reads
    the ORIGINAL parquet, so framing + parse must be lossless.
    Newlines inside text are escaped before framing (a log line IS the
    record boundary — at 100 TB this framing is what makes the format
    splittable)."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("docs_log", sf_dir)
    esc = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\\", r"\\\\"), "\n", r"\\n"
    )
    docs.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.col("n_chars").cast("string"),
            esc,
        ).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return (
        lines.select(
            F.regexp_extract("value", r"^([^\t]*)\t([^\t]*)\t([^\t]*)\t", 2).alias("lang"),
            F.regexp_extract("value", r"^([^\t]*)\t([^\t]*)\t([^\t]*)\t", 3)
            .cast("long")
            .alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@query(
    "embedding_norms_arrow",
    """
WITH u AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
)
SELECT vec_id, ROUND(SQRT(SUM(x * x)), 6) AS l2_norm
FROM u GROUP BY vec_id
""",
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: per-vector L2 norm computed with pyarrow +
    NumPy directly on Arrow record batches — no pandas conversion at
    all, the leanest Python-side path Spark offers.  ``l2_norm_np`` and
    ``round6`` are the NumPy twins of ``ROUND(l2_norm(v), 6)``, so the
    values equal the JVM expression form's; hash-checked against the
    SQL oracle."""
    from ..functions.vector import l2_norm_np, round6, vector_matrix
    from ..sources.loaders import fan_out, map_in_arrow

    def norms(batch):
        emb = vector_matrix(batch.column("embedding"))
        return [batch.column("vec_id"), round6(l2_norm_np(emb))]

    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return map_in_arrow(emb, norms, "vec_id long, l2_norm double")


# --------------------------------------------------------------------------
# Wave 9: the remaining TPC-H shapes — the full 22-query suite is now
# covered (Q2 as cheapest_supplier_parts; partsupp-dependent queries
# adapted to observed lineitem relationships, plan shape preserved).
# --------------------------------------------------------------------------
_VOL_SQL = (
    "CAST(l_extendedprice AS DECIMAL(15,2)) * "
    "(CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"
)


@query(
    "tpch_q6_forecast_revenue",
    """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) *
                      CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND CAST(l_discount AS DECIMAL(8,6)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: all predicates push to the scan, one global sum —
    the row-group-pruning benchmark query."""
    return R.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


@query(
    "tpch_q8_market_share",
    f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         {_VOL_SQL} AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                           ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
             / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share
FROM j GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional PROMO revenue by year;
    five broadcast dims, one fact-fact shuffle, share as a conditional
    aggregate in a single pass."""
    return R.nation_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@query(
    "tpch_q9_product_profit",
    f"""
SELECT sn.n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM({_VOL_SQL}
                      - CAST(p_retailprice AS DECIMAL(15,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 4) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY nation, o_year
""",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year on a
    part-name slice (retailprice*qty stands in for supplycost — no
    partsupp in the fixture)."""
    return R.product_type_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "nation"),
    )


@query(
    "tpch_q11_value_parts",
    f"""
WITH pv AS (
  SELECT l_partkey, SUM({_VOL_SQL}) AS val FROM lineitem GROUP BY l_partkey
),
t AS (SELECT SUM({_VOL_SQL}) AS total,
             COUNT(DISTINCT l_partkey) AS n FROM lineitem)
SELECT l_partkey AS partkey, ROUND(CAST(val AS DOUBLE), 4) AS value
FROM pv, t WHERE val * n > total
""",
)
def tpch_q11_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: revenue-concentration parts above the MEAN
    revenue share (scale-free threshold); the compare is kept in exact
    DECIMAL*BIGINT so no double boundary flips membership."""
    return R.value_concentration(load_table(spark, sf_dir, "lineitem"))


@query(
    "tpch_q12_priority_lines",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
""",
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join-then-conditional-count of high/low
    priority orders per line status (shipmode stand-in)."""
    return R.priority_line_counts(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


@query(
    "tpch_q15_top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_VOL_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name AS suppname,
       ROUND(CAST(total_rev AS DOUBLE), 4) AS total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: max-revenue supplier for one quarter; the MAX scalar
    subquery is an empty-frame window over the small per-supplier
    aggregate, DECIMAL-exact equality."""
    return R.top_revenue_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


@query(
    "tpch_q17_small_qty_revenue",
    """
WITH pa AS (
  SELECT l_partkey AS pp_key,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qsum,
         COUNT(*) AS qcnt
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pp_key
WHERE p_type = 'PROMO'
  AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * qcnt < qsum
""",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue on below-0.2x-average-quantity lines;
    the correlated AVG decorrelates to one per-part aggregate and the
    compare cross-multiplies to stay in exact arithmetic."""
    return R.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@query(
    "tpch_q20_promo_suppliers",
    """
SELECT s_suppkey AS suppkey, s_name AS suppname, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13', 'NATION_15')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 400
  )
""",
)
def tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested-IN chain lowered to broadcast
    semi-joins (promo parts into the fact, qualifying suppliers into
    supplier)."""
    return R.promo_heavy_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


# --------------------------------------------------------------------------
# Wave 10: PII redaction and training-mixture sampling (curation).
# --------------------------------------------------------------------------
_PII_AUG_SQL = """
  SELECT doc_id, source,
    CASE WHEN doc_id % 7 = 0
           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         WHEN doc_id % 7 = 1
           THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234'
         WHEN doc_id % 7 = 2
           THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.' || CAST(doc_id % 100 AS VARCHAR)
         ELSE text END AS text
  FROM documents
"""


@query(
    "pii_redaction_audit",
    f"""
WITH aug AS ({_PII_AUG_SQL}),
red AS (
  SELECT source, text,
    len(regexp_extract_all(text, '{CU.PII_EMAIL}')) AS n_emails,
    len(regexp_extract_all(text, '{CU.PII_PHONE}')) AS n_phones,
    len(regexp_extract_all(text, '{CU.PII_IPV4}')) AS n_ips,
    regexp_replace(regexp_replace(regexp_replace(text,
      '{CU.PII_EMAIL}', '<EMAIL>', 'g'),
      '{CU.PII_PHONE}', '<PHONE>', 'g'),
      '{CU.PII_IPV4}', '<IP>', 'g') AS redacted
  FROM aug
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       CAST(SUM(n_ips) AS BIGINT) AS n_ips,
       CAST(SUM(len(text) - len(redacted)) AS BIGINT) AS chars_removed
FROM red GROUP BY source
""",
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails/phones/IPv4 -> typed placeholders)
    with per-source accounting.  The corpus carries no natural PII, so
    a deterministic doc_id-keyed injection provides ground truth — the
    redaction itself is chained JVM regexp_replace, shuffle-free until
    the final per-source agg.  Patterns are character-class-only so
    Java regex and RE2 agree match-for-match."""
    return CU.pii_audit(load_table(spark, sf_dir, "documents"))


@query(
    "mixture_sample_audit",
    """
WITH g AS (
  SELECT source,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
      AS gate,
    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 800 ELSE 200 END AS w
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN gate < w THEN 1 END) AS BIGINT) AS n_kept,
       CAST(MAX(w) AS INT) AS target_permille,
       ROUND(COUNT(CASE WHEN gate < w THEN 1 END) * 1000.0 / COUNT(*), 6)
         AS achieved_permille
FROM g GROUP BY source
""",
)
def mixture_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture downsampler: per-source target permille
    enforced by a deterministic md5(doc_id) gate — a pure filter at
    scan speed (the mixture weights ride a broadcast CASE, the only
    shuffle is the audit agg).  Audits achieved vs target rate."""
    return CU.mixture_sample_audit(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Wave 11: product-analytics shapes over the event log — ordered
# conversion funnel and weekly cohort retention.
# --------------------------------------------------------------------------
@query(
    "events_funnel_steps",
    """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_view,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_click_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_purchase_after
""",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel with first-touch strictly-
    after semantics, decorrelated to one aggregate per step on a
    shared user_id shuffle key."""
    return E.funnel_steps(load_table(spark, sf_dir, "events"))


@query(
    "events_cohort_retention",
    """
WITH f AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
SELECT CAST(cohort AS DATE) AS cohort_week,
       CAST(date_diff('day', cohort, wk) / 7 AS INT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid (cohort week x week offset ->
    distinct active users); the distinct (user, week) table bounds the
    cell aggregation by users x weeks, not raw events."""
    return E.cohort_retention(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 12: vector-core surface — range (radius) search and IVF
# index-quality stats.
# --------------------------------------------------------------------------
RADIUS_SQ_L2 = 1.5


@query(
    "knn_radius_search",
    f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
pairs AS (
  SELECT e.vec_id, e.label,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
d AS (
  SELECT vec_id, label, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM pairs GROUP BY vec_id, label
)
SELECT * FROM d WHERE dist <= {RADIUS_SQ_L2}
""",
)
def knn_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query (FAISS range_search analog, surface the reference's
    FLAT/HNSW top-k API lacks): all vectors within squared-L2 radius
    of the query — scan scored against the query literal -> filter, no sort/shuffle
    at all, strictly cheaper than top-k at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.radius_search(emb, _query_vector(spark, sf_dir), RADIUS_SQ_L2, "sqL2")


@query(
    "ann_ivf_cell_stats",
    f"""
WITH {_ASSIGN_SQL.strip()},
per AS (
  SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assign GROUP BY cell
),
t AS (SELECT SUM(n_vecs) AS total FROM per),
k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_cells FROM cents)
SELECT cell, n_vecs,
       ROUND(n_vecs / CAST(total AS DOUBLE), 6) AS share,
       ROUND(n_vecs * n_cells / CAST(total AS DOUBLE), 6)
         AS skew_vs_uniform
FROM per, t, k
""",
)
def ann_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-quality audit: per-cell population, share, and skew
    vs the uniform share — the rebalance trigger for the coarse
    quantizer (a hot cell turns nprobe=3 into a half-corpus scan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    return A.ivf_cell_stats(emb, cents)


# --------------------------------------------------------------------------
# Wave 13: explicit set operations and rank-distribution windows.
# --------------------------------------------------------------------------
@query(
    "customers_retained_yoy",
    """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
""",
)
def customers_retained_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both 1995 and 1996 (set
    semantics; lowered to distinct + left-semi join, year filters
    pushed to both scans)."""
    return R.retained_customers(load_table(spark, sf_dir, "orders"))


@query(
    "customers_churned_yoy",
    """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
""",
)
def customers_churned_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers active in 1995 with no 1996 order — the churn
    set (left-anti join under the hood)."""
    return R.churned_customers(load_table(spark, sf_dir, "orders"))


@query(
    "order_value_distribution",
    """
SELECT o_orderkey AS orderkey, o_orderpriority,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM orders
WHERE year(o_orderdate) = 1996
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
""",
)
def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of order value per priority class —
    one shuffle on the partition key; tie rows share pct_rank and take
    the greatest cume_dist in both engines by definition."""
    return R.order_value_distribution(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Wave 14: unigram-LM quality scoring, BPE merge candidates, PCA power
# iteration, per-user anomaly z-scores.
# --------------------------------------------------------------------------


# Shared unigram-LM oracle fragment (single source of truth for the
# two-pass LM score — reused by doc_unigram_logprob and the
# perplexity-bucket histogram).
_UNIGRAM_SCORED_SQL = f"""
WITH tf AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY doc_id, t
),
vocab AS (SELECT t, SUM(c) AS cnt FROM tf GROUP BY t),
total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vocab)
SELECT tf.doc_id,
       CAST(SUM(tf.c) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf.c * ln(v.cnt / tt.total)) / SUM(tf.c), 4) AS avg_logprob
FROM tf JOIN vocab v USING (t) CROSS JOIN total tt
GROUP BY tf.doc_id
"""


@query("doc_unigram_logprob", _UNIGRAM_SCORED_SQL)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM quality score: per-doc average token
    ln-probability — two-pass distributed LM (vocab count shuffle, then
    occurrence-vocab join), the cheap perplexity-style gibberish
    filter."""
    return T.unigram_logprob(load_table(spark, sf_dir, "documents"))


@query(
    "bpe_merge_candidates",
    f"""
WITH tk AS (SELECT unnest({_TK_SQL}) AS tok FROM documents),
ch AS (SELECT tok, string_split(tok, '') AS cs FROM tk),
p AS (
  SELECT cs[i] || cs[i + 1] AS pair
  FROM ch, UNNEST(range(1, len(cs))) AS u(i)
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
""",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs inside tokens (frequency-
    weighted) — the first BPE merge step's argmax statistic, built with
    zip_with shifted slices inside the scan."""
    return T.bpe_pair_candidates(load_table(spark, sf_dir, "documents"), 50)


@query(
    "embedding_pca_power_iter",
    """
WITH terms AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(
           unnest(CAST(embedding AS DOUBLE[]))
           * ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 6),
         6) AS DECIMAL(30,6)) AS term
  FROM embeddings
),
comp AS (SELECT pos, SUM(term) AS comp FROM terms GROUP BY pos),
nrm AS (
  SELECT SQRT(CAST(SUM(CAST(comp AS DECIMAL(19,6)) * CAST(comp AS DECIMAL(19,6))) AS DOUBLE)) AS norm
  FROM comp
)
SELECT CAST(pos AS INT) AS pos,
       ROUND(CAST(comp AS DOUBLE) / nrm.norm, 6) AS component
FROM comp CROSS JOIN nrm
""",
)
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PCA power-iteration step over the embedding corpus (v0 =
    ones): posexplode terms, 64-group shuffle, exact-DECIMAL sums,
    broadcast normalizer — the distributed low-rank-compression
    primitive."""
    return A.pca_power_iteration(load_table(spark, sf_dir, "embeddings"))


@query(
    "events_anomaly_zscore",
    """
WITH stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(ROUND(value, 6) AS DECIMAL(21,6))) AS s1,
         SUM(CAST(CAST(ROUND(value, 6) AS DECIMAL(21,6))
                  * CAST(ROUND(value, 6) AS DECIMAL(21,6)) AS DECIMAL(33,12))) AS s2
  FROM events GROUP BY user_id
),
per_user AS (
  SELECT user_id, n_events,
         CAST(s1 AS DOUBLE) / n_events AS mean,
         SQRT(GREATEST(COALESCE(
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_events))
             / NULLIF(n_events - 1.0, 0.0),
           0.0), 0.0)) AS std
  FROM stats
)
SELECT e.user_id,
       MAX(p.n_events) AS n_events,
       ROUND(MAX(p.mean), 6) AS mean_value,
       ROUND(MAX(p.std), 6) AS std_value,
       CAST(SUM(CASE WHEN ABS(ROUND(e.value, 6) - p.mean) > 2.0 * p.std
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN per_user p USING (user_id)
GROUP BY e.user_id
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier audit: events beyond 2 sample stddevs of the
    user's own mean, with mean/std from exact DECIMAL power sums so the
    comparison boundary is bit-identical across engines."""
    return E.value_anomaly_zscore(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Wave 15: Zipf vocabulary audit, Pareto revenue concentration, rolling
# weekly-active-users.
# --------------------------------------------------------------------------


@query(
    "vocab_zipf_slope",
    f"""
WITH vocab AS (
  SELECT t AS token, COUNT(*) AS n
  FROM (SELECT unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY t
),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank, n
  FROM vocab QUALIFY rank <= 500
),
lns AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(20,6)) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(20,6)) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(30,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(30,12))) AS sxx
  FROM lns
)
SELECT n_used,
  ROUND((n_used * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (n_used * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope,
  ROUND((CAST(sy AS DOUBLE)
         - ((n_used * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (n_used * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE)) / n_used, 4) AS intercept
FROM sums
""",
)
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit over the top-500 vocabulary: least-squares
    slope/intercept of ln(freq) vs ln(rank) from exact DECIMAL power
    sums — the templated-text / boilerplate detector."""
    return T.vocab_zipf_slope(load_table(spark, sf_dir, "documents"), 500)


@query(
    "orders_pareto_share",
    """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS spend
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, spend,
         CAST(ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS INT) AS decile
  FROM spend
),
total AS (SELECT SUM(spend) AS total FROM tiled)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(spend) AS DECIMAL(15,2)) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(spend) AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS revenue_share
FROM tiled CROSS JOIN total t
GROUP BY decile, t.total
""",
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/concentration audit: customer spend deciles and each
    decile's share of total revenue — the skew diagnostic for
    customer-keyed joins."""
    return finalize_double(
        R.revenue_pareto_deciles(load_table(spark, sf_dir, "orders")),
        "revenue",
    )


@query(
    "events_rolling_wau",
    f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
contributes AS (
  SELECT user_id, d + CAST(o AS INT) AS target_day
  FROM user_days, UNNEST(range(0, {WAU_WINDOW_DAYS})) AS u(o)
),
observed AS (SELECT DISTINCT CAST(ts AS DATE) AS target_day FROM events)
SELECT c.target_day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
FROM contributes c JOIN observed USING (target_day)
GROUP BY c.target_day
""",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per observed day: (user, day)
    activity exploded to the days it contributes to, one countDistinct
    per day — the rolling-WAU engagement series."""
    return E.rolling_wau(load_table(spark, sf_dir, "events"), WAU_WINDOW_DAYS)


# --------------------------------------------------------------------------
# Wave 16: Z-order layout audit, multi-vector MaxSim retrieval, per-source
# tf-idf terms.
# --------------------------------------------------------------------------


@query(
    "zorder_layout_audit",
    """
WITH keyed AS (
  SELECT user_id % 16 AS ub, hour(ts) % 16 AS hb FROM events
),
z AS (
  SELECT ub, hb,
    (((ub >> 0) & 1) << 0) + (((hb >> 0) & 1) << 1)
    + (((ub >> 1) & 1) << 2) + (((hb >> 1) & 1) << 3)
    + (((ub >> 2) & 1) << 4) + (((hb >> 2) & 1) << 5)
    + (((ub >> 3) & 1) << 6) + (((hb >> 3) & 1) << 7) AS zval
  FROM keyed
)
SELECT zval >> 4 AS zfile,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(ub) AS min_user_bucket, MAX(ub) AS max_user_bucket,
       MIN(hb) AS min_hour_bucket, MAX(hb) AS max_hour_bucket
FROM z GROUP BY 1
""",
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout audit: bit-interleave (user bucket,
    hour-of-day) into Z-values, report each Z-prefix "file"'s min/max
    envelope on both dims — the CLUSTER BY decision input at 100 TB."""
    return E.zorder_layout_audit(load_table(spark, sf_dir, "events"))


@query(
    "knn_maxsim_labels",
    f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
pairs AS (
  SELECT e.label, e.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
sims AS (
  SELECT label,
         CAST({_PAIR_COS} AS DECIMAL(10,6)) AS sim
  FROM pairs GROUP BY label, vec_id
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MAX(sim) AS DOUBLE) AS max_sim,
       ROUND(CAST(SUM(sim) AS DOUBLE) / COUNT(*), 6) AS mean_sim
FROM sims GROUP BY label
ORDER BY max_sim DESC, label ASC LIMIT 5
""",
)
def knn_maxsim_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector MaxSim (ColBERT-style) retrieval: label groups
    scored by their best member cosine vs the query — query literal,
    in-scan scoring, one tiny label agg, TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.label_maxsim_topk(emb, _query_vector(spark, sf_dir), 5)


@query(
    "source_tfidf_terms",
    f"""
WITH st AS (
  SELECT source, t, COUNT(*) AS cnt
  FROM (SELECT source, unnest({_TK_SQL}) AS t FROM documents)
  GROUP BY source, t
),
totals AS (SELECT source, SUM(cnt) AS n_tok FROM st GROUP BY source),
df AS (SELECT t, COUNT(DISTINCT source) AS df FROM st GROUP BY t),
ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM st),
scored AS (
  SELECT st.source, st.t AS token,
         ROUND((st.cnt / CAST(totals.n_tok AS DOUBLE))
               * ln(ns.n_sources / CAST(df.df AS DOUBLE)), 4) AS tfidf
  FROM st JOIN totals USING (source) JOIN df ON st.t = df.t CROSS JOIN ns
)
SELECT source, token, tfidf,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY tfidf DESC, token ASC) AS INT) AS rnk
FROM scored QUALIFY rnk <= 5
""",
)
def source_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 distinguishing terms by tf-idf (source = one
    super-document) — the mixture-design audit; ranked on the rounded
    score with token tiebreak."""
    return T.source_tfidf_terms(load_table(spark, sf_dir, "documents"), 5)


# --------------------------------------------------------------------------
# Wave 17: join-cardinality estimation, monthly seasonality, embedding
# norm outliers.
# --------------------------------------------------------------------------


@query(
    "join_size_estimate",
    """
WITH ok AS (SELECT o_orderkey AS k, COUNT(*) AS n_o FROM orders GROUP BY 1),
lk AS (SELECT l_orderkey AS k, COUNT(*) AS n_l FROM lineitem GROUP BY 1),
per_key AS (
  SELECT ok.k, CAST(ok.n_o * lk.n_l AS BIGINT) AS prod
  FROM ok JOIN lk USING (k)
),
folded AS (
  SELECT CAST(SUM(prod) AS BIGINT) AS exact_rows,
         CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
                       THEN prod ELSE 0 END) * 10 AS BIGINT) AS est_rows
  FROM per_key
)
SELECT exact_rows, est_rows,
       ROUND(ABS(est_rows - exact_rows) / CAST(exact_rows AS DOUBLE), 6) AS rel_error
FROM folded
""",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: exact orders-lineitem join
    size from per-key count products vs a deterministic 10% key-sample
    estimate — the planner-statistics drift check."""
    return R.join_size_estimate(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@query(
    "orders_seasonality",
    """
WITH per_month AS (
  SELECT month(o_orderdate) AS month,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
total AS (SELECT SUM(revenue) AS total FROM per_month)
SELECT CAST(month AS INT) AS month, n_orders,
       CAST(CAST(revenue AS DECIMAL(15,2)) AS DOUBLE) AS revenue,
       ROUND(CAST(revenue AS DOUBLE) / CAST(t.total AS DOUBLE) * 12.0, 6) AS seasonality_index
FROM per_month CROSS JOIN total t
""",
)
def orders_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year revenue seasonality index (share vs uniform 1/12)
    — the time-partition capacity-planning statistic."""
    return finalize_double(
        R.monthly_seasonality(load_table(spark, sf_dir, "orders")),
        "revenue",
    )


@query(
    "embedding_norm_outliers",
    """
WITH norms AS (
  SELECT CAST(ROUND(SQRT(list_aggregate(
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6)
         AS DECIMAL(21,6)) AS n
  FROM embeddings
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(n) AS s1,
         SUM(CAST(n * n AS DECIMAL(33,12))) AS s2
  FROM norms
),
per AS (
  SELECT n_vecs,
         CAST(s1 AS DOUBLE) / n_vecs AS mean,
         SQRT(GREATEST(
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n_vecs))
             / (n_vecs - 1.0), 0.0)) AS std
  FROM stats
)
SELECT p.n_vecs,
       ROUND(p.mean, 6) AS mean_norm,
       ROUND(p.std, 6) AS std_norm,
       CAST(SUM(CASE WHEN ABS(CAST(norms.n AS DOUBLE) - p.mean) > 2.0 * p.std
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM norms CROSS JOIN per p
GROUP BY p.n_vecs, p.mean, p.std
""",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-hygiene audit: L2-norm mean/std from exact DECIMAL
    power sums and the count of vectors beyond 2 sigma — the gate run
    before any IP/cosine index build."""
    return A.norm_outlier_audit(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Wave 18: Markov transition matrix, RFM segmentation, LSH band tuning.
# --------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM counts
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag window (ts, event_id tiebreak), pair counts, row
    normalization over the |types|^2 aggregate."""
    return E.event_transition_matrix(load_table(spark, sf_dir, "events"))


@query(
    "orders_rfm_segments",
    """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '1997-01-01') AS INT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INT) AS r,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INT) AS f,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS INT) AS m
  FROM per_cust
)
SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM tiled GROUP BY r, f, m
""",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral grid: per-customer recency/frequency/monetary
    quartiles (exact-value orderings, custkey tiebreak) and the
    population of each (r,f,m) cell."""
    return R.rfm_segments(load_table(spark, sf_dir, "orders"))


@query(
    "dedup_lsh_band_tuning",
    f"""
WITH {{docs_plus}},
{{toks}},
sigs AS (
  SELECT doc_id,
  {{sig_cols}}
  FROM sh WHERE n_tk >= 3
)
SELECT '8x1' AS layout, CAST(8 AS INT) AS n_bands,
       CAST(1 AS INT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
FROM (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 2 AS band, CAST(mh2 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 3 AS band, CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 4 AS band, CAST(mh4 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 5 AS band, CAST(mh5 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 6 AS band, CAST(mh6 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 7 AS band, CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) a JOIN (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 2 AS band, CAST(mh2 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 3 AS band, CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 4 AS band, CAST(mh4 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 5 AS band, CAST(mh5 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 6 AS band, CAST(mh6 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 7 AS band, CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
UNION ALL
SELECT '4x2' AS layout, CAST(4 AS INT) AS n_bands,
       CAST(2 AS INT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
FROM (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 2 AS band, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 3 AS band, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) a JOIN (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 2 AS band, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 3 AS band, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
UNION ALL
SELECT '2x4' AS layout, CAST(2 AS INT) AS n_bands,
       CAST(4 AS INT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
FROM (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) a JOIN (
  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) || '_' || CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) || '_' || CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) AS bucket FROM sigs
  ) b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
""".format(docs_plus=_DOCS_PLUS_SQL.strip(), toks=_TOKS_SQL.strip(), sig_cols=_SIG_COLS_SQL),
)
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair volume per MinHash band layout (8x1/4x2/2x4) —
    the measured LSH S-curve trade and the dedup job's shuffle-volume
    knob, from one checkpointed signature table."""
    return D.lsh_band_tuning(_docs_plus_spark(spark, sf_dir))


# --------------------------------------------------------------------------
# Wave 19: IVF nprobe recall curve, per-source dup rate, shuffle-partition
# advisor.
# --------------------------------------------------------------------------


# Recall-curve body written against a `cents(cid, cv)` CTE — shared by
# the fixed-centroid curve and the trained-centroid variant.
_RECALL_CURVE_BODY = f"""pc AS (
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
prb AS (
  SELECT cid AS cell, ROW_NUMBER() OVER (ORDER BY d, cid) AS pr
  FROM cd WHERE vec_id = {ANN_QUERY_ID} QUALIFY pr <= 3
),
qp AS (
  SELECT a.vec_id, p.pr,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM assign a JOIN prb p ON a.cell = p.cell
  JOIN embeddings e ON e.vec_id = a.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
),
d2 AS (SELECT vec_id, pr, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM qp GROUP BY vec_id, pr),
exact_d AS (
  SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist
  FROM (
    SELECT e.vec_id,
           unnest(CAST(e.embedding AS DOUBLE[])) AS x,
           unnest(CAST(q.embedding AS DOUBLE[])) AS y
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
  )
  GROUP BY vec_id
),
exact_top AS (SELECT vec_id FROM exact_d ORDER BY dist, vec_id LIMIT {ANN_K})
SELECT CAST(1 AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM (
  SELECT vec_id FROM d2 WHERE pr <= 1 ORDER BY dist, vec_id LIMIT {ANN_K}
) t WHERE vec_id IN (SELECT vec_id FROM exact_top)
UNION ALL
SELECT CAST(2 AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM (
  SELECT vec_id FROM d2 WHERE pr <= 2 ORDER BY dist, vec_id LIMIT {ANN_K}
) t WHERE vec_id IN (SELECT vec_id FROM exact_top)
UNION ALL
SELECT CAST(3 AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM (
  SELECT vec_id FROM d2 WHERE pr <= 3 ORDER BY dist, vec_id LIMIT {ANN_K}
) t WHERE vec_id IN (SELECT vec_id FROM exact_top)"""


@query(
    "ann_recall_vs_nprobe",
    f"""
WITH {_TRAINED_CTES},
{_RECALL_CURVE_BODY}
""",
)
def ann_recall_vs_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve over the TRAINED codebook ({TRAIN_ITERS} fixed
    Lloyd iterations — the round-3 default, matching the reference's
    built-index contract): measured recall@10 for nprobe 1/2/3 —
    candidates scored once for the largest budget, each point a
    probe-rank filter + top-k + intersect with the exact answer.
    Training moves the whole curve up at equal probe budget (vs
    ann_recall_vs_nprobe_seed_baseline; asserted in tests/test_ann.py)
    — the measured answer to the reference's ef_search recall dial
    (src/hnswlib_index.cc:16)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids(spark, sf_dir)
    return A.ivf_recall_curve(
        _emb_with_cells(spark, sf_dir, trained=True),
        _query_vector(spark, sf_dir, ANN_QUERY_ID), cents, ANN_K, (1, 2, 3)
    )


@query(
    "ann_recall_vs_nprobe_seed_baseline",
    f"""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
{_RECALL_CURVE_BODY}
""",
)
def ann_recall_vs_nprobe_seed_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABELED BASELINE: the recall-vs-nprobe curve over the raw
    seed-row codebook (no training) — kept so the training lift is a
    measured number, not a claim."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    return A.ivf_recall_curve(
        _emb_with_cells(spark, sf_dir),
        _query_vector(spark, sf_dir, ANN_QUERY_ID), cents, ANN_K, (1, 2, 3)
    )


@query(
    "dedup_rate_by_source",
    f"""
WITH {{docs_plus}},
{{toks}},
sigs AS (
  SELECT doc_id,
  {{sig_cols}}
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
involved AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
  )
),
flagged AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
  FROM docs_plus d JOIN involved i ON d.doc_id = i.doc_id
  GROUP BY d.source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs_plus GROUP BY source
)
SELECT t.source, t.n_docs,
       CAST(COALESCE(f.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       ROUND(COALESCE(f.n_dup_docs, 0) / CAST(t.n_docs AS DOUBLE), 6) AS dup_rate
FROM totals t LEFT JOIN flagged f ON t.source = f.source
""".format(docs_plus=_DOCS_PLUS_SQL.strip(), toks=_TOKS_SQL.strip(), sig_cols=_SIG_COLS_SQL),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup involvement rate off the MinHash candidate
    pairs — the slice-level report that targets the aggressive dedup
    pass."""
    docs = _docs_plus_spark(spark, sf_dir)
    return D.dup_rate_by_source(docs, _minhash_pairs(spark, sf_dir))


# Oracle generated from the operator's own width table so the two
# engines can never drift (ADVICE r01: the widths were duplicated).
_ADVISOR_SQL = "\nUNION ALL\n".join(
    (
        "SELECT '{t}' AS \"table\", CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
        "       CAST(COUNT(*) * {w} AS BIGINT) AS est_bytes,\n"
        "       GREATEST(CAST(1 AS BIGINT), CAST(CEIL(COUNT(*) * {w} / {tgt}.0) AS BIGINT)) AS advised_partitions\n"
        "FROM {t}"
    ).format(t=t, w=w, tgt=R.TARGET_PARTITION_BYTES)
    if i == 0
    else (
        "SELECT '{t}', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) * {w} AS BIGINT),\n"
        "       GREATEST(CAST(1 AS BIGINT), CAST(CEIL(COUNT(*) * {w} / {tgt}.0) AS BIGINT))\n"
        "FROM {t}"
    ).format(t=t, w=w, tgt=R.TARGET_PARTITION_BYTES)
    for i, (t, w) in enumerate(R.ROW_WIDTH_BYTES.items())
)


@query("shuffle_partition_advisor", _ADVISOR_SQL)
def shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table shuffle-partition sizing advisor: estimated bytes from
    row counts x static widths, and the partition count hitting the
    128 MB target — per-job sizing arithmetic, not cluster-wide
    defaults."""
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in ("lineitem", "orders", "events", "documents", "embeddings")
    }
    return R.shuffle_partition_advisor(tables)


# --------------------------------------------------------------------------
# Wave 20: session conversion, UNPIVOT melt, k-means drift monitor.
# --------------------------------------------------------------------------


@query(
    "events_session_conversion",
    """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
s AS (
  SELECT user_id, sid,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM g GROUP BY user_id, sid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(SUM(converted) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate
FROM s
""",
)
def events_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain conversion KPI: share of 30-min-gap sessions
    containing a purchase — session_window agg with a MAX flag, one
    user-keyed shuffle."""
    return E.session_conversion(load_table(spark, sf_dir, "events"))


@query(
    "lineitem_measure_melt",
    """
WITH long AS (
  SELECT l_orderkey, 'l_quantity' AS measure, CAST(l_quantity AS DECIMAL(18,4)) AS v FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_discount', CAST(l_discount AS DECIMAL(18,4)) FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_tax', CAST(l_tax AS DECIMAL(18,4)) FROM lineitem
)
SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(v) AS DECIMAL(25,4)) AS DOUBLE) AS total,
       CAST(CAST(MIN(v) AS DECIMAL(18,4)) AS DOUBLE) AS min_v,
       CAST(CAST(MAX(v) AS DECIMAL(18,4)) AS DOUBLE) AS max_v
FROM long GROUP BY measure
""",
)
def lineitem_measure_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT of the four lineitem measures with
    DECIMAL-exact per-measure stats — the melt stays in the scan
    stage; the only exchange is the 4-group agg."""
    return finalize_double(
        R.lineitem_measure_melt(load_table(spark, sf_dir, "lineitem")),
        "total", "min_v", "max_v",
    )


@query(
    "embeddings_kmeans_drift",
    f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_KM_CIDS})
),
pairs AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN c
),
d AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS dist
      FROM pairs GROUP BY vec_id, cid),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
vals AS (
  SELECT a.cid AS cluster_id,
         CAST(ROUND(CAST(e.embedding[1] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d0,
         CAST(ROUND(CAST(e.embedding[2] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d1,
         CAST(ROUND(CAST(e.embedding[3] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d2,
         CAST(ROUND(CAST(e.embedding[4] AS DOUBLE), 3) AS DECIMAL(12,3)) AS d3
  FROM assign a JOIN embeddings e USING (vec_id)
),
means AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
         {_mean6_sql(f'SUM(d0)', 'COUNT(*)')} AS m0,
         {_mean6_sql(f'SUM(d1)', 'COUNT(*)')} AS m1,
         {_mean6_sql(f'SUM(d2)', 'COUNT(*)')} AS m2,
         {_mean6_sql(f'SUM(d3)', 'COUNT(*)')} AS m3
  FROM vals GROUP BY cluster_id
)
SELECT m.cluster_id, m.n,
       ROUND((m.m0 - ROUND(c.cv[1], 6)) * (m.m0 - ROUND(c.cv[1], 6))
           + (m.m1 - ROUND(c.cv[2], 6)) * (m.m1 - ROUND(c.cv[2], 6))
           + (m.m2 - ROUND(c.cv[3], 6)) * (m.m2 - ROUND(c.cv[3], 6))
           + (m.m3 - ROUND(c.cv[4], 6)) * (m.m3 - ROUND(c.cv[4], 6)), 6) AS drift_sq
FROM means m JOIN c ON m.cluster_id = c.cid
""",
)
def embeddings_kmeans_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-loop convergence monitor: squared centroid-to-new-mean
    drift per cluster off the exact-DECIMAL step means — the
    stop-criterion statistic, no centroids collected."""
    return A.kmeans_drift(
        load_table(spark, sf_dir, "embeddings"), _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    )


# --------------------------------------------------------------------------
# Wave 21: char-entropy gibberish gate, embedding dimension variance.
# --------------------------------------------------------------------------


@query(
    "doc_char_entropy",
    """
WITH cc AS (
  SELECT doc_id, ch, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       ROUND(log2(CAST(SUM(c) AS DOUBLE))
             - SUM(c * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 4) AS entropy_bits
FROM cc GROUP BY doc_id
""",
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the character distribution (bits) —
    the compression-ratio gibberish gate; one (doc, char)-keyed count
    shuffle, one ln per distinct char."""
    return T.char_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "embedding_dim_variance",
    """
WITH terms AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(ROUND(unnest(CAST(embedding AS DOUBLE[])), 6) AS DECIMAL(12,6)) AS x
  FROM embeddings
),
stats AS (
  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS s1,
         SUM(CAST(x * x AS DECIMAL(33,12))) AS s2
  FROM terms GROUP BY pos
)
SELECT CAST(pos AS INT) AS pos, n,
       ROUND(CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n, 6) AS mean_x,
       ROUND(GREATEST(
         (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
          - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
            * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)) / (n - 1.0),
         0.0), 6) AS var_x
FROM stats
""",
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding corpus —
    the dead/dominant-dimension audit before PQ subspace splitting,
    from exact DECIMAL power sums."""
    return A.dim_variance_profile(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Wave 22: cohort lifetime value, first-to-repeat interval.
# --------------------------------------------------------------------------


@query(
    "orders_cohort_ltv",
    """
WITH firsts AS (
  SELECT o_custkey, MIN(year(o_orderdate)) AS cohort_year FROM orders GROUP BY o_custkey
)
SELECT CAST(f.cohort_year AS INT) AS cohort_year,
       CAST(year(o.o_orderdate) AS INT) AS order_year,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
FROM orders o JOIN firsts f USING (o_custkey)
GROUP BY 1, 2
""",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV grid: revenue per (first-order year, order year) cell
    — two shuffles sharing the customer key."""
    return finalize_double(
        R.cohort_ltv(load_table(spark, sf_dir, "orders")), "revenue"
    )


@query(
    "orders_first_repeat_interval",
    """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
gaps AS (
  SELECT date_diff('day', a.d, b.d) AS gap_days
  FROM ranked a JOIN ranked b
    ON a.o_custkey = b.o_custkey AND a.rn = 1 AND b.rn = 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_repeat_customers,
       CAST(MIN(gap_days) AS BIGINT) AS min_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days,
       ROUND(SUM(gap_days) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_days
FROM gaps
""",
)
def orders_first_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between first and second order per customer, folded to
    corpus stats — rank window + rank-1 x rank-2 self-join on the
    customer key."""
    return R.first_repeat_interval(load_table(spark, sf_dir, "orders"))

