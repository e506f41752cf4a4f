"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table, scratch_path, session_cached

from . import _ORACLES, query
from .core_knn import KNN_K, _query_vector, _seed_codebook
from .core_dedup import _cached_index


# --------------------------------------------------------------------------
# ANN (approximate search — the HNSW-capability analog, O4) and
# text analysis (north-star extensions).
# --------------------------------------------------------------------------
from ..operators import ann as A  # noqa: E402
from ..operators import text_analysis as T  # noqa: E402

ANN_QUERY_ID = 9
ANN_K = 10
IVF_NPROBE = 3
_PLANES_SQL = ", ".join(str(i) for i in A.PLANE_IDS)
_CENTS_SQL = ", ".join(str(i) for i in A.CENTROID_IDS)
TRAIN_ITERS = 2  # fixed Lloyd iterations — deterministic, oracle-unrollable


def _trained_centroids(spark, sf_dir: str):
    """``TRAIN_ITERS`` Lloyd steps from the seed centroids, trained once
    per session.  Training is deterministic (fixed seeds, fixed
    iterations), so recomputing it per query only re-pays ~5s of
    codegen + actions; a real system trains once and serves many
    searches."""
    return session_cached(
        spark, sf_dir, "trained_centroids",
        lambda: A.train_centroids(
            load_table(spark, sf_dir, "embeddings"),
            _seed_codebook(spark, sf_dir, A.CENTROID_IDS), TRAIN_ITERS,
        ),
    )


def _trained_pq(spark, sf_dir: str):
    """The PQ codebooks after ``TRAIN_ITERS`` steps, trained once per
    session."""
    return session_cached(
        spark, sf_dir, "trained_pq",
        lambda: A.train_pq_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            _seed_codebook(spark, sf_dir, A.CENTROID_IDS), TRAIN_ITERS,
        ),
    )


def _emb_with_cells(spark, sf_dir: str, trained: bool = False) -> DataFrame:
    """Cached IVF assignment table (corpus + __cell), the in-memory
    analog of the partitioned index layout ann_ivf_partitioned writes:
    the coarse-quantizer argmin is the same for every search against
    the same codebook, so it is computed once per (fixture, codebook)
    and checkpointed; all IVF search paths accept it via
    A.with_cells' passthrough."""
    from ..sources.loaders import fan_out

    def build() -> DataFrame:
        cents = (
            _trained_centroids(spark, sf_dir)
            if trained
            else _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
        )
        return A.cells_arrow(fan_out(load_table(spark, sf_dir, "embeddings")), cents)

    return _cached_index(
        spark, sf_dir, f"ivf_cells_{'trained' if trained else 'seed'}", build
    )


def _graph_edges(spark, sf_dir: str) -> DataFrame:
    """Session-cached navigable-graph edge table — five queries
    (navigable/search/health/recall-vs-beam/upsert-audit) share one
    build, like the IVF cell cache: a real system builds the index
    once and serves many searches."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _cached_index(
        spark, sf_dir, "graph_edges",
        lambda: A.knn_graph_navigable(emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS)),
    )


def _graph_cells(spark, sf_dir: str) -> DataFrame:
    """Session-cached top-GRAPH_ASSIGN cell-assignment table of the
    navigable graph's base corpus — the index's STORED assignment state
    (the upsert audit's documented contract: a deployed index reads its
    assignment table, it does not rescore the corpus).  Cached per
    (session, fixture) exactly like the edge table; recomputing it
    yields identical rows (pure-expression argmin, deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _cached_index(
        spark, sf_dir, "graph_cells",
        lambda: A.graph_cell_assignments(emb, _seed_codebook(spark, sf_dir, A.CENTROID_IDS)),
    )


def _graph_ball(spark, sf_dir: str) -> DataFrame:
    """Session-cached GRAPH_HOPS-hop BFS ball of the navigable graph's
    seed set — query-independent (seeds and hop count are index
    constants), so like the edge table it is built once per (session,
    fixture); beam-recall walks restrict their node/edge shipment to
    it without re-running the iterative expansion per call."""

    def build() -> DataFrame:
        edges = _graph_edges(spark, sf_dir).select(
            F.col("vec_id").alias("_src"), F.col("nbr_id").alias("_dst")
        )
        return A.graph_ball(edges, A.CENTROID_IDS, A.GRAPH_HOPS)

    return _cached_index(spark, sf_dir, "graph_ball", build)


def _mean6_sql(sum_e: str, cnt_e: str) -> str:
    """DuckDB twin of A._mean6_exact: ROUND_HALF_UP(sum/cnt, 6) via
    exact BIGINT arithmetic (sum must be an exact scale-3 DECIMAL).
    Engine ROUND on the double quotient is not portable across
    Spark/DuckDB on repr-tie quotients (see A._mean6_exact)."""
    return (
        f"(CASE WHEN ({sum_e}) < 0 THEN -1 ELSE 1 END * "
        f"((2 * ABS(CAST(({sum_e}) * 1000 AS BIGINT)) * 1000 + ({cnt_e}))"
        f" // (2 * ({cnt_e})))) / 1000000.0"
    )


def _trained_cents_ctes(iters: int) -> str:
    """CTE chain replaying ``A.train_centroids`` in DuckDB: ``iters``
    unrolled Lloyd steps from the seed rows, ending in
    ``cents(cid, cv)`` so any search body written against the fixed
    centroids runs unchanged against the trained ones.  Mean recipe
    matches the Spark side exactly: ROUND 3 -> DECIMAL(12,3) sum ->
    f64 divide -> ROUND 6; empty clusters keep the previous centroid."""
    ctes = [
        f"""cents0 AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""pc{i} AS (
  SELECT e.vec_id, c.cid,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(c.cv) AS y
  FROM embeddings e CROSS JOIN cents{p} c
),
cd{i} AS (SELECT vec_id, cid, ROUND(SUM((x - y) * (x - y)), 6) AS d FROM pc{i} GROUP BY vec_id, cid),
as{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM cd{i}
  ) WHERE rn = 1
),
comp{i} AS (
  SELECT a.cid, generate_subscripts(e.embedding, 1) AS dim,
         CAST(ROUND(CAST(unnest(e.embedding) AS DOUBLE), 3) AS DECIMAL(12,3)) AS val
  FROM as{i} a JOIN embeddings e USING (vec_id)
),
mean{i} AS (
  SELECT cid, dim, {_mean6_sql("SUM(val)", "COUNT(*)")} AS m
  FROM comp{i} GROUP BY cid, dim
),
cents{i} AS (
  SELECT c0.cid, COALESCE(mm.cv, c0.cv) AS cv
  FROM cents{p} c0 LEFT JOIN (
    SELECT cid, list(m ORDER BY dim) AS cv FROM mean{i} GROUP BY cid
  ) mm USING (cid)
)"""
        )
    ctes.append(f"cents AS (SELECT cid, cv FROM cents{iters})")
    return ",\n".join(ctes)


_TRAINED_CTES = _trained_cents_ctes(TRAIN_ITERS)


# RP-LSH CTE chain ending in `rp(vec_id, dist)` (the ANN top-k) —
# shared by the standalone query and the recall report.
_RP_LSH_CTES = f"""
planes AS (
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
cand AS (SELECT b.vec_id FROM buckets b, qb WHERE b.bucket = qb.bucket),
qp AS (
  SELECT c.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
),
d AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM qp GROUP BY vec_id),
rp AS (SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT {ANN_K})
"""


@query(
    "ann_rp_lsh",
    f"WITH {_RP_LSH_CTES}\nSELECT vec_id, dist FROM rp",
)
def ann_rp_lsh(spark, sf_dir):
    """Sign-LSH ANN: same-bucket candidates (4 data-derived
    hyperplanes -> 16 buckets), exact re-rank.  Zero-shuffle bucket
    assignment; recall < 1 by construction (like HNSW ef_search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _seed_codebook(spark, sf_dir, A.PLANE_IDS)
    return A.rp_lsh_search(emb, _query_vector(spark, sf_dir, ANN_QUERY_ID), planes, ANN_K)


# IVF search body written against a `cents(cid, cv)` CTE — shared by
# the fixed-centroid query and the trained-centroid variant.
_IVF_SEARCH_BODY = f"""pc AS (
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
probe AS (
  SELECT cid AS cell FROM cd WHERE vec_id = {ANN_QUERY_ID} ORDER BY d, cid LIMIT {IVF_NPROBE}
),
cand AS (SELECT a.vec_id, a.cell FROM assign a JOIN probe p ON a.cell = p.cell),
qp AS (
  SELECT cand.vec_id, cand.cell,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(CAST(q.embedding AS DOUBLE[])) AS y
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {ANN_QUERY_ID}) q
),
d2 AS (SELECT vec_id, cell, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM qp GROUP BY vec_id, cell)
SELECT vec_id, CAST(cell AS INT) AS cell, dist FROM d2 ORDER BY dist, vec_id LIMIT {ANN_K}"""


@query(
    "ann_ivf",
    f"""
WITH {_TRAINED_CTES},
{_IVF_SEARCH_BODY}
""",
)
def ann_ivf(spark, sf_dir):
    """IVF ANN over TRAINED centroids ({TRAIN_ITERS} fixed Lloyd
    iterations from the seed rows, A.train_centroids) — the DEFAULT
    since round 3, matching the reference's built-index contract
    (src/index_factory.cc:21-27: you search a *trained* index):
    nearest-centroid cell assignment (zero-shuffle argmin over
    broadcast centroids), nprobe-cell probe, exact re-rank.  At scale
    the table is written partitioned by cell => file-level pruning,
    the Parquet analog of FAISS inverted lists.  The raw-seed variant
    survives as ann_ivf_seed_baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids(spark, sf_dir)
    return A.ivf_search(
        _emb_with_cells(spark, sf_dir, trained=True),
        _query_vector(spark, sf_dir, ANN_QUERY_ID), cents, ANN_K, IVF_NPROBE
    )


@query(
    "ann_ivf_seed_baseline",
    f"""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
{_IVF_SEARCH_BODY}
""",
)
def ann_ivf_seed_baseline(spark, sf_dir):
    """LABELED BASELINE: ann_ivf over the raw seed-row codebook (no
    Lloyd training) — kept to quantify what training buys; the
    recall comparison is asserted in tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_codebook(spark, sf_dir, A.CENTROID_IDS)
    return A.ivf_search(
        _emb_with_cells(spark, sf_dir),
        _query_vector(spark, sf_dir, ANN_QUERY_ID), cents, ANN_K, IVF_NPROBE
    )


@query(
    "ann_recall_report",
    f"""
WITH {_RP_LSH_CTES},
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
exact_top AS (SELECT vec_id FROM exact_d ORDER BY dist, vec_id LIMIT {ANN_K}),
hits AS (SELECT vec_id FROM exact_top WHERE vec_id IN (SELECT vec_id FROM rp))
SELECT {ANN_K} AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM hits
""",
)
def ann_recall_report(spark, sf_dir):
    """Recall@10 of RP-LSH vs the exact top-10 — the measured ANN
    trade, fully oracle-checked because both sides are deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, ANN_QUERY_ID)
    planes = _seed_codebook(spark, sf_dir, A.PLANE_IDS)
    ann_hits = A.rp_lsh_search(emb, q, planes, ANN_K)
    exact_hits = K.knn_topk(emb, q, ANN_K, "sqL2")
    return A.recall_report(ann_hits, exact_hits, ANN_K)


@query(
    "quantize_int8_audit",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(round(x / scale) AS TINYINT)) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CASE WHEN scale = 0 THEN 0.0
            ELSE ROUND(list_max(list_transform(range(len(e)),
                   i -> abs(e[i+1] - CAST(qv[i+1] AS DOUBLE) * scale))), 6)
       END AS max_err
FROM q
""",
)
def quantize_int8_audit(spark, sf_dir):
    """Int8 scalar quantization + reconstruction-error audit (4x index
    payload compression, computed inside the scan)."""
    return A.quantize_int8_report(load_table(spark, sf_dir, "embeddings"))


@query(
    "ann_quantized_recall",
    f"""
WITH deq AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(CAST(round(x / scale) AS TINYINT) AS DOUBLE) * scale) AS e
  FROM (
    SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
  )
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qpairs AS (SELECT d.vec_id, unnest(d.e) AS x, unnest(q.qv) AS y FROM deq d CROSS JOIN q),
qd AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM qpairs GROUP BY vec_id),
qtop AS (SELECT vec_id FROM qd ORDER BY dist, vec_id LIMIT {KNN_K}),
epairs AS (
  SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
ed AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM epairs GROUP BY vec_id),
etop AS (SELECT vec_id FROM ed ORDER BY dist, vec_id LIMIT {KNN_K}),
hits AS (SELECT vec_id FROM etop WHERE vec_id IN (SELECT vec_id FROM qtop))
SELECT {KNN_K} AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({KNN_K} AS DOUBLE), 6) AS recall
FROM hits
""",
)
def ann_quantized_recall(spark, sf_dir):
    """Recall@10 of search over the int8-dequantized corpus vs the
    full-precision exact top-10 — what the 4x compression costs in
    ranking quality, fully oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    deq_hits = K.knn_topk(A.dequantized_view(emb), q, KNN_K, "sqL2")
    exact_hits = K.knn_topk(emb, q, KNN_K, "sqL2")
    return A.recall_report(deq_hits, exact_hits, KNN_K)


@query("ann_ivf_partitioned", _ORACLES["ann_ivf"])
def ann_ivf_partitioned(spark, sf_dir):
    """O4 at its 100-TB layout: bulk-build the IVF index as Parquet
    partitioned by cell, probe via partition-pruned scan — identical
    results to ann_ivf (same oracle)."""
    cents = _trained_centroids(spark, sf_dir)  # trained default (round 3)
    index = session_cached(
        spark, sf_dir, "ivf_index_trained",
        lambda: A.build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), cents, scratch_path("ivf_index", sf_dir)
        ),
    )
    return A.ivf_probe_partitioned(
        index, _query_vector(spark, sf_dir, ANN_QUERY_ID), cents, ANN_K, IVF_NPROBE
    )


def _trained_pq_ctes(iters: int) -> str:
    """CTE chain replaying ``A.train_pq_codebooks`` in DuckDB: per-
    subspace Lloyd from the seed-row slices (cb0), ``iters`` unrolled
    steps, ending in ``cb(cid, s, cw, idx)`` so the ADC body runs
    unchanged.  Assignment = rounded argmin with low-idx ties
    (pq_encode); means = ROUND 3 -> DECIMAL(12,3) exact sums -> one
    f64 divide -> ROUND 6; empty codewords keep their previous value
    (same recipe as _trained_cents_ctes, per subspace)."""
    ctes = ["""cb0 AS (
  SELECT cid, s, cv[s*8+1 : s*8+8] AS cw,
         CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY cid) AS INT) AS idx
  FROM cents CROSS JOIN sub
)"""]
    for i in range(1, iters + 1):
        pv = i - 1
        ctes.append(
            f"""ped{i} AS (
  SELECT corp.vec_id, corp.s, c.idx,
         ROUND(list_aggregate(list_transform(range(1,9),
               j -> (sv[j]-cw[j])*(sv[j]-cw[j])), 'sum'), 6) AS d
  FROM corp JOIN cb{pv} c ON corp.s = c.s
),
pen{i} AS (
  SELECT vec_id, s, idx FROM (
    SELECT vec_id, s, idx,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, idx) AS rn
    FROM ped{i}
  ) WHERE rn = 1
),
pcm{i} AS (
  SELECT e.s, e.idx, generate_subscripts(corp.sv, 1) AS dim,
         CAST(ROUND(unnest(corp.sv), 3) AS DECIMAL(12,3)) AS val
  FROM pen{i} e JOIN corp ON corp.vec_id = e.vec_id AND corp.s = e.s
),
pmn{i} AS (
  SELECT s, idx, dim, {_mean6_sql("SUM(val)", "COUNT(*)")} AS m
  FROM pcm{i} GROUP BY s, idx, dim
),
cb{i} AS (
  SELECT c0.cid, c0.s, COALESCE(mm.cw, c0.cw) AS cw, c0.idx
  FROM cb{pv} c0 LEFT JOIN (
    SELECT s, idx, list(m ORDER BY dim) AS cw FROM pmn{i} GROUP BY s, idx
  ) mm USING (s, idx)
)"""
        )
    ctes.append(f"cb AS (SELECT cid, s, cw, idx FROM cb{iters})")
    return ",\n".join(ctes)


# PQ codebooks: per-subspace Lloyd-trained from the seed-row slices
# (round-3 default — slicing FULL-dimension trained centroids instead
# measurably hurts recall; see A.train_pq_codebooks).
_PQ_PRE = f"""
cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({_CENTS_SQL})
),
sub AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
corp AS (
  SELECT vec_id, s, CAST(embedding AS DOUBLE[])[s*8+1 : s*8+8] AS sv
  FROM embeddings CROSS JOIN sub
)"""

# seed codebooks = the seed-row slices verbatim (labeled baseline)
_PQ_CB_SEED = """cb AS (
  SELECT cid, s, cv[s*8+1 : s*8+8] AS cw,
         CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY cid) AS INT) AS idx
  FROM cents CROSS JOIN sub
)"""

_PQ_BODY = f"""encdist AS (
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
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
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
)
"""

_PQ_SQL = f"{_PQ_PRE},\n{_trained_pq_ctes(TRAIN_ITERS)},\n{_PQ_BODY}"
_PQ_SQL_SEED = f"{_PQ_PRE},\n{_PQ_CB_SEED},\n{_PQ_BODY}"


@query(
    "ann_pq_adc",
    f"WITH {_PQ_SQL} "
    "SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10",
)
def ann_pq_adc(spark, sf_dir):
    """Product quantization with asymmetric distance: 8 subspaces, a
    deterministic codebook per subspace (subvectors of the TRAINED
    IVF centroids — the round-3 default), corpus encoded to an
    8-byte code column map-side,
    search = sum of m query-to-codeword table lookups.  The 32x-
    compressed scan path of a PQ index (FAISS IndexPQ analog), fully
    oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = _trained_pq(spark, sf_dir)
    return A.pq_adc_search(emb, _query_vector(spark, sf_dir), cbs, KNN_K)


@query(
    "ann_pq_recall",
    f"""
WITH {_PQ_SQL},
qtop AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT {KNN_K}),
epairs AS (
  SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
ed AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM epairs GROUP BY vec_id),
etop AS (SELECT vec_id FROM ed ORDER BY dist, vec_id LIMIT {KNN_K}),
hits AS (SELECT vec_id FROM etop WHERE vec_id IN (SELECT vec_id FROM qtop))
SELECT {KNN_K} AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({KNN_K} AS DOUBLE), 6) AS recall
FROM hits
""",
)
def ann_pq_recall(spark, sf_dir):
    """Recall@10 of PQ-ADC vs exact — what 32x compression costs in
    ranking quality (compare ann_quantized_recall's 4x int8 point)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    cbs = _trained_pq(spark, sf_dir)
    pq_hits = A.pq_adc_search(emb, q, cbs, KNN_K)
    exact_hits = K.knn_topk(emb, q, KNN_K, "sqL2")
    return A.recall_report(pq_hits, exact_hits, KNN_K)


@query(
    "ann_pq_seed_recall",
    f"""
WITH {{pq_seed}},
qtop AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT {KNN_K}),
epairs AS (
  SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
ed AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM epairs GROUP BY vec_id),
etop AS (SELECT vec_id FROM ed ORDER BY dist, vec_id LIMIT {KNN_K}),
hits AS (SELECT vec_id FROM etop WHERE vec_id IN (SELECT vec_id FROM qtop))
SELECT {KNN_K} AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
       ROUND(COUNT(*) / CAST({KNN_K} AS DOUBLE), 6) AS recall
FROM hits
""".format(pq_seed=_PQ_SQL_SEED),
)
def ann_pq_seed_recall(spark, sf_dir):
    """LABELED BASELINE: PQ-ADC recall@10 with the raw seed-slice
    codebooks (no per-subspace Lloyd) — kept so the PQ training lift
    (distortion -26%, avg recall +0.06 on the fixture) is a measured
    number; asserted in tests/test_wave237.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    cbs = A.pq_codebooks(_seed_codebook(spark, sf_dir, A.CENTROID_IDS))
    pq_hits = A.pq_adc_search(emb, q, cbs, KNN_K)
    exact_hits = K.knn_topk(emb, q, KNN_K, "sqL2")
    return A.recall_report(pq_hits, exact_hits, KNN_K)


@query(
    "ann_mllib_lsh_join",
    """
WITH pr AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         unnest(CAST(a.embedding AS DOUBLE[])) AS x,
         unnest(CAST(b.embedding AS DOUBLE[])) AS y
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
d AS (SELECT ia, ib, ROUND(SQRT(SUM((x - y) * (x - y))), 6) AS e
      FROM pr GROUP BY ia, ib)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS all_within_threshold,
       TRUE AS recall_at_least_0_8
FROM d WHERE e < 1.2
""",
)
def ann_mllib_lsh_join(spark, sf_dir):
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin (library
    LSH path).  Seed-random hyperplanes mean the PAIR SET is not
    SQL-expressible, but its CONTRACT is (round 4, VERDICT item 5
    pattern): the checked row carries the exact true-pair count
    (DuckDB recomputes it by brute force), a boolean that every
    reported pair's exact distance is inside the threshold, and a
    boolean that measured recall >= 0.8 (measured 0.935 at sf0.001/
    0.01/0.1 for seed 42) — an MLlib wiring or quality regression
    flips a boolean and breaks the hash.  The raw pair set stays on
    the operator; containment-vs-exact is also asserted in
    tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    rep = A.mllib_lsh_join(emb, threshold=1.2).agg(
        F.count(F.lit(1)).cast("long").alias("n_rep"),
        F.max("euclid").alias("max_e"),
    )
    # exact pair count via the blocked cogrouped tile kernel (numpy at
    # BLAS speed, only per-tile counts shuffle) — the broadcast-NLJ +
    # interpreted HOF form it replaces cost ~6s warm at sf0.1
    true = K.allpairs_threshold_count_arrow(emb, threshold=1.2)
    return true.crossJoin(F.broadcast(rep)).select(
        "n_true_pairs",
        # <= on the ROUND-6 value: a raw distance just under the strict
        # MLlib threshold may round UP to exactly 1.2
        F.coalesce(F.col("max_e") <= 1.2, F.lit(True)).alias(
            "all_within_threshold"
        ),
        F.coalesce(
            F.col("n_rep").cast("double")
            >= 0.8 * F.col("n_true_pairs").cast("double"),
            F.lit(True),
        ).alias("recall_at_least_0_8"),
    )


