"""Approximate nearest-neighbor operators — the HNSW-capability analog.

The reference's approximate path is an in-process HNSW graph
(src/hnswlib_index.cc:7-53, M=16 ef_construction=200 ef_search=50).
A traversal-at-query-time graph doesn't fit Spark's execution model;
the Spark-native equivalents that preserve the capability (sub-linear
candidate generation, then exact re-rank) are:

- **Random-projection sign LSH**: bucket = sign-bit pattern of dot
  products against a small set of hyperplanes.  Assignment is a pure
  per-row expression over broadcast plane literals — zero shuffle,
  linear scan, embarrassingly parallel at 100 TB.  Candidates = the
  query's bucket; re-rank exactly within it.
- **IVF (inverted-file) cells**: assign every vector to its nearest
  centroid (argmin over broadcast centroid literals — zero shuffle);
  queries probe the nprobe nearest cells and re-rank exactly inside
  them.  At scale the table is *written partitioned by cell* so a
  probe prunes to nprobe partitions — the Parquet layout plays the
  role of FAISS's inverted lists.

Both are deterministic (data-derived planes/centroids, f64 math,
round-6 ranking) and therefore DuckDB-oracle-checkable — unlike a
graph ANN whose result depends on traversal order.  MLlib's
BucketedRandomProjectionLSH is also wrapped (mllib_lsh_join) as the
library path; its hyperplanes are seed-dependent, so it is checked by
containment against exact results (tests/), not by oracle.

"Fitting" (collecting plane/centroid vectors) pulls a handful of
request-sized rows to the driver — model parameters, like an MLlib
model; the corpus itself is never collected.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    as_double_array,
    dot_product,
    dot_product_np,
    double_array,
    l2_norm,
    round6,
    sql_name,
    squared_l2,
    squared_l2_np,
    squared_norm,
    vector_literal,
    vector_matrix,
)
from ..sources.loaders import local_frame
from .knn import Q_VEC, exact_rerank, exact_scores, knn_topk, rank_order, topk_np, with_query

PLANE_IDS = [0, 1, 2, 3]
CENTROID_IDS = [0, 50, 100, 150, 200, 250, 300, 350, 400, 450]


def _mean6_exact(sum_dec3: Column, cnt: Column) -> Column:
    """ROUND_HALF_UP(sum/cnt, 6) in EXACT integer arithmetic (sum must
    be an exact scale-3 DECIMAL).  Engine ROUND on the double quotient
    is NOT portable: Spark rounds the shortest decimal repr
    (BigDecimal.valueOf) while DuckDB rounds the binary value, and they
    disagree exactly on repr-tie quotients — -4.124/64 = -0.0644375
    rounds to -0.064438 in Spark and -0.064437 in DuckDB (caught by the
    sf0.001 gate on a trained PQ codeword).  Integer half-up away from
    zero, then one exact small-integer/1e6 double divide that both
    engines perform identically.

    The quotient is taken in DECIMAL(38,0) so it stays exact past the
    2^53 mantissa limit a double division of longs would hit (ADVICE
    r03: |sum| > ~4.5e9 silently broke bit-parity).  Remaining bounds,
    both loud under ANSI mode: |sum| < 9.2e12 (long overflow of
    sum*1e6 throws) and |mean| < 9e9 (final /1e6 stays an exact
    double while |q| < 2^53 — implied by the former bound)."""
    n = (sum_dec3 * 1000).cast("long") * F.lit(1000)  # sum * 1e6, exact
    c = cnt.cast("long")
    mag = F.abs(n).cast("decimal(38,0)")
    cd = c.cast("decimal(38,0)")
    num2 = F.lit(2) * mag + cd
    den2 = F.lit(2) * cd
    # num2 - pmod is exactly divisible by den2, so the decimal divide
    # (decimal(38,6) result) is integral and the long cast is exact
    q = ((num2 - F.pmod(num2, den2)) / den2).cast("long")
    signed = F.when(n < 0, -q).otherwise(q)
    return signed.cast("double") / F.lit(1000000.0)


def fit_vectors(emb: DataFrame, ids: list[int], id_col: str = "vec_id", vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Model-parameter extraction: the plane/centroid vectors (a few
    rows), ordered by id.  float32 -> Python float is exact, so the
    literals below reproduce the oracle's f64 arithmetic bit-for-bit."""
    rows = emb.filter(F.col(id_col).isin(ids)).select(id_col, vec_col).collect()
    # sorted here, not by an orderBy: a sort runs two more Spark jobs
    return sorted(((r[0], [float(x) for x in r[1]]) for r in rows), key=lambda r: r[0])


def rp_bucket(vec: str, planes: list[tuple[int, list[float]]]) -> str:
    """Sign-LSH bucket id of the SQL array ``vec``, as SQL text: bit i
    set iff dot(vec, plane_i) > 0.  Pure expression — evaluated inside
    the scan, no shuffle."""
    bits = [
        f"CASE WHEN {dot_product(vec, vector_literal(pv))} > 0"
        f" THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i, (_, pv) in enumerate(planes)
    ]
    return "(" + " + ".join(["CAST(0 AS BIGINT)", *bits]) + ")"


def query_bucket(qvec: list[float] | None, planes: list[tuple[int, list[float]]]) -> int:
    """:func:`rp_bucket` of the query vector, computed on the driver:
    the signs of ``dot_product_np``, the expression's fold bit for bit.
    No query: -1, a bucket no row has."""
    if qvec is None:
        return -1
    P = np.asarray([pv for _, pv in planes], dtype=np.float64)
    dots = dot_product_np(np.asarray(qvec, dtype=np.float64)[None], P)
    return sum(2**i for i, d in enumerate(dots) if d > 0)


def ivf_cell(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """IVF cell assignment of the SQL array ``vec``, as SQL text: argmin
    over centroid distances (rounded to 6, ties to the smaller centroid
    id — struct ordering).  Pure expression, no shuffle; at 100 TB,
    write the table partitioned by this column so probes prune at the
    file level.

    The centroid matrix is ONE array<array<double>> literal iterated
    by a single transform lambda — inlining one distance expression
    per centroid instead would multiply the generated code by
    #centroids (measured ~2s of codegen at 10x64 dims)."""
    ids = vector_literal([cid for cid, _ in centroids])
    mat = vector_literal([cv for _, cv in centroids])
    return _argmin_field(
        mat, "cv_", f"ROUND({squared_l2(vec, 'cv_')}, 6)", f"element_at({ids}, i_ + 1)", "cid"
    )


def _argmin_field(mat: str, var: str, dist: str, value: str, field: str) -> str:
    """SQL text: over the rows ``var`` (index ``i_``) of the literal
    matrix ``mat``, the ``value`` of the row with the least ``dist``,
    ties to the first row (struct ordering).  ONE transform lambda over
    the literal, not one expression per row."""
    return (
        f"array_min(transform({mat}, ({var}, i_) ->"
        f" struct({dist} AS dist, {value} AS {field}))).{field}"
    )


def cells_arrow(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "__cell",
) -> DataFrame:
    """Vectorized IVF cell assignment: mapInArrow + NumPy, the scale
    path for bulk index builds and Lloyd training scans.  ``ivf_cell``
    (the pure-expression form) is the semantic reference; higher-order
    functions are evaluated interpretively per element, so at
    build-the-whole-index volume the expression costs ~ms/row while the
    Arrow kernel streams zero-copy batches through BLAS-speed NumPy.

    Exact-parity contract with ivf_cell, bit for bit:

    - distance: ``squared_l2_np`` adds (x_d - y_d)^2 left to right in
      f64, the order of Spark's aggregate() fold, so every distance is
      the identical double.
    - argmin on ROUND(dist, 6) (``round6``) with ties to the smaller
      cid: the first minimum, so centroid ids must be ascending
      (checked).
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import IntegerType, StructField, StructType

    ids = [cid for cid, _ in centroids]
    if ids != sorted(ids):
        raise ValueError("cells_arrow needs ascending centroid ids")
    cmat = [[float(x) for x in cv] for _, cv in centroids]
    id_arr = list(ids)

    out_schema = StructType(
        list(corpus.schema.fields) + [StructField(cell_col, IntegerType())]
    )
    vec_idx = corpus.columns.index(vec_col)

    def assign(batches):
        C = np.asarray(cmat, dtype=np.float64)[None]  # (1, k, dim)
        for batch in batches:
            X = vector_matrix(batch.column(vec_idx))[:, None, :]
            # first minimum -> smallest cid
            pick = round6(squared_l2_np(X, C)).argmin(axis=1)
            cells = pa.array(
                [id_arr[j] for j in pick], type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in range(batch.num_columns)]
                + [cells],
                schema=pa.schema(
                    list(batch.schema) + [pa.field(cell_col, pa.int32())]
                ),
            )

    return corpus.mapInArrow(assign, out_schema)


def rp_lsh_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    planes: list[tuple[int, list[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search: same-bucket candidates, exact squared-L2 re-rank.
    The query's bucket is picked on the driver (:func:`query_bucket`)
    and reaches the scan as a literal filter.  Returns (vec_id, dist)
    ascending — may return < k rows if the bucket is small (the ANN
    recall trade, same as ef_search capping HNSW's candidate pool)."""
    bucket = rp_bucket(double_array(vec_col), planes)
    c = corpus.filter(f"{bucket} = {query_bucket(qvec, planes)}")
    return exact_rerank(
        with_query(c, qvec), [F.col(id_col)], k, id_col=id_col, vec_col=vec_col
    )


def with_cells(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus with its IVF ``__cell`` assignment — idempotent: a corpus
    that already carries ``__cell`` (e.g. the registry's cached,
    checkpointed assignment table — the in-memory analog of the
    partitioned index layout) is passed through untouched, so every
    search path can accept either a raw corpus or a prebuilt index."""
    if "__cell" in corpus.columns:
        return corpus
    return corpus.withColumn("__cell", F.expr(ivf_cell(double_array(vec_col), centroids)))


def nearest_cells(
    qvec: list[float] | None, centroids: list[tuple[int, list[float]]], n: int
) -> list[int]:
    """The ``n`` cells nearest the query, nearest first, picked on the
    driver: ascending ROUND-6 squared L2 (``round6(squared_l2_np)``, the
    oracle's arithmetic bit for bit), ties by cell id.  No query: no
    cells."""
    if qvec is None:
        return []
    C = np.asarray([cv for _, cv in centroids], dtype=np.float64)
    d = round6(squared_l2_np(np.asarray(qvec, dtype=np.float64)[None], C))
    return [cid for _, cid in sorted(zip(d.tolist(), (cid for cid, _ in centroids)))][:n]


def ivf_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    centroids: list[tuple[int, list[float]]],
    k: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN search: rank cells by centroid distance to the query,
    take nprobe cells, exact re-rank within them.  The probe is picked
    on the driver (:func:`nearest_cells`, the oracle's rounded
    arithmetic) and reaches the scan as the literal filter
    ``__cell IN (...)``: one stage, no join."""
    probe = nearest_cells(qvec, centroids, nprobe)
    c = with_cells(corpus, centroids, vec_col).filter(F.col("__cell").isin(probe))
    return exact_rerank(
        with_query(c, qvec),
        [id_col, F.expr("__cell AS cell")],
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Bulk IVF index build (the north star's 'DataFrame ops for bulk
    index build'): assign cells map-side, write Parquet PARTITIONED BY
    cell.  The directory layout IS the inverted-list structure —
    FAISS's `invlists` become `cell=N/` directories
    (src/faiss_index.cc / IndexIVF analog), and a probe becomes a
    partition-pruned scan.  Returns the index as a relation over
    ``path``, read with the written schema (inferring it runs a job)."""
    indexed = corpus.withColumn("cell", F.expr(ivf_cell(double_array(vec_col), centroids)))
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
    return corpus.sparkSession.read.schema(indexed.schema).parquet(path)


def ivf_probe_partitioned(
    index: DataFrame,
    qvec: list[float] | None,
    centroids: list[tuple[int, list[float]]],
    k: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built IVF index (:func:`build_ivf_index`): scan ONLY the
    `cell=` directories of the query's :func:`nearest_cells` (the same
    cells ivf_search probes) — the literal IN-filter reaches the scan as
    PartitionFilters, so IO is nprobe/ncells of the corpus.  Exact
    re-rank within the probed cells; same output as ivf_search."""
    idx = index.filter(F.col("cell").isin(nearest_cells(qvec, centroids, nprobe)))
    return exact_rerank(
        with_query(idx, qvec),
        [F.col(id_col), F.col("cell").cast("int").alias("cell")],
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


def quantize_int8_report(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization + reconstruction audit: per vector,
    scale = max|x| / 127, q_i = round(x_i/scale) as TINYINT, error =
    max|x_i - q_i*scale|.  4x memory reduction for the index payload
    (float32 -> int8) — the compression FAISS gets from
    IndexScalarQuantizer, here as pure array expressions computed
    inside the scan (zero shuffle; the quantized column is what a
    built index would persist).  Zero vectors quantize to zeros with
    scale 0."""
    e = double_array(vec_col)
    amax = f"array_max(transform({e}, x_ -> ABS(x_)))"
    scale = f"({amax} / 127.0D)"
    qv = f"transform({e}, x_ -> CAST(ROUND(x_ / {scale}, 0) AS TINYINT))"
    err = f"array_max(zip_with({e}, {qv}, (x_, q_) -> ABS(x_ - CAST(q_ AS DOUBLE) * {scale})))"
    return emb.select(
        F.col(id_col),
        F.expr(f"ROUND({scale}, 6) AS scale"),
        F.expr(f"CASE WHEN {amax} = 0 THEN 0.0D ELSE ROUND({err}, 6) END AS max_err"),
    )


def dequantized_view(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The corpus as an int8-quantized index would serve it: quantize
    then dequantize (q_i * scale).  Searching this view measures what
    the 4x compression costs in ranking quality (see
    quantize_int8_report for the code layout)."""
    passthrough = [c for c in emb.columns if c != vec_col]
    staged = emb.select(
        *passthrough, as_double_array(vec_col).alias("__e")
    ).withColumn("__scale", F.expr("array_max(transform(__e, x_ -> ABS(x_))) / 127.0D"))
    # scale materialized in its own projection: inlining it into the
    # per-element lambda would recompute the array_max per element
    # (the HOF codegen-CSE gap — see functions/text.minhash_from_hashes)
    deq = F.expr(
        "transform(__e, x_ -> CAST(CAST(ROUND(x_ / __scale, 0) AS TINYINT) AS DOUBLE)"
        f" * __scale) AS {sql_name(vec_col)}"
    )
    return staged.select(*passthrough, deq)


def recall_report(
    ann_hits: DataFrame, exact_hits: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Recall@k of an ANN result against the exact top-k: one row
    (k, n_hit, recall).  The ANN trade (ef_search / nprobe / #planes
    vs recall) is only manageable if it is MEASURED — this is the
    audit the reference cannot run (its two indexes never cross-check,
    SURVEY.md §5).  Semi-join on pool-sized lists — request-sized
    work, nothing driver-side."""
    hit = exact_hits.select(id_col).join(
        ann_hits.select(id_col), id_col, "left_semi"
    )
    return hit.agg(F.count("*").alias("n_hit")).select(
        F.lit(k).alias("k"),
        F.col("n_hit"),
        F.round(F.col("n_hit") / F.lit(k), 6).alias("recall"),
    )


def mllib_lsh_join(
    emb: DataFrame,
    threshold: float,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin: all pairs
    within ``threshold`` EUCLIDEAN distance that collide in any hash
    table.  Candidate generation shuffles on (table, bucket) — the
    library-provided version of rp_lsh_search's strategy.  Hyperplanes
    are drawn from ``seed``, so results are run-deterministic but not
    SQL-expressible: checked by containment vs exact (tests)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        F.col(id_col), array_to_vector(as_double_array(vec_col)).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    ).fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, threshold, distCol="euclid")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("ia"),
            F.col(f"datasetB.{id_col}").alias("ib"),
            F.round(F.col("euclid"), 6).alias("euclid"),
        )
    )


# -- Product quantization (PQ) ------------------------------------------------
# Codebooks are the subvectors of the same fixed corpus rows IVF uses as
# centroids (CENTROID_IDS) — a deterministic stand-in for k-means per
# subspace, so encode/search are exactly reproducible in the oracle.
PQ_M = 8  # subspaces; 64-dim fixture -> 8 dims per subspace


def pq_codebooks(
    cents: list[tuple[int, list[float]]], m: int = PQ_M
) -> list[list[tuple[int, list[float]]]]:
    """One codebook per subspace, sliced from the seed rows ``cents``:
    [(cid, codeword[dsub]), ...] in cid order.  Model-sized (m × ncode
    × dsub floats) — rides into expressions as literals, like the IVF
    centroid matrix."""
    dsub = len(cents[0][1]) // m
    return [
        [(cid, cv[s * dsub : (s + 1) * dsub]) for cid, cv in cents]
        for s in range(m)
    ]


def pq_encode(vec: str, codebooks: list[list[tuple[int, list[float]]]]) -> str:
    """PQ encode of the SQL array ``vec``, as SQL text: per subspace,
    the 1-based index of the nearest codeword (rounded dist, smaller
    index on ties — array_min struct ordering).  Pure expression,
    evaluated inside the corpus scan: the
    8-byte code column is the 32x-compressed corpus a PQ index stores.
    Per-subspace codebooks are single array<array<double>> literals
    iterated by one transform each (the literal-tree codegen rule —
    see ivf_cell)."""
    dsub = len(codebooks[0][0][1])
    codes = []
    for s, cb in enumerate(codebooks):
        mat = vector_literal([cw for _, cw in cb])
        sub = f"slice({vec}, {s * dsub + 1}, {dsub})"
        dist = f"ROUND({squared_l2(sub, 'cw_')}, 6)"
        codes.append(_argmin_field(mat, "cw_", dist, "i_ + 1", "idx"))
    return f"array({', '.join(codes)})"


def adc_distance_table(
    qvec: list[float], codebooks: list[list[tuple[int, list[float]]]]
) -> str:
    """The ADC lookup table as the SQL text of ONE literal: exact
    query-to-codeword distances per subspace (m × ncode DECIMAL(18,6)
    entries).  Model-sized, computed driver-side from the query
    vector."""
    dsub = len(codebooks[0][0][1])
    dtab = []
    for s, cb in enumerate(codebooks):
        qs = qvec[s * dsub : (s + 1) * dsub]
        row = []
        for _, cw in cb:
            d = 0.0
            for x, y in zip(qs, cw):
                d += (x - y) * (x - y)
            row.append(round(d, 6))
        dtab.append(row)
    return f"CAST({vector_literal(dtab)} AS ARRAY<ARRAY<DECIMAL(18,6)>>)"


def pq_adc_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation: the query is NOT encoded — its
    exact distance to every codeword is precomputed (m × ncode table,
    model-sized, driver-side like fit_vectors), and a corpus vector's
    distance is the sum of m table lookups by its code.  The scan never
    touches the float vectors beyond encoding — at 100 TB the codes are
    a materialized 8-byte column and ADC reads ONLY that.  Table
    entries and the sum are DECIMAL(18,6) so the 8-term fold is exact
    and order-insensitive in both engines."""
    enc = corpus.select(
        F.col(id_col),
        F.expr(f"{pq_encode(double_array(vec_col), codebooks)} AS __codes"),
    )
    return _adc_topk(enc, qvec, codebooks, k, id_col)


def _adc_topk(
    enc: DataFrame,
    qvec: list[float] | None,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int,
    id_col: str,
) -> DataFrame:
    """(id, adc_dist) top-``k`` of ``enc`` (id, ``__codes``) by
    (ADC distance, id): the distance is the DECIMAL(20,6) sum of one
    :func:`adc_distance_table` entry per subspace.  No query, no rows."""
    if qvec is None:
        enc, qvec = enc.filter("false"), [0.0] * len(codebooks) * len(codebooks[0][0][1])
    tab = adc_distance_table(qvec, codebooks)
    subspaces = vector_literal(range(1, len(codebooks) + 1))
    # decimal + widens precision each step; cast back so the fold
    # lambda returns the accumulator's type (aggregate() requires it)
    adc = (
        f"aggregate(zip_with({subspaces}, __codes, (s_, c_) ->"
        f" element_at(element_at({tab}, s_), c_)), CAST(0 AS DECIMAL(20,6)),"
        " (acc_, t_) -> CAST(acc_ + t_ AS DECIMAL(20,6)))"
    )
    return (
        enc.select(F.col(id_col), F.expr(f"CAST({adc} AS DOUBLE) AS adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def train_pq_codebooks(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int = 2,
    m: int = PQ_M,
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """PER-SUBSPACE Lloyd training for the PQ codebooks — the real PQ
    training step (Jegou et al. 2011 run k-means independently in each
    subspace; slicing a full-dimension k-means result instead measurably
    HURTS recall: the joint clusters collapse per-subspace codeword
    diversity — 0.6 -> 0.2 recall@10 on the fixture).

    Deterministic like train_centroids: FIXED iteration count, init
    from the seed rows' slices, assignment via the exact pq_encode
    expression (rounded argmin, low-index ties), per-(subspace,
    codeword, dim) means with the kmeans_step recipe (components
    ROUND 3 -> DECIMAL(12,3) exact sums -> one f64 divide -> ROUND 6);
    empty codewords keep their previous value.  Per iteration: one
    corpus scan, one (s, idx, dim)-group shuffle in long form, one
    m*ncode*dsub-row collect (model-sized, like an MLlib fit)."""
    from ..sources.loaders import fan_out

    cbs = pq_codebooks(cents, m)
    dsub = len(cbs[0][0][1])
    cids = [cid for cid, _ in cbs[0]]
    v = double_array(vec_col)
    src = fan_out(emb)
    for _ in range(iters):
        enc = src.select(F.expr(f"{v} AS _v"), F.expr(f"{pq_encode(v, cbs)} AS _c"))
        comp = (
            enc.select(F.posexplode("_c").alias("_s", "_idx"), "_v")
            .select(
                "_s",
                "_idx",
                F.expr(
                    f"posexplode(transform(slice(_v, _s * {dsub} + 1, {dsub}),"
                    " x_ -> CAST(ROUND(x_, 3) AS DECIMAL(12,3)))) AS (_d, _x)"
                ),
            )
        )
        rows = (
            comp.groupBy("_s", "_idx", "_d")
            .agg(
                _mean6_exact(F.sum("_x"), F.count("*")).alias("_m")
            )
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((r["_s"], r["_idx"]), {})[r["_d"]] = r["_m"]
        cbs = [
            [
                (
                    cid,
                    [means[(s, j + 1)][d] for d in range(dsub)]
                    if (s, j + 1) in means
                    else cw,
                )
                for j, (cid, cw) in enumerate(cb)
            ]
            for s, cb in enumerate(cbs)
        ]
    return cbs


def train_centroids(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Full-dimension Lloyd training for the IVF/PQ codebooks — the
    recall/quality dial the reference exposes as a *trained* index
    (hnswlib build, src/hnswlib_index.cc:27-53) and round 1 left as
    fixed sample rows.

    FIXED iteration count (never convergence-dependent) so the result
    is deterministic and oracle-checkable: each iteration assigns every
    vector to its rounded-argmin cell (the exact ivf_cell expression)
    and recomputes per-cluster means with the kmeans_step recipe —
    components ROUND 3 -> DECIMAL(12,3) sums (exact, order-insensitive)
    -> one f64 divide -> ROUND 6.  Empty clusters keep their previous
    centroid.  Per iteration: one corpus scan, one (cid, dim)-group
    shuffle in LONG form (posexplode to one row per component) and a
    k*dim-row collect (model parameters, like an MLlib fit).

    Long-form deliberately: the wide form (dim decimal agg columns)
    generates O(dim) aggregate codegen per iteration — measured ~2.5 s
    of pure planning/compilation per Lloyd step at dim=64, dwarfing the
    data at test SF and re-paid every iteration because the centroid
    literals change.  One agg column over dim-times-more (tiny) rows
    planifies in milliseconds and shuffles the same bytes."""
    from ..sources.loaders import fan_out

    dim = len(cents[0][1])
    vd = F.expr(
        f"transform({double_array(vec_col)}, x_ -> CAST(ROUND(x_, 3) AS DECIMAL(12,3))) AS _vd"
    )
    src = fan_out(emb)
    for _ in range(iters):
        comp = (
            cells_arrow(src, cents)
            .select(F.col("__cell").alias("cid"), vd)
            .select("cid", F.posexplode("_vd").alias("d", "x"))
        )
        rows = (
            comp.groupBy("cid", "d")
            .agg(_mean6_exact(F.sum("x"), F.count("*")).alias("m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["cid"], {})[r["d"]] = r["m"]
        cents = [
            (cid, [means[cid][d] for d in range(dim)] if cid in means else cv)
            for cid, cv in cents
        ]
    return cents


def kmeans_step(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    report_dims: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of k-means as pure DataFrame ops: assign
    every vector to its nearest centroid (same rounded-argmin
    expression as the IVF cell map), then recompute per-cluster means.
    The iterative bulk-clustering primitive behind IVF/PQ codebook
    training — at 100 TB each iteration is one scan + one shuffle on
    the (tiny) cluster id, centroids broadcast as literals.

    Cross-engine determinism for the reported means: each component is
    ROUNDed to 3 decimals then cast to DECIMAL(12,3) BEFORE the sum —
    exact, order-insensitive — with the final divide-by-count the only
    f64 step.  (A raw double sum would be partial-agg-order dependent
    and could not hash-match a single-threaded oracle.)"""
    from ..sources.loaders import fan_out

    v = double_array(vec_col)
    assigned = fan_out(emb).select(
        F.expr(f"{ivf_cell(v, cents)} AS cluster_id"),
        *[
            F.expr(f"CAST(ROUND(element_at({v}, {d + 1}), 3) AS DECIMAL(12,3)) AS _d{d}")
            for d in range(report_dims)
        ],
    )
    n = F.count("*")
    return assigned.groupBy("cluster_id").agg(
        n.cast("bigint").alias("n"),
        *[
            _mean6_exact(F.sum(f"_d{d}"), n).alias(f"mean_d{d}")
            for d in range(report_dims)
        ],
    )


def ivfpq_rerank_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int,
    nprobe: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVF-PQ pipeline (FAISS IndexIVFPQ analog,
    src/faiss_index.cc:32-58 is the flat cousin): probe the nprobe
    nearest cells, score ONLY probed-cell rows with cheap ADC table
    lookups over the 8-byte code column, keep a top-`shortlist`
    candidate set, then exact-rerank just those rows with full vectors.

    The 100 TB shape: stage 1 reads only (id, cell, codes) — with the
    table written partitioned by cell the probe prunes to nprobe
    directories, and the 32x-compressed code column is all the scan
    touches.  Stage 2 fetches `shortlist` full vectors by id (a
    broadcast semi-join against a request-sized id list) — float
    vectors for exactly R rows, never the corpus."""
    # Stage 1: codes-only ADC over probed cells.
    probe = nearest_cells(qvec, centroids, nprobe)
    enc = (
        with_cells(corpus, centroids, vec_col)
        .filter(F.col("__cell").isin(probe))
        .select(
            F.col(id_col),
            F.expr(f"{pq_encode(double_array(vec_col), codebooks)} AS __codes"),
        )
    )
    short = _adc_topk(enc, qvec, codebooks, shortlist, id_col).select(id_col)
    # Stage 2: exact rerank of the R-row shortlist only.
    return exact_rerank(
        with_query(corpus.join(F.broadcast(short), id_col), qvec),
        [F.col(id_col)],
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_cell_stats(emb: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Index-quality audit for the IVF coarse quantizer: per-cell
    population plus each cell's deviation from the uniform share.
    Imbalance is WHY ivf probes skew at scale — a hot cell turns
    nprobe=3 into a scan of half the corpus; this audit is the
    rebalance trigger (re-train centroids when max share drifts).
    One scan + one tiny shuffle on cell id; the total is a one-row
    aggregate of the per-cell rows (n_cells of them, the shuffle reused),
    broadcast back to them: not a second scan, and not a whole-table
    window, which would move every row to one task."""
    n_cells = len(cents)
    per_cell = (
        emb.select(F.expr(f"{ivf_cell(sql_name('embedding'), cents)} AS cell"))
        .groupBy(F.col("cell").cast("int").alias("cell"))
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    total = per_cell.agg(F.sum("n_vecs").cast("double").alias("_total"))
    return per_cell.crossJoin(F.broadcast(total)).select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("_total"), 6).alias("share"),
        F.round(F.col("n_vecs") * F.lit(float(n_cells)) / F.col("_total"), 6)
        .alias("skew_vs_uniform"),
    )


def pca_power_iteration(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: v1 = normalize(sum_i (x_i . v0) * x_i) with v0 = the
    all-ones start vector.  The bulk primitive behind distributed PCA /
    low-rank embedding compression (power iteration / block Krylov) —
    like kmeans_step, ONE iteration is declared so the result is a
    fixed deterministic DataFrame; the driver loop just re-calls with
    the previous output.

    Plan: the projection x.v0 is a per-row array fold (scan stage);
    posexplode turns each row into (pos, x_pos * proj) terms; one
    map-side-combined shuffle on pos (64 groups) sums them; the
    normalizer folds off those same 64 rows via a broadcast scalar.
    Nothing is ever collected; at 100 TB the shuffle carries
    dim * n_partitions partial rows.

    Cross-engine determinism (kmeans_step's recipe): each term is
    ROUNDed to 6 decimals then cast DECIMAL(30,6) BEFORE the sum —
    exact and order-insensitive; the squared-norm likewise sums exact
    DECIMAL squares, so sqrt/divide are single identical f64 steps."""
    v = double_array(vec_col)
    # x . v0 with v0 = ones == sum of components; fixed left-to-right
    # array fold, identical term order in both engines
    terms = emb.select(
        F.expr(f"posexplode({v}) AS (pos, x)"),
        F.expr(f"ROUND(aggregate({v}, 0D, (acc_, x_) -> acc_ + x_), 6) AS proj"),
    ).select(
        "pos",
        F.round(F.col("x") * F.col("proj"), 6).cast("decimal(30,6)").alias("term"),
    )
    comp = terms.groupBy("pos").agg(F.sum("term").alias("comp"))
    norm = comp.agg(
        F.sqrt(
            F.sum(
                (F.col("comp").cast("decimal(19,6)") * F.col("comp").cast("decimal(19,6)"))
            ).cast("double")
        ).alias("norm")
    )
    return comp.crossJoin(F.broadcast(norm)).select(
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("comp").cast("double") / F.col("norm"), 6).alias("component"),
    )


def norm_outlier_audit(emb: DataFrame, z_cut: float = 2.0, vec_col: str = "embedding") -> DataFrame:
    """Embedding-hygiene audit: corpus mean/std of the L2 norm and how
    many vectors sit beyond ``z_cut`` sample standard deviations —
    norm outliers break IP/cosine ranking assumptions and are the
    first thing to gate before index build.  Single scan, one global
    agg; mean/std from exact DECIMAL power sums (order-insensitive) so
    the z boundary is bit-identical cross-engine."""
    v = double_array(vec_col)
    nd = f"CAST(ROUND(SQRT(aggregate({v}, 0D, (acc_, x_) -> acc_ + x_ * x_)), 6) AS DECIMAL(21,6))"
    stats = emb.select(F.expr(f"{nd} AS _n")).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.col("_n")).alias("_s1"),
        F.sum((F.col("_n") * F.col("_n")).cast("decimal(33,12)")).alias("_s2"),
    )
    n = F.col("n_vecs").cast("double")
    mean = F.col("_s1").cast("double") / n
    var = (F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    per = stats.select("n_vecs", mean.alias("_mean"), std.alias("_std"))
    return (
        emb.select(F.expr(f"CAST({nd} AS DOUBLE) AS _norm"))
        .crossJoin(F.broadcast(per))
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.round(F.max("_mean"), 6).alias("mean_norm"),
            F.round(F.max("_std"), 6).alias("std_norm"),
            F.sum(
                (
                    F.abs(F.col("_norm") - F.col("_mean"))
                    > F.lit(z_cut) * F.col("_std")
                ).cast("long")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def ivf_recall_curve(
    corpus: DataFrame,
    qvec: list[float] | None,
    centroids: list[tuple[int, list[float]]],
    k: int,
    nprobes: tuple[int, ...] = (1, 2, 3),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k per nprobe — the IVF tuning curve that decides
    the probe budget before committing a 100-TB index layout (the
    FAISS nprobe sweep, done as relational ops).

    Cost discipline: probe cells for nprobe=1 nest inside nprobe=2
    inside nprobe=3 (one driver-side :func:`nearest_cells` ranking), so
    candidates are scored ONCE against the query for the largest budget
    (localCheckpoint) and each curve point is just a literal filter on
    the first nprobe cells + top-k + intersect with the exact answer —
    no re-scan per point."""
    cells = nearest_cells(qvec, centroids, max(nprobes))
    probed = with_cells(corpus, centroids, vec_col).filter(F.col("__cell").isin(cells))
    cand, name, asc = exact_scores(
        with_query(probed, qvec),
        [F.col(id_col), F.col("__cell")],
        vec_col=vec_col,
    )
    cand = cand.localCheckpoint()
    # k-row exact answer pinned once (r08): un-checkpointed it re-ran
    # the exact corpus top-k inside every curve point's join
    exact_ids = (
        knn_topk(corpus, qvec, k, "sqL2").select(id_col).localCheckpoint()
    )
    out = None
    for np_ in nprobes:
        topk = (
            cand.filter(F.col("__cell").isin(cells[:np_]))
            .orderBy(*rank_order(name, asc, id_col))
            .limit(k)
        )
        row = (
            topk.join(F.broadcast(exact_ids), id_col)
            .agg(F.count("*").cast("bigint").alias("n_hit"))
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "n_hit",
                F.round(F.col("n_hit") / F.lit(float(k)), 6).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def kmeans_drift(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    report_dims: int = 4,
) -> DataFrame:
    """Convergence monitor for the Lloyd loop: squared distance (over
    the reported dims) between each initial centroid and the cluster
    mean one iteration later — the stop-criterion statistic a
    distributed k-means driver polls instead of collecting centroids.
    Reuses kmeans_step's exact-DECIMAL means; the drift is a single
    deterministic f64 expression off those."""
    step = kmeans_step(emb, cents, report_dims)
    spark = emb.sparkSession
    cdf = local_frame(
        spark,
        [
            (cid, *[round(float(v), 6) for v in vec[:report_dims]])
            for cid, vec in cents
        ],
        "cluster_id int, " + ", ".join(f"c{d} double" for d in range(report_dims)),
    )
    drift = None
    for d in range(report_dims):
        term = (F.col(f"mean_d{d}") - F.col(f"c{d}")) * (
            F.col(f"mean_d{d}") - F.col(f"c{d}")
        )
        drift = term if drift is None else drift + term
    return step.join(F.broadcast(cdf), "cluster_id").select(
        "cluster_id",
        "n",
        F.round(drift, 6).alias("drift_sq"),
    )


def dim_variance_profile(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus — the dead/
    dominant-dimension audit run before PQ subspace splitting or
    whitening (a zero-variance dim wastes a PQ subquantizer; a
    dominant one starves the others).  posexplode feeds one
    dim-keyed shuffle (64 groups, map-side combined); moments from
    exact DECIMAL power sums (component values ROUND 6 before the
    cast) so variance is bit-identical cross-engine.

    The input cast is decimal(12,6), NOT wider: the square of a
    (12,6) is (25,12) — exactly representable, so the product never
    hits Spark's precision-loss scale trim.  At (21,6) the square's
    ideal type is (43,12) > 38 and Spark silently rounds it to scale
    7 while DuckDB computes it in f64 — two different quantizations
    of x*x that diverged in ROUND(var,6) at sf0.1 (caught by the
    full-scale oracle sweep, round 5)."""
    x = F.round(F.col("x"), 6).cast("decimal(12,6)")
    terms = emb.select(
        F.posexplode(as_double_array(vec_col)).alias("pos", "x")
    ).select(F.col("pos"), x.alias("_x"))
    stats = terms.groupBy("pos").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_x").alias("_s1"),
        F.sum((F.col("_x") * F.col("_x")).cast("decimal(33,12)")).alias("_s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s1").cast("double") / n
    var = (F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    return stats.select(
        F.col("pos").cast("int").alias("pos"),
        "n",
        F.round(mean, 6).alias("mean_x"),
        F.round(F.greatest(var, F.lit(0.0)), 6).alias("var_x"),
    )


def label_balance_audit(emb: DataFrame, label_col: str = "label") -> DataFrame:
    """Class-balance audit of the label column: per-label counts,
    shares, and skew vs the uniform share — the first check before
    using labels for stratified eval or filtered k-NN benchmarks
    (the ivf_cell_stats sibling, over the metadata field the
    reference's filter index serves, src/filter_index.cc:9-81).
    One tiny agg; the total and class count fold off it."""
    per = emb.groupBy(label_col).agg(F.count("*").cast("bigint").alias("n_vecs"))
    tot = per.agg(
        F.sum("n_vecs").cast("double").alias("tn"),
        F.count("*").cast("double").alias("k"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col(label_col).cast("int").alias("label"),
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("tn"), 6).alias("share"),
        F.round(F.col("n_vecs") * F.col("k") / F.col("tn"), 6).alias("skew_vs_uniform"),
    )


def adaptive_filtered_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    centroids: list[tuple[int, list[float]]],
    k: int,
    label_value: int,
    sel_threshold: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Selectivity-adaptive FILTERED vector search — the planning
    decision every filtered-ANN engine makes (the reference keeps
    per-(field,value) roaring bitmaps for exactly this,
    `src/filter_index.cc:63-79`; FAISS/HNSW engines call it pre- vs
    post-filtering):

    * few rows match the predicate  -> scan them exactly (pre-filter:
      the filter IS the index; brute force over the survivors is both
      exact and cheapest);
    * many rows match -> probe the IVF index and apply the predicate
      to the probed candidates (post-filter: the vector index prunes
      first, the predicate second).

    The branch condition is one COUNT off the (pushed-down) predicate
    scan — request-sized driver-side decision, like the reference
    reading a bitmap's cardinality.  Output carries the chosen
    ``strategy`` so callers (and the oracle, which replays the same
    CASE over the same count) can see which plan served the request.
    Both branches: f64 math, ROUND 6, id tiebreak."""
    pred = F.col("label") == label_value
    n_match = corpus.filter(pred).count()
    if n_match <= sel_threshold:
        return knn_topk(corpus, qvec, k, "sqL2", pred=pred).select(
            id_col, "dist", F.lit("prefilter_exact").alias("strategy")
        )
    probe = nearest_cells(qvec, centroids, nprobe)
    c = with_cells(corpus, centroids, vec_col).filter(F.col("__cell").isin(probe))
    return exact_rerank(
        with_query(c.filter(pred), qvec),
        [F.col(id_col)],
        k,
        id_col=id_col,
        vec_col=vec_col,
        extra=(F.lit("ivf_postfilter").alias("strategy"),),
    )


def ivf_index_upsert_audit(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    upd_mod: int = 50,
    ins_mod: int = 97,
    ins_shift: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance audit — the Spark answer to the
    reference's filter-index upkeep on upsert (O14,
    `src/filter_index.cc` bitmaps updated per mutation; here the
    maintained structure is the IVF cell layout): apply a
    deterministic upsert batch (updates = reversed vectors for
    id % upd_mod == 0, inserts = shifted copies for id % ins_mod == 0)
    latest-wins into the corpus, then report per-cell population
    before/after with the delta.

    INCREMENTAL contract: only the BATCH rows are ever assigned a
    cell here — untouched corpus rows keep the assignment they already
    carry (``with_cells`` passthrough; pass the cached/checkpointed
    index table and the before-counts are a read of existing state).
    One batch-sized assignment, two tiny cell aggregates, broadcast
    full-outer on ≤k cells — the audit costs O(batch), not
    O(corpus)."""
    assigned = with_cells(emb, centroids, vec_col)
    base = assigned.select(id_col, vec_col, "__cell")
    updates = base.filter(F.col(id_col) % upd_mod == 0).select(
        id_col, F.reverse(F.col(vec_col)).alias(vec_col)
    )
    inserts = base.filter(F.col(id_col) % ins_mod == 0).select(
        (F.col(id_col) + ins_shift).alias(id_col), vec_col
    )
    batch_assigned = with_cells(
        updates.unionByName(inserts), centroids, vec_col
    )
    after_assigned = base.join(
        batch_assigned.select(id_col), id_col, "left_anti"
    ).unionByName(batch_assigned.select(id_col, vec_col, "__cell"))

    def cell_counts(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(F.col("__cell").cast("int").alias("cell")).agg(
            F.count("*").cast("bigint").alias(name)
        )

    before = cell_counts(base, "n_before")
    after = cell_counts(after_assigned, "n_after")
    return (
        before.join(after, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("n_before", F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            (
                F.coalesce("n_after", F.lit(0)) - F.coalesce("n_before", F.lit(0))
            ).cast("bigint").alias("delta"),
        )
    )


def triplet_mining_audit(
    emb: DataFrame,
    anchor_mod: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-example mining for contrastive/metric training: for each
    anchor (a deterministic 1/anchor_mod sample), the hardest POSITIVE
    (same label, largest distance — the pair hardest to pull
    together) and hardest NEGATIVE (different label, smallest
    distance — hardest to push apart), with the margin and a violation
    flag (negative closer than positive = the triplet a trainer most
    wants).

    Plan: anchors are request-sized -> broadcast; the corpus is
    scanned ONCE with the distance evaluated in-scan and aggregated
    per anchor (min/max on the ROUNDed distance — scalar aggregates,
    no per-pair state leaves the partial agg).  At 100 TB, block the
    pair space by IVF cell first (dedup_embedding_blocked's shape);
    the audit itself is the per-anchor reduction either way."""
    anchors = F.broadcast(
        emb.filter(F.col(id_col) % anchor_mod == 0).select(
            F.col(id_col).alias("anchor_id"),
            as_double_array(vec_col).alias("__a_vec"),
            F.col(label_col).alias("anchor_label"),
        )
    )
    d = F.expr(f"ROUND({squared_l2(double_array(vec_col), '__a_vec')}, 6) AS d")
    pairs = (
        emb.crossJoin(anchors)
        .filter(F.col(id_col) != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            (F.col(label_col) == F.col("anchor_label")).alias("same"),
            d,
        )
    )
    return (
        pairs.groupBy("anchor_id", "anchor_label")
        .agg(
            F.max(F.when(F.col("same"), F.col("d"))).alias("d_hard_pos"),
            F.min(F.when(~F.col("same"), F.col("d"))).alias("d_hard_neg"),
        )
        .select(
            "anchor_id",
            F.col("anchor_label").cast("int").alias("anchor_label"),
            "d_hard_pos",
            "d_hard_neg",
            F.round(F.col("d_hard_neg") - F.col("d_hard_pos"), 6).alias("margin"),
            (F.col("d_hard_neg") < F.col("d_hard_pos")).cast("int").alias("violated"),
        )
    )


def dim_clip_bounds_audit(
    emb: DataFrame,
    lo: float = 0.01,
    hi: float = 0.99,
    vec_col: str = "embedding",
) -> DataFrame:
    """Pre-quantization clipping audit: per embedding dimension, the
    exact p01/p99 bounds and the fraction of values outside them — the
    numbers that size the clip range before int8 scalar quantization
    (quantize_int8_audit's upstream step; one saturated dimension
    ruins a whole codebook's resolution).

    Plan: one positional explode to (dim, x), a per-dim EXACT
    percentile aggregate (64 groups; at 100 TB use approx_percentile
    — same plan shape, sketch state), bounds broadcast back over a
    second pass of the exploded frame for the clip counts."""
    dims = emb.select(
        F.posexplode(as_double_array(vec_col)).alias("dim", "x")
    )
    bounds = dims.groupBy("dim").agg(
        F.round(F.percentile("x", F.lit(lo)), 6).alias("p_lo"),
        F.round(F.percentile("x", F.lit(hi)), 6).alias("p_hi"),
    )
    return (
        dims.join(F.broadcast(bounds), "dim")
        .groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            F.round(
                F.sum(
                    ((F.col("x") < F.col("p_lo")) | (F.col("x") > F.col("p_hi")))
                    .cast("long")
                )
                / F.count("*").cast("double"),
                6,
            ).alias("clip_frac"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "n", "p_lo", "p_hi", "clip_frac")
    )


# Matryoshka / dimension-truncation first stage: score on a prefix of
# the embedding, rerank the shortlist at full precision — the
# bandwidth-saving coarse-to-fine pattern MRL-trained embeddings are
# built for (prefix dims carry most of the signal).
MATRYOSHKA_PREFIX = 16
MATRYOSHKA_SHORTLIST_MULT = 3


def matryoshka_recall(
    emb: DataFrame,
    qvec: list[float] | None,
    k: int,
    prefix_dims: int = MATRYOSHKA_PREFIX,
    shortlist_mult: int = MATRYOSHKA_SHORTLIST_MULT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall audit of prefix-dimension search vs exact full-dim top-k:
    one row for the truncated top-k taken as-is ('prefix_topk'), one
    for the two-stage shortlist(mult*k)-then-full-rerank
    ('prefix_rerank').

    Scale shape: the prefix stage scans prefix_dims/dim of the vector
    bytes (a real column-bytes saving under Parquet when prefixes are
    stored as their own column); both stages are TakeOrderedAndProject
    per-partition heaps; the rerank joins the corpus against a
    BROADCAST shortlist (mult*k rows), so full vectors are fetched for
    only the shortlist."""
    # k-row exact answer pinned once (r08): both recall rows join it,
    # and un-checkpointed each re-ran the exact corpus top-k
    exact = knn_topk(
        emb, qvec, k, "sqL2", id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    pre_emb = emb.select(
        F.col(id_col), "label", F.slice(F.col(vec_col), 1, prefix_dims).alias(vec_col)
    )
    pre_q = None if qvec is None else qvec[:prefix_dims]
    pre_top = knn_topk(pre_emb, pre_q, k, "sqL2", id_col=id_col, vec_col=vec_col)
    shortlist = knn_topk(
        pre_emb, pre_q, k * shortlist_mult, "sqL2", id_col=id_col, vec_col=vec_col
    ).select(id_col)
    rerank = knn_topk(
        emb.join(F.broadcast(shortlist), id_col),
        qvec,
        k,
        "sqL2",
        id_col=id_col,
        vec_col=vec_col,
    )
    r1 = recall_report(pre_top, exact, k, id_col).select(
        F.lit("prefix_topk").alias("mode"), "k", "n_hit", "recall"
    )
    r2 = recall_report(rerank, exact, k, id_col).select(
        F.lit("prefix_rerank").alias("mode"), "k", "n_hit", "recall"
    )
    return r1.unionByName(r2)


KNN_GRAPH_K = 3


def knn_graph_blocked(
    emb_cells: DataFrame,
    k: int = KNN_GRAPH_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Blocked k-NN-graph construction: every vector's top-k neighbors
    WITHIN its IVF cell — the bulk index-build workload (graph-ANN
    construction, dedup seeding, label propagation) expressed as an
    equi-join on the cell id.

    Scale: pair space is sum(cell²), never n² — the same blocking
    contract as dedup_embedding_blocked; the shuffle key is the cell
    id and the per-source top-k is a rank-limit window (WindowGroupLimit
    partial top-k before the exchange).  Cross-cell edges are the
    measured recall trade (cells come from the cached assignment
    table; raising nprobe-style overlap is the quality dial)."""
    base = emb_cells.select(
        F.col(id_col).alias("_gid"),
        F.col("__cell").alias("_gcell"),
        as_double_array(vec_col).alias("_gv"),
    )
    # Materialize the assignment projection before the self-join (same
    # contract as the MinHash band table): both branches read the tiny
    # (id, cell, vec) table instead of re-deriving it — and the
    # materialization also sidesteps Spark's self-join attribute
    # rebinding on non-checkpointed lineage.
    base = base.localCheckpoint()
    # The renamed side is pinned as its OWN checkpoint: joining two
    # branches of one checkpointed RDD trips Spark's self-join relation
    # dedup into binding stale attribute ids at runtime
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); two distinct lineages make
    # the join unambiguous.  Cost: a second pin of the (id, cell, vec)
    # projection — same storage class as the corpus itself.
    nbrs = base.select(
        F.col("_gid").alias("_nid"),
        F.col("_gcell").alias("_ncell"),
        F.col("_gv").alias("_nv"),
    ).localCheckpoint()
    pairs = base.join(
        nbrs,
        (F.col("_gcell") == F.col("_ncell")) & (F.col("_gid") != F.col("_nid")),
    )
    scored = pairs.select(
        F.col("_gid").alias("src"),
        F.col("_nid").alias("nbr"),
        F.expr(f"ROUND({squared_l2('_gv', '_nv')}, 6) AS dist"),
    )
    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("src").alias("vec_id"), F.col("nbr").alias("nbr_id"), "dist", "rnk"
        )
    )


GRID_EPS = 0.01


def grid_neighbor_pairs(
    emb: DataFrame, eps: float = GRID_EPS, vec_col: str = "embedding"
) -> DataFrame:
    """Epsilon-neighborhood pairs in the first two embedding dimensions
    via GRID BLOCKING — the distributed spatial-join shape (geohash /
    ST_Join style): each point lands in its floor(coord/eps) home
    cell; side A explodes to its 3x3 neighbor cells; the equi-join on
    the cell key finds every pair within eps without an all-pairs
    product.  Each unordered pair is produced exactly once (B is keyed
    by its unique home cell and the id inequality fixes orientation).

    Scale: shuffle key = cell id, pair space = sum over cells of
    |cell| * |3x3 neighborhood| — the same sum-of-squares bound as the
    IVF-cell block join, tunable by eps."""
    v = as_double_array(vec_col)
    p = emb.select(
        "vec_id",
        F.element_at(v, 1).alias("x"),
        F.element_at(v, 2).alias("y"),
    ).withColumns(
        {
            "cx": F.floor(F.col("x") / eps).cast("long"),
            "cy": F.floor(F.col("y") / eps).cast("long"),
        }
    )
    offsets = F.array(
        *[
            F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox in (-1, 0, 1)
            for oy in (-1, 0, 1)
        ]
    )
    a = (
        p.select("vec_id", "x", "y", "cx", "cy", F.explode(offsets).alias("o"))
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("o.ox")).alias("jx"),
            (F.col("cy") + F.col("o.oy")).alias("jy"),
        )
    )
    b = p.select(
        F.col("vec_id").alias("vec_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["jx", "jy"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(d2 <= F.lit(eps * eps))
        .select("vec_a", "vec_b", F.round(d2, 6).alias("dist_sq"))
    )


HAMMING_SHORTLIST = 50


def sign_pack_bits(v: str, offset: int, nbits: int = 32) -> str:
    """Pack sign bits of dims offset+1..offset+nbits of the SQL array
    ``v`` into one long, as SQL text: bit (d-1) set iff component > 0.
    Pure expression; POWER-based so the identical text runs in the
    oracle."""
    return (
        f"aggregate(transform(sequence(1, {nbits}), d_ ->"
        f" CASE WHEN element_at({v}, d_ + {offset}) > 0"
        " THEN CAST(POWER(2.0D, d_ - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (acc_, t_) -> acc_ + t_)"
    )


def sign_pack_np(qvec: list[float] | None) -> tuple[int, int]:
    """:func:`sign_pack_bits` of dims 1-32 and 33-64 of the query
    vector, computed on the driver.  No query: (0, 0)."""
    if qvec is None:
        return 0, 0
    return tuple(
        sum(1 << d for d in range(32) if float(qvec[offset + d]) > 0)
        for offset in (0, 32)
    )


def binary_hamming_search(
    emb: DataFrame,
    qvec: list[float] | None,
    k: int,
    shortlist: int = HAMMING_SHORTLIST,
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary (sign) quantization + Hamming shortlist + exact rerank —
    the 1-bit-per-dim compression path (64 dims -> two longs, 32x
    smaller than f32): Hamming distance via bit_count(xor) is a
    handful of ALU ops inside codegen, the shortlist is re-ranked with
    exact f64 L2.  The binary-embedding analog of PQ-ADC.

    Scale: the packed longs are the stored index (write them as
    columns); the scan never touches the float vectors until the
    ``shortlist`` rows survive."""
    v = double_array(vec_col)
    qlo, qhi = sign_pack_np(qvec)
    packed = with_query(emb, qvec).select(
        "vec_id",
        vec_col,
        F.expr(f"{sign_pack_bits(v, 0)} AS lo"),
        F.expr(f"{sign_pack_bits(v, 32)} AS hi"),
        "__q_vec",
    )
    ham = F.expr(f"CAST(bit_count(lo ^ {qlo}) + bit_count(hi ^ {qhi}) AS INT)")
    short = (
        packed.withColumn("hamming", ham)
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(shortlist)
    )
    return (
        short.select(
            "vec_id",
            "hamming",
            F.expr(f"ROUND({squared_l2(v, Q_VEC)}, 6) AS dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def isotropy_audit(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-space isotropy audit: ||mean vector|| relative to the
    average vector norm — the standard anisotropy diagnostic (a large
    ratio means the space collapsed toward a dominant direction, which
    wrecks cosine retrieval).  One row: count, mean-vector norm,
    average norm, ratio.

    Determinism: per-dim means use the kmeans recipe (ROUND 3 ->
    DECIMAL sums -> one f64 divide -> ROUND 6); both norms fold/square
    through DECIMAL so no f64 sum ever crosses a shuffle boundary."""
    v = double_array(vec_col)
    comp = emb.select(
        F.expr(f"posexplode(transform({v}, x_ -> CAST(ROUND(x_, 3) AS DECIMAL(12,3)))) AS (d, x)")
    )
    dim_means = comp.groupBy("d").agg(
        _mean6_exact(F.sum("x"), F.count("*"))
        .cast("decimal(18,6)")
        .alias("m")
    )
    mean_norm = dim_means.agg(
        F.sqrt(
            F.sum((F.col("m") * F.col("m")).cast("decimal(38,12)")).cast(
                "double"
            )
        ).alias("_mn")
    )
    avg_norm = emb.select(
        F.expr(f"CAST(ROUND({l2_norm(v)}, 6) AS DECIMAL(18,6)) AS _nrm")
    ).agg(
        F.count("*").cast("long").alias("n_vecs"),
        (F.sum("_nrm").cast("double") / F.count("*")).alias("_an"),
    )
    return avg_norm.crossJoin(F.broadcast(mean_norm)).select(
        "n_vecs",
        F.round(F.col("_mn"), 6).alias("mean_vec_norm"),
        F.round(F.col("_an"), 6).alias("avg_vec_norm"),
        F.round(F.col("_mn") / F.col("_an"), 6).alias("anisotropy_ratio"),
    )


def pq_distortion_audit(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ reconstruction-distortion audit: per vector, the squared
    error the 8-byte code loses (sum over subspaces of the chosen —
    i.e. minimum — codeword distance), reported as corpus mean/max and
    as a share of the mean squared norm — THE quantization-quality
    number that decides whether ADC shortlists can be trusted before
    any recall measurement.

    Per-subspace minima are the same rounded expressions pq_encode
    ranks on; per-vector sums are DECIMAL-exact, so the corpus
    aggregate is shuffle-order invariant."""
    v = double_array(vec_col)
    dsub = len(codebooks[0][0][1])
    subs = []
    for s, cb in enumerate(codebooks):
        mat = vector_literal([cw for _, cw in cb])
        sub = f"slice({v}, {s * dsub + 1}, {dsub})"
        dists = f"transform({mat}, cw_ -> ROUND({squared_l2(sub, 'cw_')}, 6))"
        subs.append(f"CAST(array_min({dists}) AS DECIMAL(18,6))")
    dist = " + ".join(subs)
    norm2 = f"ROUND({squared_norm(v)}, 6)"
    per_vec = emb.select(
        F.expr(f"CAST({dist} AS DECIMAL(28,6)) AS dist"),
        F.expr(f"CAST({norm2} AS DECIMAL(18,6)) AS n2"),
    )
    return per_vec.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(
            F.sum("dist").cast("double") / F.count("*"), 6
        ).alias("mean_distortion"),
        F.round(F.max("dist").cast("double"), 6).alias("max_distortion"),
        F.round(
            F.sum("dist").cast("double") / F.sum("n2").cast("double"), 6
        ).alias("distortion_share"),
    )


GRAPH_ASSIGN = 2  # cells per vector in the navigable graph build
GRAPH_DEGREE = 8  # out-degree of the navigable graph (HNSW's M analog)
GRAPH_BEAM = 4  # frontier width per hop (the ef_search analog)
GRAPH_HOPS = 3  # fixed traversal depth — deterministic, oracle-unrollable


def _cell_edges(members: DataFrame, cell_col: str, g: int) -> DataFrame:
    """One ``applyInArrow`` task per cell of ``members`` (``cell_col``,
    ``_gid``, ``_gv``): every member's ``g`` nearest other members by
    (ROUND-6 squared L2, id) as (src, nbr, dist) — the NumPy twins of
    the expression, so the edges equal the pair-join form's.  A
    one-member cell has no edges."""
    from ..sources.loaders import apply_in_arrow

    def cell_topg(cell):
        ids = cell.column("_gid").to_numpy()
        X = vector_matrix(cell.column("_gv"))
        R = round6(squared_l2_np(X[:, None], X[None]))
        si, ni = topk_np(R, ids, g, self_ids=ids)
        return [ids[si], ids[ni], R[si, ni]]

    return apply_in_arrow(
        members.groupBy(cell_col), cell_topg, "src long, nbr long, dist double"
    )


def knn_graph_navigable(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    g: int = GRAPH_DEGREE,
    assign: int = GRAPH_ASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NAVIGABLE k-NN graph: like knn_graph_blocked, but each vector is
    assigned to its top-``assign`` IVF cells, so vectors near a cell
    boundary bridge adjacent cells and the graph is traversable ACROSS
    cells — the property greedy search needs (the within-cell-only
    graph is disconnected by construction; HNSW gets the same effect
    from its long links, src/hnswlib_index.cc:7-20 M=16 degree cap).

    Scale: membership is |corpus| x assign rows; the pair space is
    sum(cell_multiset²) — never n² — and it is scored INSIDE a per-cell
    applyInArrow kernel (:func:`_cell_edges`, the expression's NumPy
    twins), so the only
    rows that ever cross an exchange are memberships in and per-source
    top-g candidate edges out — the vector-carrying pair join that
    would otherwise move sum(cell²) x 2 arrays never materializes.
    Shuffle keys: cell id, then src for the final top-g rank-limit
    window over <= assign*g candidates per source.  Output edge table
    (src vec_id, nbr_id, dist, rnk) is the graph-ANN index artifact."""
    spark = emb.sparkSession
    cdf = F.broadcast(
        local_frame(
            spark,
            [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
            "cid int, cv array<double>",
        )
    )
    scored = emb.crossJoin(cdf).select(
        F.col(id_col).alias("_gid"),
        as_double_array(vec_col).alias("_gv"),
        F.col("cid"),
        F.expr(f"ROUND({squared_l2(double_array(vec_col), 'cv')}, 6) AS _cd"),
    )
    w = Window.partitionBy("_gid").orderBy(F.col("_cd").asc(), F.col("cid").asc())
    member = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= assign)
        .select("_gid", F.col("cid").alias("_gcell"), "_gv")
    )

    cell_edges = _cell_edges(member, "_gcell", g)
    # a pair sharing BOTH cells appears once per shared cell — collapse
    # by key (dist identical; min is just the dedupe), then the global
    # per-source top-g over <= assign*g candidates per source.
    scored_pairs = cell_edges.groupBy("src", "nbr").agg(
        F.min("dist").alias("dist")
    )
    wr = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        scored_pairs.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= g)
        .select(
            F.col("src").alias("vec_id"), F.col("nbr").alias("nbr_id"), "dist", "rnk"
        )
    )


def knn_graph_greedy_search(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_id: int,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    hops: int = GRAPH_HOPS,
    g: int = GRAPH_DEGREE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    edges: DataFrame | None = None,
) -> DataFrame:
    """Greedy BEAM SEARCH over the navigable k-NN graph — the HNSW
    query path (src/hnswlib_index.cc:27-53: greedy descent from an
    entry point, candidate heap of width ef_search) re-expressed as a
    fixed number of broadcast-joined hops.

    Entry = LAYERED DESCENT, like HNSW's upper layers: the coarse layer
    is the centroid seed rows (corpus members); frontier_0 = the best
    ``beam`` of those by distance to the query.  Each hop then expands
    the frontier by its base-graph neighbors, scores expansions against
    the query, keeps the best ``beam`` (dist, id) — after ``hops``
    rounds the answer is the top-k of EVERYTHING visited.

    beam is the ef_search dial, hops the traversal depth; both fixed so
    the walk is deterministic and the DuckDB oracle can unroll it hop
    by hop.  Scale: the frontier is request-sized (<= beam rows) and is
    broadcast against the edge table each hop — the corpus-sized work
    is the edge lookup (an equi-join on src), never a full scan; only
    the coarse layer and visited candidates are ever scored against the
    query."""
    if edges is None:
        edges = knn_graph_navigable(
            emb, cents, g=g, id_col=id_col, vec_col=vec_col
        )
    edges = (
        edges.select(F.col("vec_id").alias("_src"), F.col("nbr_id").alias("_dst"))
        .localCheckpoint()
    )
    corpus = emb.select(
        F.col(id_col).alias("_cid2"), as_double_array(vec_col).alias("_cv2")
    )
    qv = corpus.filter(F.col("_cid2") == query_id).select(F.col("_cv2").alias("_qv"))

    def score(cand_ids: DataFrame) -> DataFrame:
        return (
            corpus.join(F.broadcast(cand_ids), F.col("_cid2") == F.col("_id"))
            .crossJoin(F.broadcast(qv))
            .select(
                F.col("_cid2").alias("_id"),
                F.expr(f"ROUND({squared_l2('_cv2', '_qv')}, 6) AS dist"),
            )
        )

    spark = emb.sparkSession
    seed_ids = local_frame(spark, [(int(cid),) for cid, _ in cents], "_id long")
    seed_scored = score(seed_ids).localCheckpoint()
    frontier = (
        seed_scored.orderBy(F.col("dist").asc(), F.col("_id").asc())
        .limit(beam)
        .select("_id")
    )
    visited = seed_scored
    for _ in range(hops):
        expanded = edges.join(
            F.broadcast(frontier), F.col("_src") == F.col("_id")
        ).select(F.col("_dst").alias("_id"))
        cand = frontier.unionByName(expanded).distinct()
        scored = score(cand).localCheckpoint()
        visited = visited.unionByName(scored).dropDuplicates(["_id"])
        frontier = (
            scored.orderBy(F.col("dist").asc(), F.col("_id").asc())
            .limit(beam)
            .select("_id")
        )
    # rank the k survivors by a broadcast triangle join (k rows — no
    # global single-partition window even in bounded form)
    topk = (
        visited.orderBy(F.col("dist").asc(), F.col("_id").asc())
        .limit(k)
        .localCheckpoint()
    )
    other = topk.select(F.col("_id").alias("_oid"), F.col("dist").alias("_od"))
    return (
        topk.join(
            F.broadcast(other),
            (F.col("_od") < F.col("dist"))
            | ((F.col("_od") == F.col("dist")) & (F.col("_oid") <= F.col("_id"))),
        )
        .groupBy("_id", "dist")
        .agg(F.count(F.lit(1)).cast("int").alias("rnk"))
        .select(F.col("_id").alias("vec_id"), "dist", "rnk")
    )


def knn_graph_health(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    edges_in: DataFrame | None = None,
) -> DataFrame:
    """Graph-ANN INDEX HEALTH on the navigable k-NN graph: edge
    reciprocity (share of directed edges whose reverse exists — low
    reciprocity = asymmetric neighborhoods, the hubness signature of
    high intrinsic dimension), the maximum in-degree vs the out-degree
    cap (hub concentration — hubs absorb beam traffic and starve
    recall), and the orphan share (nodes no edge points AT — they can
    be walked FROM but never found).  The three numbers that predict
    greedy-search recall before any query runs (HNSW's heuristics for
    M / neighbor diversity exist exactly to manage these).

    All aggregates over the (src, nbr) edge list — the graph build is
    the only heavy step and is shared machinery."""
    if edges_in is None:
        edges_in = knn_graph_navigable(emb, cents)
    edges = (
        edges_in
        .select(F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst"))
        .localCheckpoint()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_mutual = (
        edges.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    )
    tot = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    in_stats = indeg.agg(F.max("ind").cast("long").alias("max_in_degree"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    orphans = (
        nodes.join(indeg.select(F.col("dst").alias("node")), "node", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        tot.crossJoin(F.broadcast(n_mutual))
        .crossJoin(F.broadcast(in_stats))
        .crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "n_nodes",
            "n_edges",
            "n_mutual",
            F.round(F.col("n_mutual") / F.col("n_edges"), 6).alias("reciprocity"),
            "max_in_degree",
            F.round(F.col("max_in_degree") / F.lit(float(GRAPH_DEGREE)), 6).alias(
                "hub_ratio"
            ),
            "n_orphans",
            F.round(F.col("n_orphans") / F.col("n_nodes"), 6).alias("orphan_share"),
        )
    )


def graph_ball(edges: DataFrame, seeds: list[int], hops: int) -> DataFrame:
    """The ``hops``-hop BFS ball (one ``_id`` column) of ``seeds`` over
    the ``(_src, _dst)`` edge table."""
    ball = local_frame(edges.sparkSession, [(int(s),) for s in seeds], "_id long")
    for _ in range(hops):
        nbrs = edges.join(
            F.broadcast(ball), F.col("_src") == F.col("_id")
        ).select(F.col("_dst").alias("_id"))
        ball = ball.unionByName(nbrs).distinct()
    return ball


GRAPH_RECALL_BEAMS = (4, 8, 16)  # ef_search sweep for the recall curve


def graph_recall_vs_beam(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_id: int,
    k: int,
    beams: tuple[int, ...] = GRAPH_RECALL_BEAMS,
    hops: int = GRAPH_HOPS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    edges: DataFrame | None = None,
    ball: DataFrame | None = None,
) -> DataFrame:
    """MEASURED recall@k vs beam width for the navigable-graph ANN —
    the graph twin of ann_recall_vs_nprobe and the direct analog of
    the reference's one quality dial, ef_search
    (include/hnswlib_index.h:16, src/hnswlib_index.cc:27-53): wider
    beam = more candidates survive each hop = higher recall at higher
    cost.  Unlike the IVF curve (score once, filter per budget), the
    beam changes the WALK itself — but no walk can leave the ``hops``-
    hop BFS BALL of the seed set (beam pruning only shrinks frontiers),
    and that ball is bounded by seeds * (degree + 1)^hops ids
    INDEPENDENT of corpus size.  So the plan is: score the corpus
    against the query once (materialized (id, dist) table), extract
    the ball's nodes and edges with broadcast equi-joins, and run
    every beam's walk in ONE cogrouped Arrow task over the bounded
    subgraph — the Spark shape of how the reference itself walks
    (hnswlib's search is a sequential in-memory traversal).  Per-beam
    semantics are bit-identical to the unrolled-per-beam oracle SQL:
    candidates = frontier UNION its out-neighbors, scored with the
    same round-6 doubles, next frontier = top-``beam`` by (dist, id),
    visited = every scored set, final top-k by (dist, id).

    Scale: the corpus-sized work is the one distance pass and the
    broadcast-probed edge lookups; the kernel's state is the
    degree^hops-bounded ball — model-sized by construction at any
    corpus size (the per-hop distributed dataflow this replaces spent
    ~10 tiny-data shuffle jobs per call on local[32]).

    Output: (beam, n_hit, recall) per beam, recall against the exact
    (ROUND-6, id-tiebreak) top-k."""
    from ..sources.loaders import arrow_schema, arrow_table

    spark = emb.sparkSession
    if edges is None:
        edges = knn_graph_navigable(
            emb, cents, id_col=id_col, vec_col=vec_col
        ).localCheckpoint()
    edges = edges.select(
        F.col("vec_id").alias("_src"), F.col("nbr_id").alias("_dst")
    )
    corpus = emb.select(
        F.col(id_col).alias("_cid2"), as_double_array(vec_col).alias("_cv2")
    )
    qv = corpus.filter(F.col("_cid2") == query_id).select(
        F.col("_cv2").alias("_qv")
    )
    # Every distance in this walk is to the ONE query vector, so score
    # the whole corpus against it ONCE and materialize the (id, dist)
    # table — two scalars per corpus row.  The exact baseline and every
    # hop's candidate scoring become lookups into this table; without
    # it each hop re-read the parquet vectors and re-ran the 64-dim
    # fold (~5 corpus passes per call, the r04 2.8s floor).
    qd = (
        corpus.crossJoin(F.broadcast(qv))
        .select(
            F.col("_cid2").alias("_id"),
            F.expr(f"ROUND({squared_l2('_cv2', '_qv')}, 6) AS dist"),
        )
        .localCheckpoint()
    )
    exact = (
        qd.orderBy(F.col("dist").asc(), F.col("_id").asc())
        .limit(k)
        .select(F.col("_id").alias("vec_id"))
    )

    beams_df = local_frame(spark, [(int(b),) for b in beams], "beam int")
    # The hops-hop BFS ball of the FULL seed set: a superset of every
    # node any beam's walk can score (frontiers are subsets of the
    # unpruned expansion).  Query-independent, so callers that search
    # the same index repeatedly pass it in precomputed (the registry
    # session-caches it next to the edge table).
    if ball is None:
        ball = graph_ball(edges, [cid for cid, _ in cents], hops)
    nodes = qd.join(F.broadcast(ball), "_id")
    sub_edges = edges.join(
        F.broadcast(ball), F.col("_src") == F.col("_id")
    ).select("_src", "_dst")

    seed_list = sorted(int(cid) for cid, _ in cents)
    beam_list = [int(b) for b in beams]
    n_hops = int(hops)

    walk_schema = "beam int, vec_id long"
    walk_out = arrow_schema(walk_schema)

    def walk_all(nodes_t, edges_t):
        """All beam walks over the bounded ball subgraph, replicating
        the unrolled oracle CTEs: per hop candidates = frontier UNION
        out-neighbors, next frontier = top-beam by (dist, id), visited
        accumulates every scored set; emits each beam's top-k visited
        ids.  Python tuple sort on (float64, int) IS ORDER BY d, id on
        the identical round-6 doubles."""
        dist = dict(
            zip(nodes_t.column("_id").to_pylist(), nodes_t.column("dist").to_pylist())
        )
        adj: dict[int, list[int]] = {}
        for s_, d_ in zip(
            edges_t.column("_src").to_pylist(), edges_t.column("_dst").to_pylist()
        ):
            adj.setdefault(s_, []).append(d_)
        s0 = sorted((dist[i], i) for i in seed_list if i in dist)
        out_beam: list[int] = []
        out_id: list[int] = []
        for b in beam_list:
            frontier = [i for _, i in s0[:b]]
            visited = {i for _, i in s0}
            for _ in range(n_hops):
                cand = set(frontier)
                for f_ in frontier:
                    cand.update(adj.get(f_, ()))
                visited |= cand
                frontier = [i for _, i in sorted((dist[c], c) for c in cand)[:b]]
            top = sorted((dist[i], i) for i in visited)[:k]
            out_beam.extend([b] * len(top))
            out_id.extend(i for _, i in top)
        return arrow_table([out_beam, out_id], walk_out)

    topk = (
        nodes.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .cogroup(sub_edges.withColumn("_g", F.lit(0)).groupBy("_g"))
        .applyInArrow(walk_all, walk_schema)
    )
    hits = (
        topk.join(exact, "vec_id", "left_semi")
        .groupBy("beam")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    # left-join back onto the beam list: a walk with ZERO hits still
    # reports its row (beam 4 really does score recall 0 on the hard
    # query — a groupBy alone would drop it)
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
    return (
        beams_df.join(F.broadcast(hits), "beam", "left")
        .select(
            "beam",
            n_hit.alias("n_hit"),
            F.round(n_hit / F.lit(float(k)), 6).alias("recall"),
        )
        .orderBy("beam")
    )


GRAPH_UPD_MOD = 50  # updates: id % 50 == 0 get reversed vectors
GRAPH_INS_MOD = 97  # inserts: id % 97 == 0 copied to id + 1e6
GRAPH_INS_SHIFT = 1_000_000


def graph_cell_assignments(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    assign: int = GRAPH_ASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``assign`` cell assignment as a PURE EXPRESSION (the
    ivf_cell idiom extended to top-N): distances to every centroid in
    one projection, array_sort over (dist, cid) structs, slice + explode
    the first ``assign`` — identical (id, cell) rows to the former
    crossJoin + row_number window (same squared_l2 fold order, same
    ROUND(6), same ties-to-smaller-cid ordering) with ZERO shuffle
    (guide §2.4: the window's hash(id) exchange carried |corpus| x
    |centroids| rows).  This is the audited "stored assignment table"
    builder; core_ann session-caches its base-corpus result the same
    way the edge table is cached."""
    ids = vector_literal([int(cid) for cid, _ in cents])
    mat = vector_literal([cv for _, cv in cents])
    dist = f"ROUND({squared_l2(double_array(vec_col), 'cv_')}, 6)"
    entries = (
        f"transform({mat}, (cv_, i_) ->"
        f" struct({dist} AS _cd, element_at({ids}, i_ + 1) AS cid))"
    )
    top = f"slice(array_sort({entries}), 1, {int(assign)})"
    return df.select(
        F.col(id_col), F.expr(f"explode({top}) AS _e")
    ).select(F.col(id_col), F.col("_e.cid").alias("cell"))


def graph_index_upsert_audit(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    upd_mod: int = GRAPH_UPD_MOD,
    ins_mod: int = GRAPH_INS_MOD,
    ins_shift: int = GRAPH_INS_SHIFT,
    g: int = GRAPH_DEGREE,
    assign: int = GRAPH_ASSIGN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    edges_before: DataFrame | None = None,
    base_cells: DataFrame | None = None,
) -> DataFrame:
    """Incremental MAINTENANCE audit for the navigable graph — the
    graph twin of ivf_index_upsert_audit and the Spark answer to
    HNSW's addPoint/markDelete upkeep (src/hnswlib_index.cc:55-80):
    apply a deterministic upsert batch (updates = reversed vectors for
    id % upd_mod == 0, inserts = shifted copies for id % ins_mod == 0),
    then repair the edge list INCREMENTALLY:

    - batch rows are re-assigned to their top-``assign`` cells (a
      batch-sized scoring, not a corpus rescan);
    - only the AFFECTED cells (cells any batch row lands in) rebuild
      their candidate edges, with after-image vectors;
    - stale edges drop (src re-ranked in an affected cell, or nbr is
      an updated vector whose stored distance lies);
    - each affected src re-ranks (old kept edges + fresh candidates)
      to its top-``g``; unaffected sources keep their edges verbatim.

    EDGE-REPAIR work is O(sum of affected-cell populations) — the same
    incremental contract the IVF audit states.  One caveat (ADVICE
    r03): that contract is MODELED here rather than fully realized —
    ``assign_cells(base)`` below recomputes base-row cell assignments
    (an O(corpus) scoring pass) where a deployed index would read its
    stored assignment table; vectors outside the batch are unchanged,
    so the recomputed cells equal the stored ones and the audited edge
    repair itself touches affected cells only.  Output: one row with
    before/after edge counts, dropped/added counts, affected cells,
    batch size, and the out-degree cap check."""
    if base_cells is not None and set(base_cells.columns) != {id_col, "cell"}:
        raise ValueError(
            f"base_cells must be ({id_col}, cell), got {base_cells.columns}"
        )
    spark = emb.sparkSession
    if edges_before is None:
        edges_before = knn_graph_navigable(
            emb, cents, g=g, assign=assign, id_col=id_col, vec_col=vec_col
        ).localCheckpoint()

    base = emb.select(id_col, vec_col)
    updates = base.filter(F.col(id_col) % upd_mod == 0).select(
        id_col, F.reverse(F.col(vec_col)).alias(vec_col)
    )
    inserts = base.filter(F.col(id_col) % ins_mod == 0).select(
        (F.col(id_col) + ins_shift).alias(id_col), vec_col
    )
    batch = updates.unionByName(inserts)
    after_corpus = (
        base.join(batch.select(id_col), id_col, "left_anti").unionByName(batch)
    )
    # incremental contract: only BATCH rows are newly scored; untouched
    # rows keep their existing cells (vectors unchanged => same cells).
    # assign_cells(base) below stands in for reading the stored
    # assignment table of the built index — a real system reads state,
    # it does not rescore (same caveat ivf_index_upsert_audit states).
    def assign_cells(df: DataFrame) -> DataFrame:
        return graph_cell_assignments(
            df, cents, assign=assign, id_col=id_col, vec_col=vec_col
        )

    batch_cells = assign_cells(batch).localCheckpoint()
    affected = batch_cells.select("cell").distinct()
    # members of affected cells, after-image vectors (old members of
    # those cells keep their assignment; batch rows use batch_cells).
    # ``base_cells`` is the built index's stored assignment table
    # (session-cached in core_ann, like the edge table) — when absent,
    # fall back to recomputing it, which yields identical rows.
    # CONTRACT (ADVICE r08): a supplied ``base_cells`` must be the
    # (id_col, cell) table produced by graph_cell_assignments over THIS
    # corpus with THESE cents/assign — a table built with a different
    # centroid set or assign depth would silently corrupt the audit.
    # Its columns are checked on entry; its cell ids are checked
    # in-plan: every stored cell id must be in the centroid domain
    # (raise_error never fires on valid state, so the audited result
    # is unchanged).
    if base_cells is not None:
        cent_dom = [int(cid) for cid, _ in cents]
        base_cells = base_cells.select(
            id_col,
            F.when(F.col("cell").isin(cent_dom), F.col("cell"))
            .otherwise(
                F.raise_error(F.concat(
                    F.lit("base_cells cell outside centroid domain: "),
                    F.col("cell").cast("string"),
                ))
            ).alias("cell"),
        )
    old_cells = (
        base_cells if base_cells is not None else assign_cells(base)
    ).join(batch.select(id_col), id_col, "left_anti")
    members = (
        old_cells.unionByName(batch_cells)
        .join(F.broadcast(affected), "cell", "left_semi")
        .join(after_corpus, id_col)
        .select("cell", F.col(id_col).alias("_gid"),
                as_double_array(vec_col).alias("_gv"))
    )

    fresh = (
        _cell_edges(members, "cell", g)
        .groupBy("src", "nbr")
        .agg(F.min("dist").alias("dist"))
    )
    affected_srcs = members.select(F.col("_gid").alias("src")).distinct()
    upd_ids = updates.select(F.col(id_col).alias("_uid"))
    # stale edges drop EVERYWHERE (either endpoint's vector changed, so
    # the stored distance lies) — HNSW's lazy markDelete semantics: an
    # unaffected src whose nbr updated simply loses that link and runs
    # below the degree cap until its cell next rebuilds.
    valid_old = (
        edges_before.select(
            F.col("vec_id").alias("src"), F.col("nbr_id").alias("nbr"), "dist"
        )
        .join(
            F.broadcast(upd_ids), F.col("nbr") == F.col("_uid"), "left_anti"
        )
        .join(
            F.broadcast(upd_ids), F.col("src") == F.col("_uid"), "left_anti"
        )
        .localCheckpoint()
    )
    kept_for_rerank = valid_old.join(
        F.broadcast(affected_srcs), "src", "left_semi"
    )
    untouched = valid_old.join(F.broadcast(affected_srcs), "src", "left_anti")
    wr = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    reranked = (
        kept_for_rerank.unionByName(fresh)
        .groupBy("src", "nbr")
        .agg(F.min("dist").alias("dist"))
        .withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= g)
        .select("src", "nbr", "dist")
    )
    edges_after = untouched.unionByName(reranked).localCheckpoint()

    eb = edges_before.select(
        F.col("vec_id").alias("src"), F.col("nbr_id").alias("nbr")
    )
    ea = edges_after.select("src", "nbr")
    n_before = eb.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_before"))
    n_after = ea.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_after"))
    n_dropped = eb.join(ea, ["src", "nbr"], "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dropped")
    )
    n_added = ea.join(eb, ["src", "nbr"], "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_added")
    )
    n_batch = batch.agg(F.count(F.lit(1)).cast("bigint").alias("n_batch_rows"))
    n_cells = affected.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_affected_cells")
    )
    deg_ok = (
        edges_after.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .agg(F.max("_deg").cast("bigint").alias("max_out_degree"))
    )
    return (
        n_batch.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(n_before))
        .crossJoin(F.broadcast(n_after))
        .crossJoin(F.broadcast(n_dropped))
        .crossJoin(F.broadcast(n_added))
        .crossJoin(F.broadcast(deg_ok))
    )


def rp_multiprobe_search(
    corpus: DataFrame,
    qvec: list[float] | None,
    planes: list[tuple[int, list[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MULTI-PROBE sign-LSH (Lv et al.): search the query's bucket AND
    every Hamming-1 neighbor bucket (one sign bit flipped) — the LSH
    recall dial that buys candidates WITHOUT more tables: a near
    neighbor that lands across one hyperplane is exactly one bit away,
    so probing the |planes| flipped buckets recovers most single-probe
    misses at (|planes|+1)x the candidate cost.

    Plan: bucket assignment stays a zero-shuffle scan expression; the
    probe set is the query's bucket (:func:`query_bucket`, on the
    driver) and its |planes| flips, a literal IN filter; candidates
    re-rank exactly, TakeOrdered top-k."""
    qb = query_bucket(qvec, planes)
    probes = [qb] + [qb ^ 2**i for i in range(len(planes))]
    bucket = rp_bucket(double_array(vec_col), planes)
    return exact_rerank(
        with_query(corpus.filter(f"{bucket} IN ({', '.join(map(str, probes))})"), qvec),
        [F.col(id_col)],
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


CKA_DIM_FULL = 64
CKA_DIM_HALF = 32
CKA_DIM_QUARTER = 16


def linear_cka_views(emb: DataFrame) -> DataFrame:
    """LINEAR CKA (centered kernel alignment) between the full
    embedding and its matryoshka prefixes: CKA(X, Y) =
    ||X'Y||_F^2 / (||X'X||_F ||Y'Y||_F) over column-centered views —
    THE representation-similarity metric (Kornblith et al. 2019),
    answering "how much of the full space's geometry does the
    truncated view keep" with a basis-invariant number in [0, 1];
    the principled companion to ann_matryoshka_recall's behavioral
    check.

    Everything reduces to ONE pair-gram table P_ab = sum_rows
    (x_a - m_a)(x_b - m_b) over the 64x64 dim pairs: the three
    Frobenius terms for each view are conditional sums of P_ab^2 —
    so the data-sized work is a single dim-pair aggregate
    (|rows| x 4096 product terms, map-side combined), never an n x n
    kernel.  9dp-rounded DECIMAL folds throughout."""
    d = CKA_DIM_FULL
    e = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("a", "xa"),
    ).localCheckpoint()
    means = F.broadcast(
        e.groupBy("a").agg(
            F.round(
                F.sum(F.col("xa").cast("decimal(24,9)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("m")
        )
    )
    cx = e.join(means, "a").select(
        "id", "a", (F.col("xa") - F.col("m")).alias("x")
    )
    p = (
        cx.join(
            cx.select(
                F.col("id"), F.col("a").alias("b"), F.col("x").alias("y")
            ),
            "id",
        )
        .groupBy("a", "b")
        .agg(
            F.sum(
                F.round(F.col("x") * F.col("y"), 9).cast("decimal(28,9)")
            ).alias("p")
        )
    )
    n = F.broadcast(emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs")))
    sq = F.round(
        F.col("p").cast("double") * F.col("p").cast("double"), 6
    ).cast("decimal(38,6)")
    sums = p.agg(
        F.sum(sq).alias("sxx"),
        F.sum(F.when((F.col("a") < CKA_DIM_HALF) & (F.col("b") < CKA_DIM_HALF), sq)).alias(
            "syy32"
        ),
        F.sum(F.when(F.col("b") < CKA_DIM_HALF, sq)).alias("sxy32"),
        F.sum(
            F.when(
                (F.col("a") < CKA_DIM_QUARTER) & (F.col("b") < CKA_DIM_QUARTER),
                sq,
            )
        ).alias("syy16"),
        F.sum(F.when(F.col("b") < CKA_DIM_QUARTER, sq)).alias("sxy16"),
    )

    def cka(sxy, syy):
        return F.round(
            F.try_divide(
                F.col(sxy).cast("double"),
                F.nullif(
                    F.sqrt(F.col("sxx").cast("double"))
                    * F.sqrt(F.col(syy).cast("double")),
                    F.lit(0.0),
                ),
            ),
            6,
        ) + F.lit(0.0)
    return sums.crossJoin(n).select(
        "n_vecs",
        cka("sxy32", "syy32").alias("cka_dim32"),
        cka("sxy16", "syy16").alias("cka_dim16"),
    )
