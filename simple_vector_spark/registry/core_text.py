"""Registry part: see package docstring (registration order = file order)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn as K
from ..operators import mutation as M
from ..sources.loaders import load_table

from . import query
from .core_knn import _query_vector
from .core_dedup import _DOCS_PLUS_SQL, _docs_plus_spark
from .core_ann import T


# --------------------------------------------------------------------------
# Text analysis (north-star extensions)
# --------------------------------------------------------------------------
_TK_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
_PROFILE_SQL = {
    lang: "', '".join(words) for lang, words in T.LANG_PROFILES.items()
}


# Shared quality-score oracle fragment (one source of truth for the
# linear-blend formula — reused by text_quality, the curriculum
# deciles, and the keep-best dedup so none can drift).  Parameterized
# by source table so it also scores the planted-duplicate corpus.
def _quality_scored_sql(table: str = "documents") -> str:
    return f"""
WITH t AS (
  SELECT doc_id, text, {_TK_SQL} AS tk FROM {table}
),
m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe,
    CAST(length(text) AS BIGINT) AS n_char,
    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
    CAST(len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS BIGINT) AS n_stop
  FROM t
)
SELECT doc_id, n_tokens, n_bpe,
  ROUND(CAST(n_punct AS DOUBLE) / n_char, 6) AS punct_ratio,
  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
  ROUND(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
      + 0.3 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0)
      - 0.2 * (CAST(n_punct AS DOUBLE) / n_char), 6) AS quality
FROM m
"""


_QUALITY_SCORED_SQL = _quality_scored_sql()


@query("text_quality", _QUALITY_SCORED_SQL)
def text_quality(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) and quality scoring
    (length/punct/stopword signals, linear blend — no transcendentals
    so both engines agree bit-for-bit)."""
    return T.token_quality(load_table(spark, sf_dir, "documents"))


@query(
    "text_langid_confusion",
    f"""
WITH t AS (
  SELECT doc_id, lang, {_TK_SQL} AS tk FROM documents
),
s AS (
  SELECT doc_id, lang,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS s_en,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["de"]}'], x))) AS s_de,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["fr"]}'], x))) AS s_fr,
    len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["es"]}'], x))) AS s_es
  FROM t
),
p AS (
  SELECT lang,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr >= s_es THEN 'fr'
         ELSE 'es' END AS predicted
  FROM s
)
SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2
""",
)
def text_langid_confusion(spark, sf_dir):
    """n-gram/function-word language-ID heuristic, reported as a
    label-vs-predicted confusion matrix (fixture langs are synthetic)."""
    return T.langid_confusion(load_table(spark, sf_dir, "documents"))


@query(
    "text_fingerprint",
    f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % {T.ROLL_P}) AS fp,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % {T.ROLL_P}) % 64 AS shard
FROM documents
""",
)
def text_fingerprint(spark, sf_dir):
    """Order-sensitive rolling char hash per doc + shard key (fp % 64)
    — the bucketing primitive for near-identical doc colocation."""
    return T.fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "vocab_top100",
    f"""
WITH tk AS (
  SELECT unnest({_TK_SQL}) AS token FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM tk GROUP BY token ORDER BY n DESC, token LIMIT 100
""",
)
def vocab_top100(spark, sf_dir):
    """Corpus vocabulary top-100: explode -> partial count -> one
    shuffle on token -> TakeOrderedAndProject."""
    return T.vocab_topn(load_table(spark, sf_dir, "documents"), 100)


@query(
    "doc_length_histogram",
    """
SELECT CAST(least(floor(n_chars / 100), 19) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY 1
""",
)
def doc_length_histogram(spark, sf_dir):
    """Length-distribution audit: fixed-width buckets, one map-side-
    combined shuffle."""
    return T.length_histogram(load_table(spark, sf_dir, "documents"))


PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


@query(
    "profile_documents",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS "column",
  CAST(COUNT({c}) AS BIGINT) AS n,
  CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(MIN({c}) AS VARCHAR) AS min_v,
  CAST(MAX({c}) AS VARCHAR) AS max_v
FROM documents"""
        for c in PROFILE_COLS
    ),
)
def profile_documents(spark, sf_dir):
    """One-pass per-column data profile of the doc table — the first
    audit a curation pipeline runs on a new data drop."""
    return T.profile_table(load_table(spark, sf_dir, "documents"), PROFILE_COLS)


SAMPLE_RATES = {"en": 25}
SAMPLE_DEFAULT = 60


@query(
    "sample_hash_stratified",
    f"""
SELECT doc_id, lang, source FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < CASE WHEN lang = 'en' THEN {SAMPLE_RATES["en"]} ELSE {SAMPLE_DEFAULT} END
""",
)
def sample_hash_stratified(spark, sf_dir):
    """Deterministic stratified sampling: md5-hash gate per stratum —
    reproducible across engines/runs/partitionings (unlike seeded
    df.sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.hash_sample(docs, SAMPLE_RATES, SAMPLE_DEFAULT).select(
        "doc_id", "lang", "source"
    )


BM25_TERMS = ["vector", "hash", "scan"]
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# BM25 CTE chain ending in a `bm(doc_id, score)` relation — shared by
# the standalone query and the RRF hybrid fusion.
_BM25_CTES = f"""
tk AS (SELECT doc_id, unnest({_TK_SQL}) AS t FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
avgdl AS (SELECT AVG(dl) AS avgdl FROM dl),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, t, COUNT(*) AS tf FROM tk
  WHERE t IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, t
),
df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t),
s AS (
  SELECT tf.doc_id,
         ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1))
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl)) AS term_score
  FROM tf
  JOIN df USING (t)
  JOIN dl USING (doc_id)
  CROSS JOIN avgdl CROSS JOIN n
),
bm AS (
  SELECT doc_id, ROUND(SUM(term_score), 4) AS score
  FROM s GROUP BY doc_id
)
"""


@query(
    "text_bm25_search",
    f"""
WITH {_BM25_CTES}
SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20
""",
)
def text_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval — the lexical complement to vector k-NN
    (hybrid search fuses both rankings)."""
    return T.bm25_search(load_table(spark, sf_dir, "documents"), BM25_TERMS, 20)


@query(
    "hybrid_rrf_search",
    f"""
WITH {_BM25_CTES},
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
pairs AS (
  SELECT e.vec_id,
         unnest(CAST(e.embedding AS DOUBLE[])) AS x,
         unnest(q.qv) AS y
  FROM embeddings e CROSS JOIN q
),
d AS (SELECT vec_id, ROUND(SUM((x - y) * (x - y)), 6) AS dist FROM pairs GROUP BY vec_id),
vtop AS (SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 100),
vecrank AS (
  SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rv FROM vtop
),
btop AS (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 100),
bmrank AS (
  SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb FROM btop
),
f AS (
  SELECT COALESCE(v.id, b.id) AS id,
         ROUND(COALESCE(1.0 / (60 + v.rv), 0) + COALESCE(1.0 / (60 + b.rb), 0), 6) AS rrf
  FROM vecrank v FULL OUTER JOIN bmrank b ON v.id = b.id
)
SELECT id, rrf FROM f ORDER BY rrf DESC, id LIMIT 20
""",
)
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval: RRF fusion of vector top-100 and BM25 top-100
    — the composite that ties the engine's two retrieval pillars."""
    from ..operators import pipeline as P

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return P.hybrid_rrf(docs, emb, _query_vector(spark, sf_dir), BM25_TERMS)


QUALITY_FLOOR = 0.15
SAMPLE_PCT = 50


@query(
    "curation_pipeline",
    f"""
WITH {_DOCS_PLUS_SQL},
uniq AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM docs_plus
  ) WHERE rn = 1
),
t AS (SELECT doc_id, text, {_TK_SQL} AS tk FROM uniq),
m AS (
  SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    CAST(length(text) AS BIGINT) AS n_char,
    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
    CAST(len(list_filter(tk, x -> list_contains(['{_PROFILE_SQL["en"]}'], x))) AS BIGINT) AS n_stop
  FROM t
),
q AS (
  SELECT doc_id, n_tokens,
    ROUND(0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
        + 0.3 * (CAST(least(n_tokens, 200) AS DOUBLE) / 200.0)
        - 0.2 * (CAST(n_punct AS DOUBLE) / n_char), 6) AS quality
  FROM m
),
s AS (
  SELECT * FROM q
  WHERE quality >= {QUALITY_FLOOR}
    AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {SAMPLE_PCT}
)
SELECT s.doc_id, e.label, s.n_tokens, s.quality
FROM s JOIN embeddings e ON e.vec_id = s.doc_id
""",
)
def curation_pipeline(spark, sf_dir):
    """North-star composite: exact dedup -> quality gate -> hash
    sample -> embedding join, each stage dropping rows before the next
    pays for them.  Composes the declared operators end-to-end."""
    from ..operators import pipeline as P

    docs = _docs_plus_spark(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return P.curate(docs, emb, QUALITY_FLOOR, SAMPLE_PCT)


