"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

North-star extensions for training-data curation (not in the
reference, whose only text handling is opaque JSON storage,
src/scalar_storage.cc:20-32).  All pure string/array expressions —
JVM-side, zero shuffles for the per-doc computations; only final
aggregations shuffle.

Cross-engine determinism: integer counts compared exactly; ratios are
single f64 divisions of exact ints (deterministic IEEE); NO
transcendentals (exp/log differ in ulps across libm implementations —
the quality score is a linear blend instead of a sigmoid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_int, tokens
from ..sources.loaders import local_frame

ROLL_P = 2_147_483_647
PUNCT_CLASS = "[.,!?;:]"
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Tiny function-word profiles for the language-ID heuristic.  Scored on
# raw occurrence counts (exact ints); argmax ties resolve in the fixed
# order en > de > fr > es (mirrored as a CASE chain in the oracle SQL).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def _count_in(toks: Column, words: list[str]) -> Column:
    return F.size(
        F.filter(toks, lambda x: F.array_contains(F.lit(words).cast("array<string>"), x))
    ).cast("long")


def token_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counts + quality signals:
    - n_tokens: whitespace tokens
    - n_bpe: BPE-ish subword count (letter runs / digit runs / single
      punctuation — the standard pre-tokenizer regex)
    - punct_ratio, stop_ratio: fraction of punctuation chars / stopword
      tokens
    - quality: linear blend in [0,1]-ish — higher = longer, more
      stopword-natural, less punctuation-dense text."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    n_char = F.length(F.col(text_col)).cast("long")
    n_punct = (
        n_char - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")).cast("long")
    )
    n_stop = _count_in(toks, LANG_PROFILES["en"])
    punct_ratio = F.round(n_punct.cast("double") / n_char, 6)
    stop_ratio = F.round(n_stop.cast("double") / n_tok, 6)
    quality = F.round(
        F.lit(0.5) * (n_stop.cast("double") / n_tok)
        + F.lit(0.3) * (F.least(n_tok, F.lit(200)).cast("double") / 200.0)
        - F.lit(0.2) * (n_punct.cast("double") / n_char),
        6,
    )
    return docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("long").alias("n_bpe"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


def langid_predict(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc language prediction: argmax of profile-word occurrence
    counts, 'unk' when no profile word occurs.  Exact-integer argmax
    with fixed tie order — deterministic."""
    toks = tokens(F.col(text_col))
    scored = docs.select(
        F.col(id_col),
        F.col("lang"),
        *[
            _count_in(toks, words).alias(f"s_{lang}")
            for lang, words in LANG_PROFILES.items()
        ],
    )
    s = {lang: F.col(f"s_{lang}") for lang in LANG_PROFILES}
    predicted = (
        F.when(F.greatest(*s.values()) == 0, F.lit("unk"))
        .when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), F.lit("en"))
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), F.lit("de"))
        .when(s["fr"] >= s["es"], F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return scored.select(F.col(id_col), F.col("lang"), predicted.alias("predicted"))


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Label-vs-predicted confusion counts (the fixture's ``lang``
    labels are synthetic, so this measures the heuristic's behavior,
    not real accuracy)."""
    return (
        langid_predict(docs)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


def vocab_topn(docs: DataFrame, n: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: token -> frequency, top-n by (count desc,
    token asc).  The BPE-training / tokenizer-audit primitive.  Plan:
    explode inside the scan, partial count map-side, one shuffle on
    token, global top-n via TakeOrderedAndProject — at 100 TB the
    shuffle carries one row per distinct token per partition, not one
    per occurrence."""
    from ..sources.loaders import fan_out

    toks = fan_out(docs.select(text_col)).select(
        F.explode(tokens(F.col(text_col))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(n)
    )


def length_histogram(
    docs: DataFrame, bucket_width: int = 100, n_buckets: int = 20
) -> DataFrame:
    """Document-length histogram: n_chars bucketed into fixed-width
    bins (last bin open-ended).  One map-side-combined shuffle on the
    bucket id — the distribution-audit primitive for curation."""
    b = F.least(
        F.floor(F.col("n_chars") / bucket_width), F.lit(n_buckets - 1)
    ).cast("long")
    return (
        docs.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def hash_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    md5-hash(id) % 100 < rate(stratum).  Unlike ``df.sample`` (seeded
    RNG, partition-dependent), the hash gate is a pure row predicate —
    reproducible across engines, runs, and repartitionings, which is
    what a 100-TB curation pipeline needs for auditable subsets.
    ``rates`` maps stratum value -> percentage [0,100]."""
    h = md5_int(F.col(id_col).cast("string")) % 100
    rate = F.lit(default_rate)
    for v, r in rates.items():
        rate = F.when(F.col(strata_col) == v, F.lit(r)).otherwise(rate)
    return docs.filter(h < rate)


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Generic one-pass data profiler: per column — non-null count,
    null count, distinct count, min/max (stringified for a uniform
    schema).  The first thing a curation pipeline runs on a new 100-TB
    drop.  One aggregate pass over the scan (all columns' stats in a
    single row), then a constant-size explode to long form."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__d_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n"),
                F.col(f"__nn_{c}").alias("n_null"),
                F.col(f"__d_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_v"),
                F.col(f"__max_{c}").alias("max_v"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("p")).select("p.*")


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the lexical complement
    to the engine's vector k-NN (hybrid search = fuse both rankings).

    Plan: one explode pass computes term frequencies (shuffle keyed on
    (doc, term) with map-side combine), df/avgdl are term- and
    corpus-level aggregates broadcast back, final score is a per-doc
    sum — at 100 TB this is the classic two-pass distributed BM25 with
    nothing driver-side.  Scores ROUND(...,4): idf uses ln(), whose
    last-ulp can differ across libm implementations, so we keep two
    guard digits more than the usual 6-decimal rule would give.
    Output: (doc_id, score) top-k, score desc, id tiebreak."""
    n_docs = docs.count()

    toks = docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))

    tf = (
        toks.filter(F.col("t").isin(query_terms))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(F.broadcast(df_), "t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(avgdl))
        .select(
            F.col(id_col),
            (
                idf
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc rolling polynomial hash over characters:
    h = fold(chars, h*31 + codepoint mod P).  The order-sensitive
    char fold is a per-row expression (aggregate over split chars);
    DuckDB mirrors it with list_reduce.  Also emits a shard key
    (fp % 64) — the fingerprint's use at scale is sharding/bucketing
    near-identical docs together."""
    chars = F.split(F.col(text_col), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(ROLL_P),
    )
    return docs.select(
        F.col(id_col),
        fp.alias("fp"),
        (fp % 64).alias("shard"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc average token log-probability under a unigram LM trained
    on the corpus itself — the classic cheap perplexity-style quality
    filter (low avg logprob = rare-token gibberish, high = natural
    text).

    Plan (the two-pass distributed LM shape, nothing driver-side): one
    explode pass builds the (doc, token) term-frequency table —
    materialized (localCheckpoint) because vocabulary counts, the
    corpus total AND the per-doc score all fold off it; deriving each
    branch separately would tokenize the corpus three times.  The
    vocab join is keyed on token (at 100 TB the tf table is the
    compressed form of the corpus — one row per distinct (doc, token))
    and the score is the tf-weighted average Σ tf·ln(p) / Σ tf.
    Scores ROUND(...,4): ln() last-ulp can differ across libm
    implementations (same rule as BM25's idf)."""
    from ..sources.loaders import fan_out

    tf = (
        fan_out(docs.select(id_col, text_col))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    vocab = tf.groupBy("t").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        tf.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("c"),
                4,
            ).alias("avg_logprob"),
        )
    )


def bpe_pair_candidates(docs: DataFrame, n: int = 50, text_col: str = "text") -> DataFrame:
    """Top-n adjacent character pairs inside whitespace tokens,
    frequency-weighted by occurrence — exactly the statistic the first
    BPE merge step maximizes, and the tokenizer-training primitive over
    a 100-TB corpus.

    Plan: char pairs are built per token inside the scan (zip_with over
    two shifted slices of the char array — no UDF), exploded into a
    map-side-combined count, one shuffle on the pair, global top-n via
    TakeOrderedAndProject.  Counts exact ints; order (count desc, pair
    asc) — fully deterministic."""
    from ..sources.loaders import fan_out

    def char_pairs(tok: Column) -> Column:
        chars = F.split(tok, "")
        sz = F.size(chars)
        return F.when(
            sz >= 2,
            F.zip_with(
                F.slice(chars, 1, sz - 1),
                F.slice(chars, 2, sz - 1),
                lambda a, b: F.concat(a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pairs = (
        fan_out(docs.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(F.explode(char_pairs(F.col("tok"))).alias("pair"))
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(n)
    )


def bigram_topn(docs: DataFrame, n: int = 50, text_col: str = "text") -> DataFrame:
    """Top-n word bigrams across the corpus — the phrase-mining /
    tokenizer-merge-candidate primitive.  Bigrams are built inside the
    scan stage with zip_with over two shifted slices (no UDF, no
    self-join); explode feeds a partially-aggregated count, so the one
    shuffle carries (bigram, partial count) pairs, then global top-n
    via TakeOrderedAndProject.  Deterministic order: (count desc,
    bigram asc)."""
    from ..functions.text import tokens
    from ..sources.loaders import fan_out

    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, sz - 1),
        F.slice(toks, 2, sz - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # slice() rejects negative lengths: guard the < 2-token case
    bigrams = F.when(sz >= 2, pairs).otherwise(F.array().cast("array<string>"))
    exploded = (
        fan_out(docs.select(text_col))
        .select(F.explode(bigrams).alias("bigram"))
    )
    counted = exploded.groupBy("bigram").agg(F.count("*").cast("bigint").alias("n"))
    return counted.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(n)


def vocab_zipf_slope(docs: DataFrame, top_n: int = 500, text_col: str = "text") -> DataFrame:
    """Zipf's-law audit: least-squares slope of ln(freq) on ln(rank)
    over the top-n vocabulary — natural corpora sit near -1; a slope
    far off flags boilerplate/templated text worth deduping.  One row:
    (n_used, slope, intercept).

    Plan: vocab count (one token-keyed shuffle), rank via a single
    window over the top-n aggregate (rows = vocab, not occurrences),
    regression from the 5 power sums in one tiny agg.  Determinism:
    rank order is exact (count desc, token asc); ln values ROUND 6 then
    DECIMAL before the power sums (order-insensitive); slope/intercept
    are f64 steps off exact sums, ROUND 4 (ln ulp rule)."""
    from ..sources.loaders import fan_out

    vocab = (
        fan_out(docs.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # top_n rows via global sort+limit (TakeOrderedAndProject — the
    # distributed top-k, no single-partition window over the vocab,
    # which grows with the corpus), then two-phase rank of the
    # constant-sized result
    from .ranking import ranked_global

    top = vocab.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_n)
    ranked = ranked_global(
        top, [F.col("n").desc(), F.col("token").asc()], rank_name="rank"
    ).select("rank", "n")
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(20,6)")
    y = F.round(F.log(F.col("n").cast("double")), 6).cast("decimal(20,6)")
    sums = ranked.agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum((x * y).cast("decimal(30,12)")).alias("_sxy"),
        F.sum((x * x).cast("decimal(30,12)")).alias("_sxx"),
    )
    nn = F.col("n_used").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    slope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    return sums.select(
        "n_used",
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / nn, 4).alias("intercept"),
    )


def source_tfidf_terms(docs: DataFrame, top_per_source: int = 5, text_col: str = "text") -> DataFrame:
    """Per-source distinguishing terms by tf-idf, treating each source
    (crawl shard) as one super-document — the "what is this slice made
    of" audit a mixture designer runs before weighting sources.

    tf = token count / source token count; idf = ln(n_sources / df)
    where df counts sources containing the token.  Plan: one explode
    pass feeds a (source, token)-keyed count shuffle; the count table
    is LOCALCHECKPOINTED (vocab x sources sized, tiny next to the
    corpus) because df, source totals, n_sources, and the scored join
    all consume it — without the checkpoint the occurrence-sized
    explode pass re-runs once per consumer; the final rank is a
    per-source window.  Scores ROUND 4 (ln ulp rule) and ranked on the
    rounded value with token tiebreak."""
    from ..sources.loaders import fan_out

    st = (
        fan_out(docs.select("source", text_col))
        .select(F.col("source"), F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("cnt"))
    ).localCheckpoint()
    totals = st.groupBy("source").agg(F.sum("cnt").alias("n_tok"))
    df_ = st.groupBy("t").agg(F.countDistinct("source").alias("df"))
    n_sources = st.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        st.join(totals, "source")
        .join(df_, "t")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            F.col("t").alias("token"),
            F.round(
                (F.col("cnt").cast("double") / F.col("n_tok"))
                * F.log(F.col("n_sources").cast("double") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= top_per_source)
    )


def char_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc Shannon entropy of the character distribution (bits) —
    the gibberish/compression-ratio complement to the unigram-LM score:
    natural language sits ~4 bits/char, base64 blobs and key-mash spam
    run higher, repeated-template text lower.

    Plan: chars explode inside the scan into a (doc, char) count
    (one shuffle, map-side combined), then one per-doc fold:
    H = log2(n) - Σ c·log2(c) / n off exact integer counts — a
    rearrangement with a single ln per distinct char, not per
    occurrence.  ROUND 4 (ln ulp rule)."""
    from ..sources.loaders import fan_out

    cc = (
        fan_out(docs.select(id_col, text_col))
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch"))
        .groupBy(id_col, "ch")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").cast("double")
    ent = (
        F.log2(n) - F.sum(F.col("c") * F.log2(F.col("c"))) / n
    )
    return cc.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        F.round(ent, 4).alias("entropy_bits"),
    )


def source_token_budget(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-mixture accounting in TOKENS (not documents): each
    source's token count and share of the corpus — the number that
    actually prices a mixture weight, since doc counts lie when doc
    lengths differ by source.  One explode pass with map-side combine
    into a |sources|-row aggregate; the total folds off that aggregate
    and broadcasts back."""
    from ..sources.loaders import fan_out

    per = (
        fan_out(docs.select("source", text_col))
        .select(F.col("source"), F.size(tokens(F.col(text_col))).cast("long").alias("nt"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").cast("double").alias("tt"))
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tt"), 6).alias("token_share"),
    )


def novelty_share(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc novelty: the fraction of a doc's distinct 3-word
    shingles whose FIRST corpus occurrence (by doc id order) is this
    doc — the marginal-contribution metric behind "does adding this
    document teach the model anything new", and the incremental form
    of dedup (novelty ~ 0 means the doc is stitched from seen text).

    Plan (round 9, guide §2.2): the former shape re-joined the FULL
    (doc, shingle) relation back onto the owner table on the shingle
    key just to test first_doc == doc_id — a corpus-sized exchange +
    sort-merge join.  But n_novel per doc is derivable from the OWNER
    table alone (group the min-doc owners by doc), and n_shingles is a
    doc-keyed count of the exploded relation — so the join collapses
    to two small aggregates over one checkpointed explode plus a
    doc-dimension join.  Exact integer counts; one f64 division."""
    from ..functions.text import word_shingles
    from ..sources.loaders import fan_out

    sh = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col))))
        ).alias("s"),
    ).localCheckpoint()
    owner = sh.groupBy("s").agg(F.min(id_col).alias("first_doc"))
    novel = owner.groupBy(F.col("first_doc").alias(id_col)).agg(
        F.count("*").cast("bigint").alias("_nn")
    )
    per_doc = sh.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    return per_doc.join(novel, id_col, "left").select(
        F.col(id_col),
        "n_shingles",
        F.coalesce(F.col("_nn"), F.lit(0)).cast("bigint").alias("n_novel"),
        F.round(
            F.coalesce(F.col("_nn"), F.lit(0))
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-word gram, slide a w-gram window, and
    keep the window minima — a position-robust fingerprint set whose
    density is guaranteed in [1/w, 2/(w+1)] for random text, far
    sparser than all-grams fingerprinting at equal match guarantee
    (any shared substring of >= w+k-1 words is caught).

    Plan: one positional explode, ONE shuffle by doc_id, a bounded
    ROWS window (w rows) local to each doc, then a per-doc fold —
    partitions by document, so it scales horizontally with corpus
    size.  All hashing is the cross-engine md5 gram hash; window
    minima over exact integers, so fingerprints are bit-identical in
    DuckDB.  Short docs (fewer than w grams) winnow the whole gram
    sequence (one fingerprint) rather than being dropped.

    Reference analog: none (`src/` has no text processing); this is
    north-star curation surface alongside novelty_share.
    """
    from ..functions.text import word_shingles
    from ..sources.loaders import fan_out

    grams = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(
            F.transform(word_shingles(tokens(F.col(text_col)), k), md5_int)
        ).alias("pos", "h"),
        (F.size(tokens(F.col(text_col))) - (k - 1)).alias("m"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = grams.withColumn("fp", F.min("h").over(win)).filter(
        F.col("pos") <= F.greatest(F.col("m") - w, F.lit(0))
    )
    return selected.groupBy(id_col).agg(
        F.max("m").cast("bigint").alias("n_grams"),
        F.count_distinct(F.col("fp")).cast("bigint").alias("n_fingerprints"),
        F.round(
            F.count_distinct(F.col("fp")) / F.max("m").cast("double"), 6
        ).alias("density"),
    )


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc average log-probability under an interpolated BIGRAM LM
    trained on the corpus itself — one LM order up from
    unigram_logprob, the next-cheapest perplexity-style quality gate
    (catches shuffled-word salads that unigram statistics cannot):
    p(w2|w1) = lam * c(w1 w2)/c(w1 ·) + (1-lam) * c(· w2)/N, all
    counts over the corpus bigram table (self-consistent conditional
    MLE with unigram-prior smoothing so unseen contexts never hit
    log 0 inside a doc — every doc bigram exists in the corpus table
    by construction, but the interpolation is what a held-out scorer
    would need).

    Plan: ONE tokenize pass builds the per-doc bigram occurrence table
    (the checkpointed compressed corpus — same rationale as
    unigram_logprob's tf table); conditional, prior, and total all
    fold off it with key-bounded shuffles (w1, w2); the per-doc score
    is one more join + groupBy.  ROUND 4 on the ln-average (libm
    last-ulp rule)."""
    from ..sources.loaders import fan_out

    toks = tokens(F.col(text_col))
    last = F.size(toks) - 2
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), last),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        fan_out(docs.select(id_col, text_col))
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    big = bg.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    ctx = bg.groupBy("w1").agg(F.sum("c").alias("c1"))
    nxt = bg.groupBy("w2").agg(F.sum("c").alias("c2"))
    total = bg.agg(F.sum("c").cast("double").alias("n_total"))
    p = (
        F.lit(lam) * (F.col("c12") / F.col("c1"))
        + F.lit(1.0 - lam) * (F.col("c2") / F.col("n_total"))
    )
    return (
        bg.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(nxt, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * F.log(p)) / F.sum("c"), 4).alias(
                "avg_logprob"
            ),
        )
    )


def prefix_boilerplate_groups(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shared-prefix boilerplate detector: documents opening with the
    same first-k tokens (scraped headers, license banners, template
    intros) — the cheapest dedup signal there is, and the one pass
    that catches boilerplate families whole-doc hashing splits apart.

    One groupBy on the md5 of the k-token prefix (computed in-scan),
    groups of size >= 2 kept; members aggregated as min/max doc id so
    the output is bounded per group.  Works on the planted corpus so
    the fixture has guaranteed families."""
    tk = tokens(F.col(text_col))
    prefix = F.concat_ws(" ", F.slice(tk, 1, k))
    per = docs.select(
        F.col(id_col),
        prefix.alias("prefix"),
    ).filter(F.size(tk) >= k)
    return (
        per.groupBy("prefix")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(id_col).cast("bigint").alias("first_doc"),
            F.max(id_col).cast("bigint").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("prefix")).alias("prefix_md5"),
            "n_docs",
            "first_doc",
            "last_doc",
        )
    )


PPL_BUCKET_WIDTH = 0.5


def perplexity_buckets(
    docs: DataFrame, width: float = PPL_BUCKET_WIDTH
) -> DataFrame:
    """Perplexity-bucket histogram for LM-quality filtering: docs
    binned by their unigram avg token log-probability into fixed-width
    bins (bucket = floor(avg_logprob / width)), with each bin's doc
    count and token share — the statistic behind 'drop the worst-ppl
    tail' gates.  Fixed edges, not quantiles: no global sort, and the
    bucket id is computed from the already-rounded score so both
    engines bin identically.  Builds on unigram_logprob's two-pass
    distributed LM; the histogram agg is a handful of groups."""
    scored = unigram_logprob(docs)
    tot = scored.agg(F.sum("n_tokens").cast("double").alias("_tt"))
    return (
        scored.withColumn(
            "bucket", F.floor(F.col("avg_logprob") / F.lit(width)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(F.col("bucket") * F.lit(width), 6).alias("lo_edge"),
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("_tt"), 6).alias(
                "token_share"
            ),
        )
    )


COVERAGE_POINTS = (10, 100, 1000)


def vocab_coverage_curve(
    docs: DataFrame,
    points: tuple[int, ...] = COVERAGE_POINTS,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: the token-mass fraction covered by
    the top-k most frequent types, at fixed k checkpoints — the
    vocabulary-size design statistic for tokenizers (how much of the
    corpus does a k-entry vocab explain).

    Plan: one tokenize+count shuffle builds the vocab; the global
    frequency rank comes from the two-phase range-partitioned rank
    (vocabulary grows with the corpus — no single-partition sort);
    each checkpoint folds the ranked table once via conditional
    sums in ONE aggregate."""
    from ..sources.loaders import fan_out
    from .ranking import ranked_global

    vocab = (
        fan_out(docs.select(text_col))
        .select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = ranked_global(
        vocab, [F.col("cnt").desc(), F.col("t").asc()], rank_name="rnk"
    )
    agg = ranked.agg(
        F.sum("cnt").cast("long").alias("_total"),
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias(f"_cov_{k}")
            for k in points
        ],
        *[
            F.sum(F.when(F.col("rnk") <= k, 1).otherwise(0))
            .cast("long")
            .alias(f"_ntypes_{k}")
            for k in points
        ],
    )
    stack_args = ", ".join(
        f"{k}, _ntypes_{k}, _cov_{k}" for k in points
    )
    return agg.selectExpr(
        "_total",
        f"stack({len(points)}, {stack_args}) AS (top_k, n_types, covered_tokens)",
    ).select(
        F.col("top_k").cast("int").alias("top_k"),
        "n_types",
        "covered_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("_total").cast("double"),
            6,
        ).alias("coverage"),
    )


NUCLEUS_P = 0.9
NUCLEUS_CONTEXTS = 5


def bigram_nucleus_audit(
    docs: DataFrame,
    p: float = NUCLEUS_P,
    n_contexts: int = NUCLEUS_CONTEXTS,
    text_col: str = "text",
) -> DataFrame:
    """Nucleus (top-p) sampling audit over the corpus bigram LM: for
    the most frequent context tokens, the size and probability mass of
    the smallest next-token set reaching cumulative mass p — the
    sampling-temperature design statistic (tiny nucleus = spiky
    distribution).

    Determinism: probabilities are ROUND-9 DECIMAL before the
    cumulative sum, so the running mass is an EXACT decimal fold —
    association-order-free.  A raw f64 cumsum is NOT engine-portable
    even in a fixed (prob desc, token asc) order: DuckDB's windowed
    SUM accumulates through a segment tree (pairwise association)
    while Spark folds sequentially, and the ulp disagreement flipped
    the `cum - pp < p` gate on data whose mass lands exactly on p
    (degenerate-fixture parity sweep, round 5).  Plan: one
    bigram-count shuffle; context selection is a k-row rank-limit;
    the per-context windows are |next-types| sized."""
    from ..sources.loaders import fan_out

    toks = tokens(F.col(text_col))
    bi = (
        fan_out(docs.select(text_col))
        .select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("ctx"), b.alias("nxt")),
                )
            ).alias("p")
        )
        .select("p.ctx", "p.nxt")
        .groupBy("ctx", "nxt")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    ctx_tot = bi.groupBy("ctx").agg(F.sum("c").alias("tot"))
    top_ctx = (
        ctx_tot.orderBy(F.col("tot").desc(), F.col("ctx").asc())
        .limit(n_contexts)
    )
    # pp in exact NANO-probabilities: round(c/tot, 9) computed as the
    # integer HALF_UP division (2*c*1e9 + tot) DIV (2*tot) — no double
    # is ever ROUNDed, so the tie-adjacent quantization class (Spark
    # HALF_UPs the shortest decimal repr, DuckDB scales the binary
    # value) cannot reappear; the windowed cumsum is an exact BIGINT
    # fold (c routed through DECIMAL(38,0) so c*1e9 cannot overflow
    # int64 at corpus scale)
    p_nanos = int(round(p * 1_000_000_000))
    scoped = bi.join(F.broadcast(top_ctx), "ctx").select(
        "ctx",
        "nxt",
        "tot",
        F.expr(
            "CAST((2 * CAST(c AS DECIMAL(38,0)) * 1000000000 + tot)"
            " DIV (2 * tot) AS BIGINT)"
        ).alias("pp"),
    )
    w = Window.partitionBy("ctx").orderBy(F.col("pp").desc(), F.col("nxt").asc())
    cum = scoped.withColumn(
        "cum", F.sum("pp").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        cum.groupBy("ctx")
        .agg(
            F.max("tot").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_next_types"),
            (F.sum(F.when(F.col("cum") - F.col("pp") < p_nanos, 1).otherwise(0)))
            .cast("long")
            .alias("nucleus_size"),
            F.max(
                F.when(F.col("cum") - F.col("pp") < p_nanos, F.col("cum"))
            ).alias("_mass_nanos"),
        )
        .select(
            "ctx",
            "n_occurrences",
            "n_next_types",
            "nucleus_size",
            # nano -> 6-dp mass, HALF_UP in integers, exact f64 finish
            (
                F.expr(
                    "CAST((2 * _mass_nanos + 1000) DIV 2000 AS BIGINT)"
                ).cast("double")
                / F.lit(1_000_000.0)
            ).alias("nucleus_mass"),
        )
    )


BPE_MERGE_ROUNDS = 3


def bpe_train_merges(
    docs: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> DataFrame:
    """Byte-pair-encoding MERGE TRAINING — the iterative half of the
    tokenizer pipeline (bpe_pair_stats is the one-shot census; this is
    the actual trainer loop): per round, count adjacent symbol pairs
    across the corpus weighted by word frequency, pick the most
    frequent pair (ties to the lexicographically smaller — fixed round
    count, never convergence), splice it into one symbol everywhere,
    repeat.  Returns the learned merge table (rank, left, right,
    merged, cnt) — the model, exactly what a BPE tokenizer ships.

    Words are encoded as ' c1  c2  ...  ck ' — TWO-space separators
    with single-space sentinels — so the literal pattern
    ' left  right ' marks symbol boundaries and adjacent occurrences
    each own one separator space; both engines' replace() scan
    leftmost-non-overlapping, which IS BPE's greedy merge order.

    Scale: each round is one aggregate over the (already tiny)
    distinct-word table — the corpus is scanned once ever, the loop
    runs on word-type rows (Zipf: ~1e6 types for 100 TB of text), and
    the driver only ever holds the single winning pair (a model
    parameter, like a k-means centroid)."""
    from ..functions.text import tokens

    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    enc = F.concat(
        F.lit(" "),
        F.array_join(
            F.expr(
                "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
            ),
            "  ",
        ),
        F.lit(" "),
    )
    cur = words.select(enc.alias("w"), "n").localCheckpoint()
    merges = []
    for r in range(1, rounds + 1):
        pair_list = F.expr(
            "CASE WHEN size(split(trim(w), '  ')) >= 2 THEN "
            "transform(sequence(1, size(split(trim(w), '  ')) - 1), "
            " i -> concat(element_at(split(trim(w), '  '), i), '  ', "
            "            element_at(split(trim(w), '  '), i + 1))) "
            "ELSE array() END"
        )
        top = (
            cur.select("n", F.explode(pair_list).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()[0]
        )
        left_sym, right_sym = top["pair"].split("  ")
        merged = left_sym + right_sym
        merges.append((r, left_sym, right_sym, merged, int(top["cnt"])))
        cur = cur.select(
            F.replace(
                F.col("w"),
                F.lit(f" {top['pair']} "),
                F.lit(f" {merged} "),
            ).alias("w"),
            "n",
        ).localCheckpoint()
    return local_frame(
        spark,
        merges,
        "rank int, left_sym string, right_sym string, merged string, cnt long",
    )


POSTINGS_K = 10


def inverted_postings(docs: DataFrame, k: int = POSTINGS_K) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the head of the postings list (first ``k`` doc ids,
    ascending) — the text-search twin of the vector index builds (the
    reference builds only vector indexes; a complete engine ships
    both).

    Scale: explode -> (term, doc) partial-aggregate -> one term
    shuffle; postings truncation keeps every output row bounded.  At
    100 TB the full postings would be written as a term-bucketed table
    instead of an inline array — this is the per-term head a query
    planner actually caches.

    The head is emitted as a comma-joined STRING (not array<long>):
    every declared query keeps a flat, hashable output schema so any
    row-wise canonicalizer (pandas sort_values included) can order it.
    """
    tk = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    per_doc = tk.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return per_doc.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, k).cast(
                "array<string>"
            ),
            ",",
        ).alias("postings_head"),
    )


PHRASE = ("table", "scan")


def phrase_search(
    docs: DataFrame, phrase: tuple[str, str] = PHRASE
) -> DataFrame:
    """Positional phrase query through the token-position index: the
    two posting lists join on (doc, pos+1 = pos) — how a search engine
    answers "exact phrase" without rescanning text.  Reports matching
    doc count and total occurrences.

    Scale: each side is pre-filtered to ONE term before the join, so
    the join is posting-list-sized; the shuffle key is doc_id."""
    w1, w2 = phrase
    tk = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "term"),
    )
    a = tk.filter(F.col("term") == w1).select("doc_id", F.col("pos").alias("p1"))
    b = tk.filter(F.col("term") == w2).select("doc_id", F.col("pos").alias("p2"))
    hits = a.join(b, "doc_id").filter(F.col("p2") == F.col("p1") + 1)
    return hits.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_occurrences"),
    )


def bpe_apply_encode(
    docs: DataFrame, rounds: int = BPE_MERGE_ROUNDS
) -> DataFrame:
    """Apply the trained BPE merge table — the tokenizer ENCODE step:
    every word type is re-encoded through the learned merges (the same
    two-space splice used in training), then per-source token
    accounting: whitespace tokens vs post-merge symbol count — the
    compression a tokenizer actually buys on this corpus.

    Scale: merges apply to the distinct-word table (Zipf-bounded), the
    corpus contributes one explode + one (source, word) aggregate; the
    word->symbol-count map joins back on the word key."""
    from ..functions.text import tokens

    model = [
        (r["left_sym"], r["right_sym"], r["merged"])
        for r in bpe_train_merges(docs, rounds).orderBy("rank").collect()
    ]
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word")).distinct()
    )
    enc = F.concat(
        F.lit(" "),
        F.array_join(
            F.expr(
                "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
            ),
            "  ",
        ),
        F.lit(" "),
    )
    w = enc
    for left_sym, right_sym, merged in model:
        w = F.replace(
            w, F.lit(f" {left_sym}  {right_sym} "), F.lit(f" {merged} ")
        )
    word_syms = words.select(
        "word", F.size(F.split(F.trim(w), "  ")).alias("n_syms")
    )
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("word")
    )
    return (
        tok.join(word_syms, "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("n_syms").cast("long").alias("n_symbols"),
            F.round(
                F.sum("n_syms") / F.count("*").cast("double"), 6
            ).alias("avg_symbols_per_token"),
        )
    )


RM3_FEEDBACK_DOCS = 3
RM3_EXPANSION_K = 5


def rm3_expansion(
    docs: DataFrame,
    query_terms: list[str],
    n_feedback: int = RM3_FEEDBACK_DOCS,
    k: int = RM3_EXPANSION_K,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite): run BM25,
    take the top ``n_feedback`` docs, weight every non-query term by
    sum over those docs of (tf/doclen) * bm25_score, return the top
    ``k`` expansion terms — the classic automatic query-expansion loop
    of a retrieval pipeline.

    Scale: the feedback set is k-sized, so everything after the BM25
    ranking is a broadcast join against a handful of doc ids; the
    expansion weights aggregate term-keyed."""
    top = bm25_search(docs, query_terms, n_feedback).select(
        "doc_id", F.col("score").cast("double").alias("s")
    )
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        toks.join(F.broadcast(top), "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("s").alias("s"))
    )
    w = (
        tf.join(F.broadcast(dl.join(top.select("doc_id"), "doc_id")), "doc_id")
        .filter(~F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(
            F.round(
                F.sum(
                    F.col("tf").cast("double") / F.col("dl") * F.col("s")
                ),
                6,
            ).alias("weight")
        )
    )
    return w.orderBy(F.col("weight").desc(), F.col("term").asc()).limit(k)


KWIC_TERM = "vector"
KWIC_WINDOW = 2  # words of context each side


def kwic_snippets(
    docs: DataFrame, term: str = KWIC_TERM, window: int = KWIC_WINDOW
) -> DataFrame:
    """Keyword-in-context (KWIC) snippet extraction — the search-result
    highlighting step: for each doc containing ``term``, the tokens
    around its FIRST occurrence (deterministic), joined back to the
    token array with an index-window slice.  No text rescan: positions
    come from the positional explode, the snippet from one array
    slice.

    Scale: position filter before any join; one doc-keyed join of the
    (term-posting-sized) first-occurrence table against the token
    arrays."""
    tk_arr = tokens(F.col("text"))
    base = docs.select("doc_id", tk_arr.alias("tk"))
    pos = (
        base.select(
            "doc_id", F.posexplode("tk").alias("pos", "term")
        )
        .filter(F.col("term") == term)
        .groupBy("doc_id")
        .agg(F.min("pos").alias("p"))  # 0-based first occurrence
    )
    start = F.greatest(F.col("p") + 1 - window, F.lit(1))  # slice is 1-based
    length = F.col("p") + 1 + window - start + 1
    return (
        base.join(pos, "doc_id")
        .select(
            "doc_id",
            F.col("p").cast("int").alias("first_pos"),
            F.array_join(
                F.slice(F.col("tk"), start, length), " "
            ).alias("snippet"),
        )
    )


def zlib_ratio_quality(docs: DataFrame) -> DataFrame:
    """Compression-ratio quality signal (the Gopher-style heuristic:
    machine-generated/repetitive text compresses far better than
    natural prose): per source, mean and extremes of
    deflate(bytes)/bytes over an Arrow-batched zlib kernel
    (mapInArrow — the bytes never leave the worker, one Python pass).

    Declared rows-only: the exact deflate byte count is a zlib
    implementation detail no SQL oracle can replay; the invariants
    (repetitive text compresses harder; ratios in (0, ~1.1)) are
    pytest-held instead."""
    import zlib

    from ..sources.loaders import map_in_arrow

    def kernel(batch):
        ratios, lens = [], []
        for t in batch.column("text").to_pylist():
            raw = (t or "").encode("utf-8")
            lens.append(len(raw))
            ratios.append(len(zlib.compress(raw, 6)) / len(raw) if raw else None)
        return [batch.column("source"), ratios, lens]

    per_doc = map_in_arrow(
        docs.select("source", "text"),
        kernel,
        "source string, ratio double, n_bytes long",
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("ratio"), 6).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
    )


def hapax_ratio(docs: DataFrame) -> DataFrame:
    """Vocabulary-richness profile per source: hapax share (terms seen
    exactly once / vocabulary size) and type-token ratio — the corpus
    statistics that flag template spam (low) vs diverse prose (high).
    One tokenize pass, one (source, term) aggregate."""
    tk = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    per_term = tk.groupBy("source", "term").agg(F.count("*").alias("n"))
    return per_term.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("n") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.round(
            F.sum((F.col("n") == 1).cast("long")) / F.count("*").cast("double"),
            6,
        ).alias("hapax_share"),
        F.round(F.count("*") / F.sum("n").cast("double"), 6).alias(
            "type_token_ratio"
        ),
    )


JS_SOURCES = ("src1", "src4")


def js_divergence(
    docs: DataFrame, sources: tuple[str, str] = JS_SOURCES
) -> DataFrame:
    """Jensen-Shannon divergence between two sources' term
    distributions — the symmetric, bounded corpus-drift metric (0 =
    identical mixtures, ln 2 = disjoint): per-term probabilities from
    exact counts, JS = 0.5*KL(p||m) + 0.5*KL(q||m) with m the
    midpoint, each term's contribution rounded-9 DECIMAL so the sum is
    order-exact.  Vocabulary-bounded after one tokenize pass."""
    s_a, s_b = sources
    tk = docs.filter(F.col("source").isin(s_a, s_b)).select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = tk.groupBy("term").agg(
        F.sum((F.col("source") == s_a).cast("long")).alias("c_a"),
        F.sum((F.col("source") == s_b).cast("long")).alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").cast("double").alias("_ta"),
        F.sum("c_b").cast("double").alias("_tb"),
    )
    p = F.col("c_a") / F.col("_ta")
    q_ = F.col("c_b") / F.col("_tb")
    m = (p + q_) / 2
    kl_p = F.when(F.col("c_a") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(F.col("c_b") > 0, q_ * F.log(q_ / m)).otherwise(F.lit(0.0))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        F.round(F.lit(0.5) * kl_p + F.lit(0.5) * kl_q, 9)
        .cast("decimal(20,9)")
        .alias("_t")
    )
    n_terms = counts.agg(F.count("*").cast("long").alias("n_shared_vocab"))
    return terms.agg(
        F.round(F.sum("_t").cast("double"), 6).alias("js_divergence")
    ).crossJoin(F.broadcast(n_terms)).select(
        F.lit(s_a).alias("source_a"),
        F.lit(s_b).alias("source_b"),
        "n_shared_vocab",
        "js_divergence",
        F.round(F.col("js_divergence") / F.lit(0.6931471805599453), 6).alias(
            "normalized"
        ),
    )


PERCOLATE_QUERIES = (
    ("q_table_scan", ("table", "scan")),
    ("q_hash_join", ("hash", "join")),
    ("q_sort_merge", ("sort", "merge")),
    ("q_stream_window", ("stream", "window")),
)


def saved_search_percolate(docs: DataFrame) -> DataFrame:
    """Percolation (reverse search): STORED queries are matched against
    the document stream instead of documents against a query — the
    saved-search/alerting shape.  Each stored query is an AND of
    terms; a doc fires it when it contains every term.  Reports per
    stored query the firing-doc count.

    Scale: the stored-query term table broadcasts (queries are tiny);
    one tokenize pass, the (doc, query) match aggregates count
    DISTINCT matched terms and keep rows hitting the query's arity —
    no per-query rescan of the corpus."""
    spark = docs.sparkSession
    qrows = [
        (name, term, len(terms))
        for name, terms in PERCOLATE_QUERIES
        for term in terms
    ]
    qterms = local_frame(spark, qrows, "query_name string, term string, arity int")
    tk = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    fired = (
        tk.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "query_name", "arity")
        .agg(F.count("*").alias("_hits"))
        .filter(F.col("_hits") == F.col("arity"))
    )
    counts = fired.groupBy("query_name").agg(
        F.count("*").cast("long").alias("n_docs_fired")
    )
    all_q = local_frame(
        spark, [(name,) for name, _ in PERCOLATE_QUERIES], "query_name string"
    )
    return all_q.join(counts, "query_name", "left").select(
        "query_name",
        F.coalesce(F.col("n_docs_fired"), F.lit(0)).cast("long").alias(
            "n_docs_fired"
        ),
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def pmi_bigrams(
    docs: DataFrame, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOP_K
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs with PMI = ln(p(ab) / (p(a)p(b))) over the corpus, floored
    at ``min_count`` occurrences (rare-pair PMI explodes) — the
    phrase-discovery pass a tokenizer or query-suggester runs.

    One tokenize pass feeds both the unigram and bigram aggregates;
    probabilities are exact-count ratios, PMI rounded 6."""
    tk = docs.select(tokens(F.col("text")).alias("tk"))
    uni = (
        tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    n_uni = uni.agg(F.sum("cw").cast("double").alias("_nu"))
    pairs = tk.select(
        F.explode(
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN "
                "transform(sequence(1, size(tk) - 1), "
                " i -> struct(element_at(tk, i) AS w1, "
                "            element_at(tk, i + 1) AS w2)) "
                "ELSE array() END"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cp"))
    n_big = big.agg(F.sum("cp").cast("double").alias("_nb"))
    ua = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    pmi = F.log(
        (F.col("cp") / F.col("_nb"))
        / ((F.col("c1") / F.col("_nu")) * (F.col("c2") / F.col("_nu")))
    )
    return (
        big.filter(F.col("cp") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            F.col("cp").cast("long").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


BURST_MIN_DF = 10
BURST_TOP_K = 15


def term_burstiness(
    docs: DataFrame, min_df: int = BURST_MIN_DF, k: int = BURST_TOP_K
) -> DataFrame:
    """Church-Gale term burstiness: for each term (df >= ``min_df``),
    the variance/mean ratio of its per-document counts over the docs
    that CONTAIN it — a bursty term (ratio >> 1, e.g. keyword
    stuffing, boilerplate) clusters its occurrences; a well-behaved
    content word stays near 1.  Exact integer power sums; top-k by
    burstiness with deterministic tiebreaks.

    One tokenize pass -> (term, doc) counts -> term-keyed moments."""
    tk = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    per_doc = tk.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    g = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("c").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("df").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        n - F.lit(1.0)
    )
    return (
        g.filter(F.col("df") >= min_df)
        .select(
            "term",
            "df",
            F.round(mean, 6).alias("mean_tf"),
            F.round(var / mean, 6).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), F.col("term").asc())
        .limit(k)
    )


CODE_SYMBOL_TAU = 0.02  # symbol-density threshold for the code gate


def code_detect(docs: DataFrame, tau: float = CODE_SYMBOL_TAU) -> DataFrame:
    """Code-vs-prose gate: per-source share of code-like documents by
    structural-symbol density (the {}();=<> characters prose barely
    uses) — the curation switch that routes code into its own mixture
    bucket (or drops it) before LM training.

    Everything is JVM expressions on one scan: symbol count = length
    minus the symbol-stripped length (no per-row Python); per-source
    aggregate is |sources| rows.  The threshold is the measured knob —
    pair with a planted-corpus test, not a tuned constant."""
    n_chars = F.length("text")
    symbols = n_chars - F.length(F.regexp_replace("text", "[{}();=<>]", ""))
    per = docs.select(
        "source",
        symbols.cast("double").alias("_sym"),
        n_chars.cast("double").alias("_len"),
    ).withColumn(
        "_ratio",
        F.when(F.col("_len") > 0, F.col("_sym") / F.col("_len")).otherwise(0.0),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_ratio") > tau, 1).otherwise(0))
        .cast("long")
        .alias("n_code"),
        F.round(
            F.sum(F.when(F.col("_ratio") > tau, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("code_share"),
        F.round(F.sum("_sym") / F.sum("_len"), 6).alias("symbol_density"),
    )


TEXTRANK_VOCAB = 200  # graph restricted to the top-V corpus vocabulary
TEXTRANK_ITERS = 3  # fixed power iterations — deterministic, unrollable
TEXTRANK_DAMPING = 0.85
TEXTRANK_TOPK = 20


def textrank_keywords(
    docs: DataFrame,
    vocab: int = TEXTRANK_VOCAB,
    iters: int = TEXTRANK_ITERS,
    damping: float = TEXTRANK_DAMPING,
    topk: int = TEXTRANK_TOPK,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction: damped PageRank over the corpus
    co-occurrence graph (adjacent-token pairs, symmetrized, self-loops
    dropped), restricted to the top-``vocab`` tokens by frequency —
    centrality-based keywords instead of raw counts (a term that
    co-occurs with many distinct central terms outranks a merely
    frequent one).

    Scale: bigrams are built inside the scan (zip_with on shifted
    slices, no UDF); ONE shuffle aggregates corpus edge weights; the
    vocabulary cap bounds the graph at |V| nodes / |V|² edges no matter
    the corpus size, so the ``iters`` power iterations (per-iteration
    ROUND 8, same determinism contract as nation_trade_pagerank) run on
    a checkpointed constant-size table."""
    from ..functions.text import tokens
    from ..sources.loaders import fan_out

    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, sz - 1),
        F.slice(toks, 2, sz - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    guarded = F.when(sz >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )
    base = fan_out(docs.select(text_col))
    adj = base.select(F.explode(guarded).alias("p")).select("p.a", "p.b")
    tok_counts = (
        base.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab_df = (
        tok_counts.orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(vocab)
        .select("token")
        .localCheckpoint()
    )
    sym = adj.unionByName(
        adj.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).filter(F.col("a") != F.col("b"))
    edges = (
        sym.join(F.broadcast(vocab_df), sym.a == vocab_df.token, "left_semi")
        .join(F.broadcast(vocab_df), F.col("b") == vocab_df.token, "left_semi")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("a").agg(F.sum("w").alias("wout"))
    trans = (
        edges.join(outw, "a")
        .select("a", "b", (F.col("w").cast("double") / F.col("wout")).alias("p"))
        .localCheckpoint()
    )
    nodes = vocab_df.select(F.col("token").alias("node"))
    n_nodes = nodes.count()
    rank = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    base_r = (1.0 - damping) / n_nodes
    for _ in range(iters):
        contrib = (
            trans.join(rank, trans.a == rank.node)
            .groupBy("b")
            .agg(F.sum(F.col("p") * F.col("r")).alias("inflow"))
        )
        rank = nodes.join(F.broadcast(contrib), nodes.node == contrib.b, "left").select(
            "node",
            F.round(
                F.lit(base_r)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                8,
            ).alias("r"),
        )
    return (
        rank.orderBy(F.col("r").desc(), F.col("node").asc())
        .limit(topk)
        .select(F.col("node").alias("token"), F.round("r", 6).alias("textrank"))
    )


HASH_EMBED_DIM = 64
HASH_EMBED_QUERY = "system error rate under load"
HASH_EMBED_K = 10


def hash_embedding(text_col) -> F.Column:
    """Signed-hashing-trick DENSE text embedding: token t contributes
    +/-1 (simhash-style sign bit, floor(h/dim) % 2) to dimension
    h % dim — the deterministic, vocabulary-free feature-hash encoder
    (Weinberger et al.) as a per-row nested-HOF expression.  Integer
    components, so downstream dot/norm arithmetic is EXACT and
    oracle-checkable — the stub-free counterpart of a learned text
    encoder with identical plumbing."""
    from ..functions.text import md5_int, tokens

    hs = F.transform(tokens(text_col), md5_int)
    d = HASH_EMBED_DIM
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda dim: F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                h % d == dim,
                F.lit(2) * ((F.floor(h / d).cast("long")) % 2) - 1,
            ).otherwise(0),
        ),
    )


def hash_embed_search(
    docs: DataFrame,
    query_text: str = HASH_EMBED_QUERY,
    k: int = HASH_EMBED_K,
) -> DataFrame:
    """Dense retrieval over the hashing-trick embedding: the query
    string is encoded with the SAME expression as every document (no
    model artifact, no vocabulary), ranked by exact-integer cosine —
    text-to-vector search whose scores hash-match the DuckDB oracle.

    Plan (linear, no per-dim corpus scans): token contributions explode
    once — (doc, dim = h % D, sign) — and ONE (doc, dim) aggregate
    yields the sparse vectors; dot and norms come from that table
    joined against the broadcast 64-row query-dimension table, so the
    cost is O(total tokens), not O(dims x tokens) of the naive per-row
    hash_embedding() expression (kept above as the semantic
    reference).  Identical integers, identical cosine.  Top-k is a
    TakeOrdered heap on (cos desc, doc_id)."""
    from ..functions.text import md5_int, tokens

    d = HASH_EMBED_DIM

    def contribs(df, id_col):
        h = md5_int(F.col("_tok"))
        return (
            df.select(id_col, F.explode(tokens(F.col("text"))).alias("_tok"))
            .select(
                id_col,
                (h % d).alias("_dim"),
                (F.lit(2) * ((F.floor(h / d).cast("long")) % 2) - 1).alias("_s"),
            )
            .groupBy(id_col, "_dim")
            .agg(F.sum("_s").alias("_w"))
        )

    spark = docs.sparkSession
    qc = F.broadcast(
        contribs(
            spark.range(1).select("id", F.lit(query_text).alias("text")), "id"
        ).select(F.col("_dim"), F.col("_w").alias("_qw"))
    )
    nq = F.broadcast(
        qc.agg(F.sum(F.col("_qw") * F.col("_qw")).alias("_nq"))
    )
    dc = contribs(docs, "doc_id")
    per_doc = (
        dc.join(qc, "_dim", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("_w") * F.coalesce(F.col("_qw"), F.lit(0))).alias("_dot"),
            F.sum(F.col("_w") * F.col("_w")).alias("_nv"),
        )
    )
    scored = per_doc.crossJoin(nq).select(
        "doc_id",
        F.round(
            F.try_divide(
                F.col("_dot").cast("double"),
                F.nullif(
                    F.sqrt(F.col("_nv").cast("double") * F.col("_nq").cast("double")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("cos"),
    )
    return (
        scored.filter(F.col("cos").isNotNull())
        .orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def sentence_stats(docs: DataFrame) -> DataFrame:
    """Sentence-grain text profile per source: sentences per doc and
    mean sentence length in words — the readability/fragmentation
    signal token- and char-level stats miss (OCR debris shows up as
    one-word 'sentences'; run-on boilerplate as 200-word ones).

    Segmentation is the deterministic [.!?]+ split (identical regex in
    both engines); all counting stays in scan-stage array expressions,
    aggregated per source."""
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), "[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    n_sent = F.size(sents)
    n_words = F.size(
        F.filter(F.split(F.col("text"), "\\s+"), lambda w: w != "")
    )
    per = docs.select(
        "source",
        n_sent.cast("long").alias("_ns"),
        n_words.cast("long").alias("_nw"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ns").cast("long").alias("n_sentences"),
        F.round(F.sum("_ns") / F.count(F.lit(1)), 6).alias("sentences_per_doc"),
        F.round(
            F.try_divide(F.sum("_nw"), F.nullif(F.sum("_ns"), F.lit(0))), 6
        ).alias("words_per_sentence"),
    )


LSA_VOCAB = 150
LSA_ITERS = 2
LSA_TOPK = 20


def lsa_power_iteration(
    docs: DataFrame,
    vocab: int = LSA_VOCAB,
    iters: int = LSA_ITERS,
    topk: int = LSA_TOPK,
) -> DataFrame:
    """Distributed LSA step: power iteration of AᵀA on the tf-idf
    term-document matrix — the dominant singular direction, i.e. the
    corpus's strongest topic axis, reported as its top term loadings.
    The text-side sibling of embedding_pca_power_iter: same fixed
    deterministic iteration recipe, but the matrix is the sparse
    (doc, term, w) table, so each half-step is a JOIN + aggregate, not
    a dense fold.

    Determinism contract: idf and every product term are ROUNDed (6/9)
    then summed as DECIMAL(38,12) so no f64 sum crosses a shuffle; the
    loading vector is renormalized (ROUND 8) after every iteration.
    tf-idf weights are nonnegative, so the iterate needs no sign fix.

    Scale: tf is one (doc, term) aggregate; the vocabulary cap bounds
    the model state at |V| rows; each iteration is two broadcast joins
    against that |V|-row vector + two aggregates keyed on doc / term."""
    from ..functions.text import tokens

    base = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tf = base.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    vdf = (
        dfreq.orderBy(F.col("df").desc(), F.col("t").asc())
        .limit(vocab)
        .select(
            "t",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("idf"),
        )
        .localCheckpoint()
    )
    w = (
        tf.join(F.broadcast(vdf), "t")
        .select("doc_id", "t", (F.col("tf") * F.col("idf")).alias("w"))
        .localCheckpoint()
    )

    def t9(c):
        return F.round(c, 9).cast("decimal(38,12)")

    v = vdf.select("t", F.lit(1.0).alias("v"))
    for _ in range(iters):
        s = (
            w.join(F.broadcast(v), "t")
            .groupBy("doc_id")
            .agg(F.sum(t9(F.col("w") * F.col("v"))).alias("_s"))
            .select("doc_id", F.col("_s").cast("double").alias("s"))
        )
        u = (
            w.join(s, "doc_id")
            .groupBy("t")
            .agg(F.sum(t9(F.col("w") * F.col("s"))).alias("_u"))
            .select("t", F.col("_u").cast("double").alias("u"))
        )
        norm = u.agg(
            F.sqrt(F.sum(t9(F.col("u") * F.col("u"))).cast("double")).alias("_n")
        )
        v = (
            u.crossJoin(F.broadcast(norm))
            .select("t", F.round(F.col("u") / F.col("_n"), 8).alias("v"))
            .localCheckpoint()
        )
    return (
        v.orderBy(F.col("v").desc(), F.col("t").asc())
        .limit(topk)
        .select(F.col("t").alias("term"), F.round("v", 6).alias("loading"))
    )


def source_language_entropy(docs: DataFrame) -> DataFrame:
    """Language-MIX purity per source: the Shannon entropy (bits) of
    the predicted-language distribution, the dominant language, and
    its share — the mixture-design read ('is this crawl slice
    monolingual?') built on the same deterministic profile-word
    classifier as the confusion matrix.

    One classify scan (integer argmax in-expression), one
    (source, predicted) aggregate; entropy terms are rounded-log2
    DECIMAL folds over <= |langs|+1 cells per source."""
    pred = langid_predict(docs.withColumn("lang", F.lit("")), id_col="source")
    cells = (
        pred.groupBy(F.col("source"), F.col("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    tot = cells.groupBy("source").agg(F.sum("n").alias("nt"))
    top = cells.withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("n").desc(), F.col("predicted").asc()
            )
        ),
    ).filter(F.col("_r") == 1).select(
        "source",
        F.col("predicted").alias("dominant_lang"),
        F.col("n").alias("_dn"),
    )
    ent = (
        cells.join(tot, "source")
        .select(
            "source",
            F.round(
                (F.col("n") / F.col("nt")) * F.log2(F.col("n") / F.col("nt")), 9
            )
            .cast("decimal(38,12)")
            .alias("_t"),
        )
        .groupBy("source")
        .agg((-F.sum("_t")).alias("_h"))
    )
    return (
        tot.join(F.broadcast(top), "source")
        .join(F.broadcast(ent), "source")
        .select(
            "source",
            F.col("nt").cast("long").alias("n_docs"),
            "dominant_lang",
            F.round(F.col("_dn") / F.col("nt"), 6).alias("dominant_share"),
            F.round(F.col("_h").cast("double"), 6).alias("lang_entropy_bits"),
        )
    )


GATE_MIN_TOKENS = 10
GATE_MAX_TOKENS = 5000
GATE_MIN_STOP = 0.02
GATE_MAX_SYMBOL = 0.02
GATE_MAX_TOP_TOKEN = 0.2


def quality_gate(docs: DataFrame) -> DataFrame:
    """COMPOSITE quality gate — the C4/Gopher-style SHIP-IT filter that
    the individual audits feed: five deterministic rules per document
    (token-count band, function-word floor, structural-symbol ceiling,
    single-token-repetition ceiling, non-empty), a doc passes only if
    ALL hold.  Reported per source: pass rate + per-rule failure
    counts, so a failing slice names WHICH rule to tune rather than
    just a number.

    One scan computes every signal in-expression; the aggregate is
    |sources| rows with six conditional sums."""
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_char = F.length("text")
    n_stop = _count_in(toks, LANG_PROFILES["en"])
    symbols = n_char - F.length(F.regexp_replace("text", "[{}();=<>]", ""))
    # max single-token count via a LINEAR fold over the sorted array
    # (the distinct x filter formulation is O(tokens²) interpreted —
    # the HOF trap)
    st = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_tok = st["best"].cast("long")
    r_len = (n_tok >= GATE_MIN_TOKENS) & (n_tok <= GATE_MAX_TOKENS)
    r_stop = F.when(n_tok > 0, n_stop / n_tok >= GATE_MIN_STOP).otherwise(False)
    r_sym = F.when(
        n_char > 0, symbols / n_char.cast("double") <= GATE_MAX_SYMBOL
    ).otherwise(True)
    r_rep = F.when(
        n_tok > 0, top_tok / n_tok.cast("double") <= GATE_MAX_TOP_TOKEN
    ).otherwise(False)
    r_nonempty = n_char > 0
    passes = r_len & r_stop & r_sym & r_rep & r_nonempty
    per = docs.select(
        "source",
        r_len.alias("_l"),
        r_stop.alias("_s"),
        r_sym.alias("_y"),
        r_rep.alias("_r"),
        r_nonempty.alias("_e"),
        passes.alias("_p"),
    )

    def fails(c, name):
        return F.sum((~F.col(c)).cast("long")).cast("long").alias(name)

    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("_p").cast("long")).cast("long").alias("n_pass"),
        F.round(F.sum(F.col("_p").cast("long")) / F.count(F.lit(1)), 6).alias(
            "pass_rate"
        ),
        fails("_l", "fail_length"),
        fails("_s", "fail_stopword"),
        fails("_y", "fail_symbols"),
        fails("_r", "fail_repetition"),
        fails("_e", "fail_empty"),
    )


OOV_VOCAB = 1000


def source_oov_rate(docs: DataFrame, vocab: int = OOV_VOCAB) -> DataFrame:
    """OUT-OF-VOCABULARY audit per source: the share of token
    occurrences (and of distinct types) falling outside the corpus's
    top-``vocab`` vocabulary — the tokenizer-fit read that decides
    whether a fixed vocab trained on this mixture will shred a given
    slice into unknowns.

    One token count feeds both the vocabulary (TakeOrdered cap) and
    the per-source occurrence table; OOV membership is one broadcast
    anti-semi pair of joins against the |vocab|-row list."""
    from ..functions.text import tokens

    occ = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    vocab_df = (
        occ.groupBy("t")
        .agg(F.sum("n").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("t").asc())
        .limit(vocab)
        .select("t")
        .localCheckpoint()
    )
    flagged = occ.join(
        F.broadcast(vocab_df.withColumn("_in", F.lit(1))), "t", "left"
    )
    return flagged.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_oov_tokens"),
        F.round(
            F.sum(F.when(F.col("_in").isNull(), F.col("n")).otherwise(0))
            / F.sum("n"),
            6,
        ).alias("oov_token_rate"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov_types"),
        F.round(
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("oov_type_rate"),
    )


CHARGRAM_TOP = 20


def _char_trigram_rows(docs: DataFrame, cols: list[str]) -> DataFrame:
    """(cols..., g) rows: overlapping character trigrams of
    lower(text).  Positions explode FIRST and each gram is ONE codegen
    substr over the projected string attribute — measured ~20x faster
    than the transform(sequence, substr) HOF form, whose lambda
    re-evaluates the outer lower(text) expression per element
    (O(len^2) per doc).  Docs shorter than 3 chars drop (empty
    position array), same as the HOF form."""
    base = docs.select(*cols, F.lower(F.col("text")).alias("_lt"))
    pos = F.when(
        F.length("_lt") >= 3, F.sequence(F.lit(1), F.length("_lt") - 2)
    ).otherwise(F.array().cast("array<int>"))
    return base.select(*cols, "_lt", F.explode(pos).alias("_i")).select(
        *cols, F.expr("substr(_lt, _i, 3)").alias("g")
    )


def chargram_langid_agreement(docs: DataFrame, top: int = CHARGRAM_TOP) -> DataFrame:
    """SECOND language classifier + agreement audit: character-trigram
    profiles TRAINED FROM THE LABELED DATA (top-``top`` trigrams per
    declared lang — the Cavnar-Trenkle recipe) classify every doc;
    the output is the agreement matrix against the word-profile
    classifier.  Two independent weak classifiers agreeing is the
    standard trick for trusting silver labels at 100 TB — the cells
    where they DISAGREE are the review queue.

    Plan: trigram explode is linear in chars; profiles are a
    |langs| x top broadcast; classification is one join + per-doc
    argmax AGGREGATE (round 9, guide §2: min over (-hits, plang)
    structs replaces the row_number window — same hits-desc,
    plang-asc tie order, no per-doc sort); the word classifier is a
    pure per-row expression, so it rides the JOIN SPINE directly —
    one doc_id join instead of the former docs->best and cg->word
    pair; the matrix is a tiny aggregate."""
    doc_grams = _char_trigram_rows(docs, ["doc_id", "lang"]).localCheckpoint()
    lang_counts = doc_grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("g").asc())
    profiles = (
        lang_counts.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= top)
        .select(F.col("lang").alias("plang"), "g")
        .localCheckpoint()
    )
    scores = (
        doc_grams.join(F.broadcast(profiles), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # argmax(hits desc, plang asc) == min over (-hits, plang) structs:
    # exact-integer, deterministic — row-for-row the window's r=1 pick
    best = scores.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("hits")).alias("_nh"), F.col("plang").alias("_p"))
        )["_p"].alias("cg")
    )
    word = langid_predict(docs).select(
        "doc_id", F.col("predicted").alias("wd")
    )
    return (
        word.join(best, "doc_id", "left")
        .groupBy(
            F.coalesce(F.col("cg"), F.lit("unk")).alias("chargram_pred"),
            F.col("wd").alias("word_pred"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("agree", F.col("chargram_pred") == F.col("word_pred"))
    )


SPECTRUM_TOP = 15


def vocab_frequency_spectrum(docs: DataFrame, top: int = SPECTRUM_TOP) -> DataFrame:
    """Frequency-of-frequencies SPECTRUM: how many vocabulary types
    occur exactly k times — the Good-Turing input table.  Each row
    carries the spectrum count n_k plus the corpus-level readouts the
    spectrum exists for: the singleton share of the vocabulary
    (hapax rate — high = vocab still growing) and the Good-Turing
    unseen-mass estimate P0 = n_1/N (the probability the NEXT token is
    a brand-new type — the number that sizes vocab headroom).

    One token count, one count-of-counts aggregate; the ``top``
    SMALLEST occupied k values reported (a synthetic corpus may have
    no literal singletons — the spectrum head is wherever the rare
    tail actually starts)."""
    from ..functions.text import tokens

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    spectrum = counts.groupBy("c").agg(F.count(F.lit(1)).alias("n_types"))
    totals = counts.agg(
        F.count(F.lit(1)).cast("long").alias("_v"),
        F.sum("c").cast("long").alias("_n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("_n1"),
    )
    return (
        spectrum.orderBy(F.col("c").asc())
        .limit(top)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("c").cast("long").alias("k"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("_v").alias("vocab_size"),
            F.col("_n").alias("n_tokens"),
            F.round(F.col("_n1") / F.col("_v"), 6).alias("hapax_share"),
            F.round(F.col("_n1") / F.col("_n"), 6).alias("good_turing_p0"),
        )
    )


# -- URL parsing / normalization --------------------------------------------

URL_PATH_MOD = 50  # path bucket, so normalization genuinely collapses dups
URL_REF_MOD = 7  # the one query param normalization must KEEP
URL_FRAG_MOD = 3  # fragment variants normalization must DROP
URL_PORT_MOD = 5  # every 5th URL carries an explicit default :443 port


def doc_urls(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc crawl URL (the fixtures ship no URL
    column): mixed-case WWW host from ``source``, an explicit default
    port on every {URL_PORT_MOD}th doc, a bucketed path, utm_* tracking
    params around one meaningful ``ref`` param, and a fragment — every
    hazard a URL normalizer must handle, reproducible in the oracle."""
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("https://WWW."),
            F.upper("source"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % URL_PORT_MOD == 0, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/docs/"),
            F.col("lang"),
            F.lit("/"),
            (F.col("doc_id") % URL_PATH_MOD).cast("string"),
            F.lit("?utm_source=feed&ref="),
            (F.col("doc_id") % URL_REF_MOD).cast("string"),
            F.lit("&utm_campaign=x#sec"),
            (F.col("doc_id") % URL_FRAG_MOD).cast("string"),
        ).alias("url"),
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL form via Spark's JVM ``parse_url``: lowercase
    host, leading ``www.`` and explicit port stripped (HOST already
    excludes the port), fragment dropped, query params sorted with
    ``utm_*`` tracking params removed — the crawl-dedup key."""
    host = F.regexp_replace(
        F.lower(F.parse_url(url, F.lit("HOST"))), r"^www\.", ""
    )
    kept = F.array_sort(
        F.filter(
            F.split(F.parse_url(url, F.lit("QUERY")), "&"),
            lambda p: ~p.startswith("utm_"),
        )
    )
    return F.concat(
        host,
        F.parse_url(url, F.lit("PATH")),
        F.lit("?"),
        F.array_join(kept, "&"),
    )


def url_normalize_audit(docs: DataFrame) -> DataFrame:
    """Per-domain URL-canonicalization audit: raw-distinct vs
    normalized-distinct URL counts and the share of raw variants the
    normalizer collapses (tracking params / fragments / case / default
    ports), plus how many carried an explicit port.

    Scale: URL build + parse + normalize are all JVM string
    expressions in one projection (no UDF); the audit is ONE
    domain-keyed aggregate with two distinct-counts — at crawl scale
    swap the exact distincts for approx_count_distinct without
    touching the normalizer."""
    u = doc_urls(docs)
    norm = u.select(
        "url",
        normalize_url(F.col("url")).alias("norm_url"),
        F.regexp_replace(
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
        ).alias("domain"),
    )
    return (
        norm.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("url").cast("long").alias("n_raw_distinct"),
            F.countDistinct("norm_url").cast("long").alias("n_norm_distinct"),
            F.sum(F.col("url").contains(":443").cast("int"))
            .cast("long")
            .alias("n_port_urls"),
        )
        .select(
            "domain",
            "n_urls",
            "n_raw_distinct",
            "n_norm_distinct",
            "n_port_urls",
            F.round(
                F.lit(1.0)
                - F.col("n_norm_distinct").cast("double")
                / F.col("n_raw_distinct").cast("double"),
                6,
            ).alias("collapse_share"),
        )
    )


def heaps_law_fit(docs: DataFrame) -> DataFrame:
    """HEAPS-LAW fit V(N) = K * N^beta for vocabulary growth along the
    doc_id order: the sizing law behind tokenizer-vocab and
    dedup-memory budgets (beta ~ 0.4-0.6 for natural text; beta near 1
    screams boilerplate/ID-like tokens, near 0 screams duplication).

    Construction with no per-prefix recompute: each term contributes
    only at its FIRST document (min doc_id per token), so V at doc d =
    cumulative count of first-occurrences up to d, and N = cumulative
    token count — both from ONE :func:`ranking.ordered_cdf` pass over
    the per-doc axis (bounded by |docs|, not |tokens|).  The log-log
    OLS runs on 9dp-rounded ln's summed in DECIMAL, so the fit is
    shuffle-order invariant; only the closed-form slope touches raw
    float64, identically in both engines.
    """
    from ..sources.loaders import fan_out
    from .ranking import ordered_cdf

    toks = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .localCheckpoint()
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    news = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    axis = per_doc.join(news, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias("new_terms"),
    )
    cdf = ordered_cdf(
        axis, [F.col("doc_id").asc()], ["n_toks", "new_terms"]
    )
    pts = cdf.filter(
        (F.col("n_toks_cum") > 0) & (F.col("new_terms_cum") > 0)
    ).select(
        F.round(F.log(F.col("n_toks_cum").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("lx"),
        F.round(F.log(F.col("new_terms_cum").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    tot = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )
    # |vocab| = total first-occurrences; summing the per-doc axis (|docs|
    # rows) avoids re-running the token-level min-doc_id shuffle a second
    # time just to count it.  COALESCE keeps the 0-on-empty-corpus
    # contract of the COUNT form this SUM replaced (SUM of no rows is
    # NULL where COUNT was 0).
    voc = news.agg(
        F.coalesce(F.sum("new_terms"), F.lit(0)).cast("long").alias("vocab_size")
    )

    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = nd * sxy - sx * sy
    denx = nd * sxx - sx * sx
    deny = nd * syy - sy * sy
    beta = F.try_divide(num, F.nullif(denx, F.lit(0.0)))
    k = F.exp((sy - beta * sx) / nd)
    r2 = F.try_divide(num * num, F.nullif(denx * deny, F.lit(0.0)))
    return (
        tot.crossJoin(voc)
        .crossJoin(s)
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            (F.round(k, 6) + F.lit(0.0)).alias("heaps_k"),
            (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
            (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
        )
    )


DSIR_TOPK = 20
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(docs: DataFrame, topk: int = DSIR_TOPK) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): importance weight
    of each NON-target document under a hashed-unigram bag-of-words
    model of the target domain — w(d) = mean_t log(p_target(t) /
    p_raw(t)) — the cheap, trainable-model-free way to pick "looks
    like the target domain" pretraining data at corpus scale.  Target
    here: lang='{DSIR_TARGET_LANG}' documents; candidates: the rest;
    add-1 smoothing over the shared corpus vocabulary.

    Scale: ONE token explode (checkpointed), two term-count groupBys
    (target and corpus — term-keyed, map-side combined), one
    term-keyed join of the candidate tokens to the 2-count ratio
    table, one per-doc sum.  Per-term log-ratios are 9dp-rounded into
    DECIMAL sums so the per-doc fold is order-insensitive; top-k is a
    TakeOrdered heap.
    """
    from ..sources.loaders import fan_out

    toks = (
        fan_out(docs.select("doc_id", "lang", "text"))
        .select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
        )
        .localCheckpoint()
    )
    corpus = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("cr")
    )
    target = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    vocab = corpus.join(target, "token", "left").select(
        "token", "cr", F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct")
    )
    tot = F.broadcast(
        vocab.agg(
            F.sum("cr").cast("long").alias("r_total"),
            F.sum("ct").cast("long").alias("t_total"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
    )
    ratio = vocab.crossJoin(tot).select(
        "token",
        F.round(
            F.log(
                ((F.col("ct").cast("double") + F.lit(1.0))
                 / (F.col("t_total").cast("double") + F.col("v").cast("double")))
                / ((F.col("cr").cast("double") + F.lit(1.0))
                   / (F.col("r_total").cast("double")
                      + F.col("v").cast("double")))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("lr"),
    )
    cand = toks.filter(F.col("lang") != DSIR_TARGET_LANG)
    per_doc = (
        cand.join(ratio, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("lr").alias("slr"),
        )
    )
    return per_doc.select(
        "doc_id",
        "lang",
        "n_toks",
        (
            F.round(
                F.col("slr").cast("double") / F.col("n_toks").cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("dsir_weight"),
    ).orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc()).limit(topk)


QL_MU = 300.0  # Dirichlet smoothing pseudo-count


def lm_dirichlet_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """QUERY-LIKELIHOOD retrieval with Dirichlet smoothing — the
    language-modeling ranker beside BM25 (score = sum_q log((tf_qd +
    mu*p_c(q)) / (dl_d + mu))): probabilistically grounded, one knob
    (mu), and the standard baseline BM25 is judged against.  Zero-tf
    query terms still contribute (the smoothing mass), so candidates
    are scored over the FULL query via a small broadcast grid, not
    just their matching terms.

    Plan: one explode pass -> per-doc lengths + per-(doc,term) tfs
    (map-side combined); collection term probabilities are a
    |query|-row broadcast; the candidate x query grid left-joins tfs
    and folds per-doc with 9dp-rounded DECIMAL term scores
    (order-insensitive).  Top-k via TakeOrdered heap."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    ).localCheckpoint()
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("dl"))
    coll = F.broadcast(
        toks.filter(F.col("t").isin(query_terms))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .crossJoin(
            F.broadcast(toks.agg(F.count(F.lit(1)).cast("long").alias("ctot")))
        )
    )
    tf = (
        toks.filter(F.col("t").isin(query_terms))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cands = tf.select(id_col).distinct().join(dl, id_col)
    grid = cands.crossJoin(coll).join(tf, [id_col, "t"], "left")
    term_score = F.log(
        (
            F.coalesce(F.col("tf"), F.lit(0)).cast("double")
            + F.lit(QL_MU)
            * (F.col("cf").cast("double") / F.col("ctot").cast("double"))
        )
        / (F.col("dl").cast("double") + F.lit(QL_MU))
    )
    return (
        grid.select(
            F.col(id_col),
            F.round(term_score, 9).cast("decimal(18,9)").alias("ts"),
        )
        .groupBy(id_col)
        .agg(
            (F.round(F.sum("ts").cast("double"), 4) + F.lit(0.0)).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


SYMSPELL_TYPOS = ["vektor", "hashh", "scann", "cash"]
SYMSPELL_TOPK = 3


def symspell_candidates(
    docs: DataFrame,
    queries: list[str] | None = None,
    topk: int = SYMSPELL_TOPK,
    text_col: str = "text",
) -> DataFrame:
    """SYMSPELL spelling correction by the DELETES JOIN: a term and a
    query within edit distance 1 always share a member of their
    {self} ∪ {drop one char} variant sets, so candidate generation is
    an equi-join on variant strings — O(len) variants per term versus
    the |vocab| x |queries| Levenshtein cross join a naive matcher
    pays.  The industry trick for spell-checking against a corpus
    vocabulary at scale; exact Levenshtein <= 1 then verifies the
    (tiny) candidate set, and corpus frequency ranks suggestions.

    Plan: one token explode -> vocab aggregate, variants exploded
    in-expression on both sides, variant-keyed equi-join (queries side
    broadcast), per-query top-{SYMSPELL_TOPK} window."""
    qs = SYMSPELL_TYPOS if queries is None else queries
    spark = docs.sparkSession

    def variants(col):
        return F.transform(
            F.sequence(F.lit(0), F.length(col)),
            lambda i: F.when(i == 0, col).otherwise(
                F.concat(
                    F.substr(col, F.lit(1), i - F.lit(1)),
                    F.substr(col, i + F.lit(1), F.length(col)),
                )
            ),
        )

    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    vvar = vocab.select(
        "term", "freq", F.explode(variants(F.col("term"))).alias("v")
    )
    qdf = local_frame(spark, [(q,) for q in qs], "query string")
    qvar = F.broadcast(
        qdf.select("query", F.explode(variants(F.col("query"))).alias("v"))
    )
    cands = (
        vvar.join(qvar, "v")
        .select("query", "term", "freq")
        .distinct()
        .filter(
            (F.levenshtein(F.col("query"), F.col("term")) <= 1)
            & (F.col("query") != F.col("term"))
        )
    )
    w = Window.partitionBy("query").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    return (
        cands.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select("query", F.col("term").alias("suggestion"), "freq", "rnk")
        .orderBy("query", "rnk")
    )


RAKE_TOPK = 15
RAKE_STOPWORDS = LANG_PROFILES["en"] + ["in", "on", "is", "for", "with"]


def rake_keyphrases(
    docs: DataFrame, topk: int = RAKE_TOPK, text_col: str = "text"
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal stopword-free token runs (a gaps-and-islands segmentation
    over token positions), word scores are degree/frequency over the
    phrase graph, and a phrase scores the sum of its words — the
    classic unsupervised keyphrase baseline beside
    ``vocab_textrank_keywords``'s graph centrality.

    Plan: one posexplode pass; islands via pos - rank within
    (doc, non-stop) — a doc-partitioned window, never global; word
    stats are one token-keyed aggregate; phrase scores join words back
    to (tiny) phrase rows.  Degree/freq ratios and phrase sums are
    6dp-rounded DECIMAL, so folds are order-insensitive; top-k ranks
    on (score, phrase) via a TakeOrdered heap."""
    sw = F.lit(RAKE_STOPWORDS).cast("array<string>")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "w")
    ).filter(F.length("w") > 0)
    nonstop = toks.filter(~F.array_contains(sw, F.col("w")))
    iw = Window.partitionBy("doc_id").orderBy("pos")
    islands = nonstop.withColumn(
        "island", F.col("pos") - F.row_number().over(iw)
    )
    phrases = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("w")))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .localCheckpoint()
    )
    members = islands.join(phrases, ["doc_id", "island"]).select(
        "w", "plen", "doc_id", "island", "phrase"
    )
    words = members.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    wscore = words.select(
        "w",
        F.round(
            F.col("degree").cast("double") / F.col("freq").cast("double"), 6
        )
        .cast("decimal(18,6)")
        .alias("ws"),
    )
    scored = (
        members.join(F.broadcast(wscore), "w")
        .groupBy("phrase")
        .agg(
            F.sum("ws").alias("raw"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
    )
    # the same phrase string in several docs/islands accumulates its
    # members once per occurrence: score sums every occurrence's words
    return (
        scored.select(
            "phrase",
            (F.round(F.col("raw").cast("double"), 6) + F.lit(0.0)).alias(
                "score"
            ),
            "n_occurrences",
        )
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(topk)
    )


COHERENCE_TOPN = 10


def umass_coherence(
    docs: DataFrame, topn: int = COHERENCE_TOPN, text_col: str = "text"
) -> DataFrame:
    """UMASS TOPIC COHERENCE of the top-{COHERENCE_TOPN} (non-stopword)
    corpus terms: C = sum over ordered pairs (w_i less frequent than
    w_j) of log((D(w_i, w_j) + 1) / D(w_j)), with D = document
    co-occurrence counts — the intrinsic "do these words actually
    belong together" score used to evaluate topic models, here applied
    to the frequency head the LSA axis / TextRank queries surface.

    Scale: one distinct (doc, term) incidence shuffle; the top-N term
    set is a broadcast; pair co-counts join incidence to itself
    restricted to those N terms (N^2-bounded output).  Log terms are
    9dp-rounded DECIMAL so the pair fold is order-insensitive."""
    sw = F.lit(RAKE_STOPWORDS).cast("array<string>")
    inc = (
        docs.select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("term")
        )
        .filter(~F.array_contains(sw, F.col("term")))
        .distinct()
        .localCheckpoint()
    )
    df_ = inc.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    top = F.broadcast(
        df_.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(topn)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("df").desc(), F.col("term").asc())
            ).cast("int"),
        )
    )
    ti = inc.join(top.select("term", "rnk", "df"), "term")
    a = ti.select(
        "doc_id", F.col("term").alias("wi"), F.col("rnk").alias("ri")
    )
    b = ti.select(
        "doc_id",
        F.col("term").alias("wj"),
        F.col("rnk").alias("rj"),
        F.col("df").alias("dfj"),
    )
    co = (
        a.join(b, "doc_id")
        .filter(F.col("ri") > F.col("rj"))
        .groupBy("wi", "wj")
        .agg(F.count(F.lit(1)).cast("long").alias("dij"))
    )
    # the FULL ordered-pair grid: pairs that never co-occur still owe
    # the log(1/D(wj)) penalty — dropping them inflates coherence
    ga = top.select(F.col("term").alias("wi"), F.col("rnk").alias("ri"))
    gb = top.select(
        F.col("term").alias("wj"),
        F.col("rnk").alias("rj"),
        F.col("df").alias("dfj"),
    )
    grid = ga.crossJoin(gb).filter(F.col("ri") > F.col("rj"))
    terms_ = grid.join(co, ["wi", "wj"], "left").select(
        "wi",
        "ri",
        F.round(
            F.log(
                (F.coalesce(F.col("dij"), F.lit(0)).cast("double") + F.lit(1.0))
                / F.col("dfj").cast("double")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("t"),
    )
    per_term = terms_.groupBy("wi", "ri").agg(F.sum("t").alias("contrib"))
    tot = F.broadcast(
        per_term.agg(F.sum("contrib").alias("coh"))
    )
    return (
        per_term.crossJoin(tot)
        .join(F.broadcast(top.select(F.col("term").alias("wi"), "df")), "wi")
        .select(
            F.col("wi").alias("term"),
            F.col("ri").alias("rank"),
            F.col("df").alias("doc_freq"),
            (F.round(F.col("contrib").cast("double"), 6) + F.lit(0.0)).alias(
                "contribution"
            ),
            (F.round(F.col("coh").cast("double"), 6) + F.lit(0.0)).alias(
                "umass_coherence"
            ),
        )
        .orderBy("rank")
    )


KN_DISCOUNT = 0.75


def bigram_kneser_ney(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """KNESER-NEY smoothed bigram LM, scored per source: absolute
    discounting with the CONTINUATION probability backoff — the
    smoothing that asks "how many contexts does this word complete"
    instead of "how often does it occur", which is why 'francisco'
    (frequent, one context) stops stealing mass from 'the'.  The
    standard n-gram LM the interpolated baseline (doc_bigram_logprob)
    approximates: P(w|v) = max(c(v,w)-d, 0)/c(v) +
    (d*N1+(v.)/c(v)) * N1+(.w)/|types|.

    Per-source mean ln-prob over bigram occurrences and e-based
    perplexity — the source-quality read under a properly smoothed LM.

    Plan: one tokenize pass; in-expression bigram zip; type-keyed
    count aggregates (v,w)/(v)/(w) + one broadcast scalar; per-source
    scores fold 9dp-rounded DECIMAL ln terms weighted by occurrence
    counts."""
    from ..sources.loaders import fan_out

    d = KN_DISCOUNT
    tk = fan_out(docs.select("source", text_col)).select(
        "source", tokens(F.col(text_col)).alias("tk")
    )
    n = F.size("tk")
    bg = tk.filter(n >= 2).select(
        "source",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, n - 1).alias("v"),
                F.slice(F.col("tk"), 2, n - 1).alias("w"),
            )
        ).alias("b"),
    ).select("source", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
    occ = bg.groupBy("source", "v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint()
    cvw = occ.groupBy("v", "w").agg(F.sum("cnt").cast("long").alias("cvw"))
    cv = cvw.groupBy("v").agg(
        F.sum("cvw").cast("long").alias("cv"),
        F.count(F.lit(1)).cast("long").alias("n1v"),
    )
    n1w = cvw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1w"))
    types = F.broadcast(cvw.agg(F.count(F.lit(1)).cast("long").alias("tt")))
    scored = (
        occ.join(cvw, ["v", "w"])
        .join(cv, "v")
        .join(n1w, "w")
        .crossJoin(types)
    )
    pkn = (
        F.greatest(F.col("cvw").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("cv").cast("double")
        + (F.lit(d) * F.col("n1v").cast("double") / F.col("cv").cast("double"))
        * (F.col("n1w").cast("double") / F.col("tt").cast("double"))
    )
    terms = scored.select(
        "source",
        "cnt",
        (
            F.round(F.log(pkn), 9).cast("decimal(18,9)")
            * F.col("cnt").cast("decimal(20,0)")
        ).alias("t"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.sum("t").alias("st"),
    )
    avg = F.col("st").cast("double") / F.col("n_bigrams").cast("double")
    return agg.select(
        "source",
        "n_bigrams",
        (F.round(avg, 6) + F.lit(0.0)).alias("avg_ln_prob"),
        (F.round(F.exp(-avg), 6) + F.lit(0.0)).alias("perplexity"),
    ).orderBy("source")


LM_LAMBDA_GRID = [0.1, 0.3, 0.5, 0.7, 0.9]
LM_HELDOUT_MOD = 5  # md5(doc_id) % 5 == 0 -> held-out (~20%)


def bigram_lambda_sweep(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """HYPERPARAMETER TUNING AS A QUERY: the interpolated bigram LM's
    mixing weight swept over {LM_LAMBDA_GRID} and scored on a PROPER
    md5-gated held-out split (20% of docs the counts never saw) — the
    evaluation discipline the self-scored doc_bigram_logprob skips,
    which is exactly why its lambda can't be trusted: on training data
    more bigram weight always looks better; held-out data pushes back
    with unseen contexts.  Best row flagged (min perplexity).

    Scale: train counts are the usual (v,w)-keyed aggregates; the
    held-out bigram-type table joins them once and a 5-row broadcast
    lambda grid fans scoring out — grid size, not data size, is the
    multiplier.  Unseen mass gets add-1 unigram smoothing so no
    log(0)."""
    from ..functions.text import md5_int
    from ..sources.loaders import fan_out

    spark = docs.sparkSession
    tagged = fan_out(docs.select("doc_id", text_col)).select(
        "doc_id",
        tokens(F.col(text_col)).alias("tk"),
        (md5_int(F.col("doc_id").cast("string")) % LM_HELDOUT_MOD == 0).alias(
            "held"
        ),
    )
    n = F.size("tk")
    bg = tagged.filter(n >= 2).select(
        "held",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, n - 1).alias("v"),
                F.slice(F.col("tk"), 2, n - 1).alias("w"),
            )
        ).alias("b"),
    ).select("held", F.col("b.v").alias("v"), F.col("b.w").alias("w"))
    train = bg.filter(~F.col("held"))
    cvw = train.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cvw")
    ).localCheckpoint()
    cv = cvw.groupBy("v").agg(F.sum("cvw").cast("long").alias("cv"))
    cw = cvw.groupBy("w").agg(F.sum("cvw").cast("long").alias("cw"))
    tot = F.broadcast(
        cw.agg(
            F.sum("cw").cast("long").alias("nn"),
            F.count(F.lit(1)).cast("long").alias("vv"),
        )
    )
    held = bg.filter(F.col("held")).groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    joined = (
        held.join(cvw, ["v", "w"], "left")
        .join(cv, "v", "left")
        .join(cw, "w", "left")
        .crossJoin(tot)
    )
    lam_df = F.broadcast(
        local_frame(spark, [(l,) for l in LM_LAMBDA_GRID], "lam double")
    )
    pb = F.coalesce(
        F.try_divide(
            F.col("cvw").cast("double"), F.nullif(F.col("cv").cast("double"), F.lit(0.0))
        ),
        F.lit(0.0),
    )
    pu = (F.coalesce(F.col("cw"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("nn").cast("double") + F.col("vv").cast("double")
    )
    p = F.col("lam") * pb + (F.lit(1.0) - F.col("lam")) * pu
    scored = joined.crossJoin(lam_df).select(
        "lam",
        "cnt",
        (
            F.round(F.log(p), 9).cast("decimal(18,9)")
            * F.col("cnt").cast("decimal(20,0)")
        ).alias("t"),
    )
    agg = scored.groupBy("lam").agg(
        F.sum("cnt").cast("long").alias("n_scored"),
        F.sum("t").alias("st"),
    )
    avg = F.col("st").cast("double") / F.col("n_scored").cast("double")
    out = agg.select(
        "lam",
        "n_scored",
        (F.round(avg, 6) + F.lit(0.0)).alias("avg_ln_prob"),
        (F.round(F.exp(-avg), 6) + F.lit(0.0)).alias("perplexity"),
    )
    w_ = Window.orderBy(F.col("perplexity").asc(), F.col("lam").asc())
    return (
        out.withColumn(
            "is_best", (F.row_number().over(w_) == 1).cast("int")
        )
        .orderBy("lam")
    )


DELTA_TOP_WORDS = 30
DELTA_TOPK_PAIRS = 10


def burrows_delta_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BURROWS' DELTA stylometry between sources: z-score each
    source's relative frequency of the corpus's top-{DELTA_TOP_WORDS}
    words (function words dominate that head — the authorship signal),
    then Delta(s1, s2) = mean |z1 - z2| over those words — the
    classic "same author/pipeline?" distance.  Near-zero Delta between
    two supposedly independent sources is how template farms and
    mirrored scrapes show up; the stylometric sibling of the
    content-hash dedup suite.

    Output: the {DELTA_TOPK_PAIRS} most stylistically SIMILAR source
    pairs (smallest Delta).  Scale: one token pass; a
    |sources| x {DELTA_TOP_WORDS} frequency grid; the pair join runs
    on the tiny grid, never the corpus."""
    toks = docs.select(
        "source", F.explode(tokens(F.col(text_col))).alias("t")
    ).localCheckpoint()
    stot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    top = F.broadcast(
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(DELTA_TOP_WORDS)
        .select("t")
    )
    grid = (
        toks.join(top, "t")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .join(stot, "source")
        .select(
            "source",
            "t",
            F.round(
                F.col("c").cast("double") / F.col("n_src").cast("double"), 9
            ).alias("f"),
        )
    )
    # complete the grid: missing (source, word) cells are zero freq
    full = (
        stot.select("source")
        .crossJoin(top)
        .join(grid, ["source", "t"], "left")
        .select(
            "source", "t", F.coalesce(F.col("f"), F.lit(0.0)).alias("f")
        )
        .localCheckpoint()
    )
    stats = full.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("f").cast("decimal(18,9)")).alias("sf"),
        F.sum(
            F.round(F.col("f") * F.col("f"), 12).cast("decimal(24,12)")
        ).alias("sff"),
    )
    kd = F.col("k").cast("double")
    mu = F.col("sf").cast("double") / kd
    var = (F.col("sff").cast("double") - kd * mu * mu) / (kd - F.lit(1.0))
    wstats = stats.select(
        "t",
        F.round(mu, 9).alias("mu"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("sd"),
    )
    z = full.join(F.broadcast(wstats), "t").select(
        "source",
        "t",
        F.round(
            F.try_divide(
                F.col("f") - F.col("mu"), F.nullif(F.col("sd"), F.lit(0.0))
            ),
            6,
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "t", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "t", F.col("z").alias("zb")
    )
    pairs = (
        a.join(b, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(
                F.round(F.abs(F.col("za") - F.col("zb")), 6).cast(
                    "decimal(20,6)"
                )
            ).alias("sdz"),
        )
    )
    return (
        pairs.select(
            "source_a",
            "source_b",
            (
                F.round(
                    F.col("sdz").cast("double") / F.col("n_words").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("delta"),
        )
        .orderBy(F.col("delta").asc(), F.col("source_a").asc(), F.col("source_b").asc())
        .limit(DELTA_TOPK_PAIRS)
    )


FW_ALPHA0 = 50.0  # total Dirichlet prior mass (informative, Monroe et al.)
FW_TOPK = 12
FW_TARGET_SOURCE_IDX = 0  # compare the alphabetically first source vs rest


def fightin_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """"FIGHTIN' WORDS" (Monroe-Colaresi-Quinn log-odds with an
    informative Dirichlet prior): which words are genuinely
    OVER-represented in one source vs the rest — the prior shrinks
    rare-word noise that raw log-odds and TF-IDF both amplify, and
    the variance estimate turns the difference into a z-score.
    delta_w = ln((y_aw + a_w)/(n_a + a0 - y_aw - a_w))
            - ln((y_bw + a_w)/(n_b + a0 - y_bw - a_w)),
    var = 1/(y_aw + a_w) + 1/(y_bw + a_w); z = delta/sqrt(var).

    The slop-phrase / house-style detector for corpus curation.
    Scale: one token pass, one word-keyed aggregate; the target source
    is chosen deterministically (first alphabetically)."""
    toks = docs.select(
        "source", F.explode(tokens(F.col(text_col))).alias("w")
    ).localCheckpoint()
    tgt = F.broadcast(
        toks.select("source").distinct().orderBy("source").limit(1)
        .withColumnRenamed("source", "tgt")
    )
    counts = (
        toks.crossJoin(tgt)
        .groupBy("w")
        .agg(
            F.sum((F.col("source") == F.col("tgt")).cast("int"))
            .cast("long")
            .alias("ya"),
            F.sum((F.col("source") != F.col("tgt")).cast("int"))
            .cast("long")
            .alias("yb"),
            F.first("tgt").alias("tgt"),
        )
        .localCheckpoint()
    )
    tot = F.broadcast(
        counts.agg(
            F.sum("ya").cast("long").alias("na"),
            F.sum("yb").cast("long").alias("nb"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
    )
    j = counts.crossJoin(tot)
    aw = F.lit(FW_ALPHA0) * (F.col("ya") + F.col("yb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    ta = (F.col("ya").cast("double") + aw) / (
        F.col("na").cast("double") + F.lit(FW_ALPHA0) - F.col("ya").cast("double") - aw
    )
    tb = (F.col("yb").cast("double") + aw) / (
        F.col("nb").cast("double") + F.lit(FW_ALPHA0) - F.col("yb").cast("double") - aw
    )
    delta = F.log(ta) - F.log(tb)
    var = F.lit(1.0) / (F.col("ya").cast("double") + aw) + F.lit(1.0) / (
        F.col("yb").cast("double") + aw
    )
    z = F.try_divide(delta, F.nullif(F.sqrt(var), F.lit(0.0)))
    return (
        j.select(
            F.col("tgt").alias("target_source"),
            "w",
            "ya",
            "yb",
            (F.round(delta, 6) + F.lit(0.0)).alias("log_odds"),
            (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
        )
        .orderBy(F.col("z_score").desc(), F.col("w").asc())
        .limit(FW_TOPK)
    )


MSTTR_WINDOW = 50


def msttr_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """MSTTR (mean segmental type-token ratio, window {MSTTR_WINDOW}):
    the lexical-diversity standard that fixes raw TTR's length bias —
    long documents always score lower on plain distinct/total (Heaps'
    law guarantees it), so raw TTR comparisons between sources of
    different lengths are artifacts; fixed-size segments make them
    commensurable.  Ragged tails are dropped per the standard.

    Per-source: segment count, MSTTR, and raw TTR beside it so the
    length bias is visible.  Scale: one posexplode pass; segments are
    (doc, pos div W) keys — bounded windows, no global anything."""
    w = MSTTR_WINDOW
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    ).localCheckpoint()
    segs = (
        toks.withColumn("seg", F.floor(F.col("pos") / w))
        .groupBy("doc_id", "source", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.countDistinct("t").cast("long").alias("n_typ"),
        )
        .filter(F.col("n_tok") == w)
    )
    raw = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("n_types"),
    )
    m = segs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(
            F.round(
                F.col("n_typ").cast("double") / F.col("n_tok").cast("double"), 9
            ).cast("decimal(18,9)")
        ).alias("sttr"),
    )
    return (
        raw.join(m, "source", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("n_segments"), F.lit(0)).cast("long").alias(
                "n_segments"
            ),
            (
                F.round(
                    F.try_divide(
                        F.col("sttr").cast("double"),
                        F.nullif(F.col("n_segments").cast("double"), F.lit(0.0)),
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("msttr"),
            (
                F.round(
                    F.col("n_types").cast("double")
                    / F.col("n_tokens").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("raw_ttr"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Wave 241 (round 2): trained multinomial Naive Bayes language ID with
# holdout confusion, and Good-Turing discounts.
# --------------------------------------------------------------------------
NB_TRAIN_MOD = 2  # doc_id % 2 == 0 trains, odd docs are the holdout


def nb_langid_confusion(docs: DataFrame) -> DataFrame:
    """THIRD language classifier — a TRAINED multinomial Naive Bayes
    over character trigrams with Laplace smoothing, evaluated on a
    deterministic holdout (doc_id parity split): score(doc, lang) =
    ln P(lang) + sum_g cnt_g * ln((n_{lang,g}+1)/(tot_lang+V)),
    argmax with lang-asc tiebreak, reported as the true-vs-predicted
    confusion matrix.  Complements the Cavnar-Trenkle profile and the
    word-list heuristic: this one has calibrated probabilities and an
    honest eval split (docs shorter than 3 chars have no trigrams and
    drop out of the holdout).

    Scale: the trained model is a (langs x vocab) aggregate broadcast
    to the scorers; test docs pre-aggregate to (doc, gram, count)
    grain before the join so the score join is distinct-gram sized;
    per-gram terms are 9dp-rounded DECIMAL so the per-(doc,lang) sum
    is order-exact (argmax compares exact DECIMALs, no float-order
    flakiness); argmax is a doc-keyed window."""
    g_all = _char_trigram_rows(docs, ["doc_id", "lang"])
    train = g_all.filter(F.col("doc_id") % NB_TRAIN_MOD == 0)
    test = (
        g_all.filter(F.col("doc_id") % NB_TRAIN_MOD != 0)
        .groupBy("doc_id", "lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # counts deliberately NOT checkpointed (r08 A/B): its three
    # consumers already share the aggregate's exchange via runtime
    # stage reuse, and the eager pin benched ~8% slower at sf0.1
    counts = train.groupBy(
        F.col("lang").alias("plang"), "g"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    lang_tot = counts.groupBy("plang").agg(
        F.sum("n").cast("long").alias("tot")
    )
    vocab = F.broadcast(
        counts.select("g").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("v")
        )
    )
    tr_docs = docs.filter(F.col("doc_id") % NB_TRAIN_MOD == 0)
    priors = (
        tr_docs.groupBy(F.col("lang").alias("plang"))
        .agg(F.count(F.lit(1)).cast("long").alias("nl"))
        .crossJoin(
            F.broadcast(
                tr_docs.agg(F.count(F.lit(1)).cast("long").alias("ntr"))
            )
        )
    )
    langs = priors.join(lang_tot, "plang").crossJoin(vocab)
    cand = test.crossJoin(
        F.broadcast(langs.select("plang", "nl", "ntr", "tot", "v"))
    ).join(F.broadcast(counts), ["plang", "g"], "left")
    logp = F.log(
        (F.coalesce(F.col("n"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("tot").cast("double") + F.col("v").cast("double"))
    )
    term = F.round(F.col("cnt").cast("double") * logp, 9).cast(
        "decimal(28,9)"
    )
    prior_d = F.round(
        F.log(F.col("nl").cast("double") / F.col("ntr").cast("double")), 9
    ).cast("decimal(28,9)")
    scores = cand.groupBy("doc_id", "lang", "plang").agg(
        (F.sum(term) + F.first(prior_d)).alias("score")
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("plang").asc()
    )
    best = (
        scores.withColumn("_r", F.row_number().over(wd))
        .filter(F.col("_r") == 1)
    )
    return (
        best.groupBy(
            F.col("lang").alias("lang_true"),
            F.col("plang").alias("lang_pred"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("correct", F.col("lang_true") == F.col("lang_pred"))
    )


GT_MAX_R = 8  # Good-Turing discounts reported for r = 1..GT_MAX_R


def good_turing_discounts(docs: DataFrame) -> DataFrame:
    """GOOD-TURING DISCOUNTS r* = (r+1) N_{r+1} / N_r for low
    frequencies — the smoothing table a per-document language model
    uses instead of raw ML term frequencies: the adjusted count, the
    discount ratio r*/r (how much mass low counts donate to unseen
    terms) and the smoothed probability r*/N.  The spectrum is taken
    at WITHIN-DOCUMENT term-count grain ((doc, term) occurrences) —
    the corpus-global spectrum is degenerate on this fixed-vocabulary
    corpus (no type occurs fewer than ~26 times), while per-doc
    counts show the real 1,2,3,... tail GT was built for.  Reported
    for r <= {GT_MAX_R}, where GT applies before switching to ML.

    Scale: (doc, term) counts are one shuffle; the spectrum is a
    bounded (max-freq) table; the r/r+1 pairing is a keyed self-join
    on the tiny spectrum."""
    from ..functions.text import tokens

    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    spectrum = tf.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("nr")
    )
    ntot = F.broadcast(
        tf.agg(F.sum("r").cast("long").alias("n_tokens"))
    )
    a, b = spectrum.alias("a"), spectrum.alias("b")
    paired = a.join(b, F.col("b.r") == F.col("a.r") + 1).select(
        F.col("a.r").alias("r"),
        F.col("a.nr").alias("n_r"),
        F.col("b.nr").alias("n_r_plus_1"),
    )
    rstar = (
        (F.col("r") + F.lit(1)).cast("double")
        * F.col("n_r_plus_1").cast("double")
        / F.col("n_r").cast("double")
    )
    return (
        paired.filter(F.col("r") <= GT_MAX_R)
        .crossJoin(ntot)
        .select(
            "r",
            "n_r",
            "n_r_plus_1",
            (F.round(rstar, 6) + F.lit(0.0)).alias("r_star"),
            (
                F.round(rstar / F.col("r").cast("double"), 6)
                + F.lit(0.0)
            ).alias("discount_ratio"),
            (
                F.round(rstar / F.col("n_tokens").cast("double"), 9)
                + F.lit(0.0)
            ).alias("p_good_turing"),
        )
    )
