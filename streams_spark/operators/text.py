"""Text analysis over the documents table (SURVEY.md §7 M4): quality
scoring, token counting, language-ID heuristic, document fingerprinting.

Everything is built-in-function Spark (split/filter/transform/aggregate),
fully codegen'd — and every query has a DuckDB oracle because the
primitives (md5, string ops, list lambdas) are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_spark.functions.text_funcs import (
    gram_rows,
    hashed_gram_rows,
    STOPWORDS,
    avg_token_len,
    identity_documents,
    stopword_ratio,
    tokens,
)
from streams_spark.registry import register
from streams_spark.sources.tables import load_table

_SW = ", ".join(f"'{s}'" for s in STOPWORDS)

# ---------------------------------------------------------------------------
# Per-document quality statistics (tokens, lengths, ratios)
# ---------------------------------------------------------------------------

_TEXT_STATS = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS w
  FROM documents
)
SELECT doc_id, lang, source, n_chars,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
       floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
             * 1000000 + 0.5) / 1000000 AS distinct_ratio,
       floor(list_sum(list_transform(w, t -> CAST(length(t) AS DOUBLE)))
             / len(w) * 1000000 + 0.5) / 1000000 AS avg_token_len,
       floor(CAST(len(list_filter(w, t -> t IN ({_SW}))) AS DOUBLE) / len(w)
             * 1000000 + 0.5) / 1000000 AS stopword_ratio
FROM d
"""


@register("t_text_stats", oracle=_TEXT_STATS)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        # floor rule throughout: these are ratios of ints, so a dyadic
        # denominator (n_tokens = 128, say) yields EXACT 6dp midpoint
        # doubles where engine round() modes diverge
        (
            F.floor(
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("distinct_ratio"),
        (F.floor(avg_token_len("text", toks) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "avg_token_len"
        ),
        (F.floor(stopword_ratio(toks) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "stopword_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Corpus quality rollup per (lang, source): filter gate for a data pipeline
# ---------------------------------------------------------------------------

_QUALITY = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS w
  FROM documents
), q AS (
  SELECT lang, source, n_chars, len(w) AS n_tokens,
         CAST(len(list_filter(w, t -> t IN ({_SW}))) AS DOUBLE) / len(w) AS swr
  FROM d
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       floor(avg(n_tokens) * 10000 + 0.5) / 10000 AS avg_tokens,
       floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars,
       floor(avg(swr) * 1000000 + 0.5) / 1000000 AS avg_stopword_ratio,
       count(*) FILTER (WHERE n_tokens >= 30 AND swr <= 0.5) AS n_quality_pass
FROM q GROUP BY lang, source
"""


@register("t_quality_rollup", oracle=_QUALITY)
def t_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    q = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        stopword_ratio(toks).alias("swr"),
    )
    return q.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # floor rule: avgs of integers/small rationals hit exact
        # midpoints where engine round() modes diverge
        (F.floor(F.avg("n_tokens") * 10000 + F.lit(0.5)) / 10000).alias("avg_tokens"),
        (F.floor(F.avg("n_chars") * 10000 + F.lit(0.5)) / 10000).alias("avg_chars"),
        (F.floor(F.avg("swr") * 1000000 + F.lit(0.5)) / 1000000).alias("avg_stopword_ratio"),
        F.count(F.when((F.col("n_tokens") >= 30) & (F.col("swr") <= 0.5), 1)).alias(
            "n_quality_pass"
        ),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: marker-token voting with deterministic tiebreak
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def _marker_sql(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return f"CAST(len(list_filter(w, t -> t IN ({lst}))) AS DOUBLE) / len(w)"


_LANG_ID = f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id, lang,
         {_marker_sql('en')} AS score_en,
         {_marker_sql('de')} AS score_de,
         {_marker_sql('fr')} AS score_fr,
         {_marker_sql('es')} AS score_es,
         {_marker_sql('zh')} AS score_zh
  FROM d
)
SELECT doc_id, lang AS actual_lang,
       floor(score_en * 1000000 + 0.5) / 1000000 AS score_en,
       CASE
         WHEN score_en >= score_de AND score_en >= score_fr
              AND score_en >= score_es AND score_en >= score_zh THEN 'en'
         WHEN score_de >= score_fr AND score_de >= score_es
              AND score_de >= score_zh THEN 'de'
         WHEN score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
         WHEN score_es >= score_zh THEN 'es'
         ELSE 'zh'
       END AS predicted_lang
FROM s
"""


@register("t_lang_id", oracle=_LANG_ID)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-token language ID. On this synthetic corpus (shared
    vocabulary across langs) the prediction collapses to the tiebreak
    order — the operator's plumbing (per-language scoring + argmax) is
    what's exercised; real marker lists drop in unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")

    def score(lang: str):
        markers = F.array(*[F.lit(m) for m in _MARKERS[lang]])
        return (
            F.size(F.filter(toks, lambda t: F.array_contains(markers, t))).cast(
                "double"
            )
            / F.size(toks)
        )

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        score("en").alias("score_en"),
        score("de").alias("score_de"),
        score("fr").alias("score_fr"),
        score("es").alias("score_es"),
        score("zh").alias("score_zh"),
    )
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_zh")),
            F.lit("en"),
        )
        .when(
            (F.col("score_de") >= F.col("score_fr"))
            & (F.col("score_de") >= F.col("score_es"))
            & (F.col("score_de") >= F.col("score_zh")),
            F.lit("de"),
        )
        .when(
            (F.col("score_fr") >= F.col("score_es"))
            & (F.col("score_fr") >= F.col("score_zh")),
            F.lit("fr"),
        )
        .when(F.col("score_es") >= F.col("score_zh"), F.lit("es"))
        .otherwise(F.lit("zh"))
    )
    return scored.select(
        "doc_id",
        "actual_lang",
        (F.floor(F.col("score_en") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "score_en"
        ),
        pred.alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: min-k of shingle md5s (winnowing-style)
# ---------------------------------------------------------------------------

_FINGERPRINT = """
WITH d AS (
  -- identity contract: one fingerprint per doc_id, none for NULL text
  -- (fuzz finding r6 — matches the Spark side's distinct + gram build)
  SELECT doc_id, string_split(text, ' ') AS w
  FROM (SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL GROUP BY doc_id)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
             i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))))
             AS hashes
  FROM d
)
SELECT doc_id,
       array_to_string(list_sort(hashes)[1:4], ',') AS fingerprint
FROM sh
"""


@register("t_fingerprint", oracle=_FINGERPRINT)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-4 fingerprint over 5-gram shingle md5s: a compact, deterministic,
    engine-independent document signature (two docs sharing a fingerprint
    share content with high probability — the winnowing idea)."""
    docs = load_table(spark, sf_dir, "documents")
    # Row-wise gram build (gram_rows), NOT the word_shingles array HOF:
    # sequence+transform evaluates try_element_at and the md5 interpreted
    # PER ELEMENT, which made this the slowest headline query (~7s at
    # sf0.1) once bench measured full execution; gram_rows keeps
    # concat_ws + md5 inside whole-stage codegen (~7x). The min-4-
    # distinct selection is dense_rank (duplicate grams share a rank) +
    # collect_set; the gram window, rank window, and final groupBy all
    # key on doc_id, so the exploded stream shuffles once.
    # identity normalization before gram_rows (window precondition +
    # fingerprint contract: one signature per doc_id, none for NULL
    # text — fuzz findings r6, same rule as the dedup family's shingle
    # builder); session-cached so the split subtree plans once
    docs = identity_documents(spark, sf_dir)
    h = gram_rows(docs, 5).select("doc_id", F.md5("gram").alias("h"))
    wr = Window.partitionBy("doc_id").orderBy("h")
    top4 = h.withColumn("rk", F.dense_rank().over(wr)).where(F.col("rk") <= 4)
    return top4.groupBy("doc_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("h"))).alias(
            "fingerprint"
        )
    )


# ---------------------------------------------------------------------------
# Token counting: whitespace vs BPE-style pre-tokenizer regex
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer shape: contractions | letter runs (with leading
# space) | digit runs | punctuation runs | residual whitespace. Both engines
# (Java regex / RE2) agree on this subset: leftmost-first alternation,
# identical character classes.
_BPE_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")

_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS BIGINT)
           AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+')) AS BIGINT)
           AS n_alpha_runs,
       CAST(len(regexp_extract_all(text, ' ?[0-9]+')) AS BIGINT)
           AS n_digit_runs,
       floor(CAST(length(text) AS DOUBLE)
             / greatest(len(regexp_extract_all(text, '{_BPE_RE_SQL}')), 1)
             * 10000 + 0.5) / 10000 AS chars_per_token
FROM documents
"""


@register("t_token_count", oracle=_TOKEN_COUNT)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split (the cheap estimate) and a
    BPE-style pre-tokenizer regex (the LLM-budget estimate), plus
    chars-per-token — the standard proxy for BPE token cost when the real
    tokenizer isn't on the cluster. Pure codegen'd regexp_extract_all; at
    100 TB this is an embarrassingly parallel scan with no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # regexp_count, not size(regexp_extract_all): identical count of
    # non-overlapping leftmost matches, but no array of match strings is
    # ever materialized — the scan stays a pure counter (r7)
    bpe_n = F.regexp_count("text", F.lit(_BPE_RE))
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        bpe_n.cast("long").alias("n_bpe_tokens"),
        F.regexp_count("text", F.lit(r" ?[A-Za-z]+"))
        .cast("long")
        .alias("n_alpha_runs"),
        F.regexp_count("text", F.lit(r" ?[0-9]+"))
        .cast("long")
        .alias("n_digit_runs"),
        (
            F.floor(
                F.length("text").cast("double")
                / F.greatest(bpe_n, F.lit(1))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram document frequency (memorization / boilerplate analysis)
# ---------------------------------------------------------------------------

NGRAM_FREQ_N = 3
NGRAM_FREQ_MIN_DF = 5

_NGRAM_FREQ = f"""
WITH d AS (
  -- identity contract, NULL text has no n-grams (fuzz finding r6)
  SELECT doc_id, string_split(text, ' ') AS w
  FROM (SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL GROUP BY doc_id)
), ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(w) - {NGRAM_FREQ_N - 1}, 1) + 1),
             i -> concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(NGRAM_FREQ_N))})))
             AS shingle
  FROM d
)
SELECT shingle,
       count(DISTINCT doc_id) AS doc_freq,
       count(*) AS total_count
FROM ex GROUP BY shingle
HAVING count(DISTINCT doc_id) >= {NGRAM_FREQ_MIN_DF}
"""


@register("t_ngram_freq", oracle=_NGRAM_FREQ)
def t_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram document frequency: every 3-gram appearing in
    >= NGRAM_FREQ_MIN_DF distinct documents, with occurrence totals — the
    boilerplate/memorization census a training pipeline runs to find
    over-represented spans (license headers, nav chrome, chain letters)
    before they skew the model.

    Scale path: ONE logical shuffle on the shingle key with map-side
    partial aggregation; a threshold (not top-k) keeps the result
    deterministic and the plan limit-free. At 100 TB the long tail of
    df=1 shingles never survives the partial aggregate's combiner."""
    # identity normalization (fuzz findings r6): a census over
    # distinct documents, and a missing doc contributes no grams
    docs = identity_documents(spark, sf_dir)
    toks = tokens("text")
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - (NGRAM_FREQ_N - 1), F.lit(1))
        ),
        lambda i: F.array_join(F.slice(toks, i, NGRAM_FREQ_N), " "),
    )
    ex = docs.select("doc_id", F.explode(grams).alias("shingle"))
    return (
        ex.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("total_count"),
        )
        .where(F.col("doc_freq") >= NGRAM_FREQ_MIN_DF)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: 13-gram overlap against a probe set
# ---------------------------------------------------------------------------

CONTAM_N = 13  # the standard decontamination n-gram size (GPT-3 appendix C)

_CONTAMINATION = f"""
WITH d AS (
  -- identity contract, NULL text has no n-grams (fuzz finding r6)
  SELECT doc_id, string_split(text, ' ') AS w
  FROM (SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL GROUP BY doc_id)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - {CONTAM_N - 1}, 1) + 1),
             i -> md5(concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(CONTAM_N))}))))
             AS g
  FROM d
), probe AS (
  SELECT DISTINCT unnest(g) AS h FROM sh WHERE doc_id % 10 = 0
), corpus AS (
  SELECT doc_id, len(g) AS n_ngrams, unnest(g) AS h FROM sh WHERE doc_id % 10 <> 0
)
SELECT doc_id,
       count(*) AS n_overlap,
       CAST(min(n_ngrams) AS BIGINT) AS n_ngrams,
       floor(CAST(count(*) AS DOUBLE) / min(n_ngrams) * 1000000 + 0.5)
           / 1000000 AS contaminated_frac
FROM corpus JOIN probe USING (h)
GROUP BY doc_id
"""


@register("t_contamination", oracle=_CONTAMINATION)
def t_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    13-gram with a probe set (here a deterministic 10% id-slice standing
    in for an eval benchmark). Returns contaminated docs with overlap
    counts and the contaminated fraction of their distinct 13-grams.

    Scale design: shingles are hashed so the join key is a fixed-width
    long, not an ~80-char string. The hash is an internal join key only —
    the output is counts — so Spark uses xxhash64 while the oracle uses
    md5; both are collision-free here, so the counts agree. The gram
    builder is hashed_gram_rows (posexplode + lead window over 8-byte
    token hashes, fully codegen'd, no gram string ever materialized):
    the previous array-HOF slice+array_join formulation evaluated its
    lambda INTERPRETED per position and copied a 13-element slice each
    time — measured 77 s cache-cleared at sf0.1 vs ~9 s for this plan
    (the shared-warm best-of-3 had hidden the cost behind the .cache()).
    The distinct-grams-per-doc set and its size are one (doc_id, h)
    distinct plus a per-doc window count — 16-byte rows, both
    partial-agg'd.
    In production the probe side is a fixed benchmark suite — tiny and
    scale-invariant — so it gets F.broadcast and the whole check is a
    map-only scan over the corpus; here the probe grows with the corpus
    (an id-slice), so the join is left to AQE rather than
    force-broadcast."""
    # identity normalization (fuzz findings r6): duplicate rows would
    # double n_overlap (frac > 1), and it is gram_rows' unique-doc_id
    # window precondition
    docs = identity_documents(spark, sf_dir)
    # distinct hashed 13-grams per doc + the per-doc distinct count;
    # cached because the probe and corpus branches both consume it
    sig = (
        hashed_gram_rows(docs, CONTAM_N)
        .select("doc_id", F.col("gram_hash").alias("h"))
        .distinct()
        .withColumn(
            "n_ngrams", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        .cache()
    )
    probe = sig.where(F.col("doc_id") % 10 == 0).select("h").distinct()
    corpus = sig.where(F.col("doc_id") % 10 != 0)
    return (
        corpus.join(probe, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.min("n_ngrams").cast("long").alias("n_ngrams"),
        )
        .select(
            "doc_id",
            "n_overlap",
            "n_ngrams",
            (
                F.floor(
                    F.col("n_overlap").cast("double")
                    / F.col("n_ngrams")
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("contaminated_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-hash (Karp-Rabin) document fingerprint
# ---------------------------------------------------------------------------

_RH_BASE = 257
_RH_MOD = 1_000_000_007

_ROLLING_HASH = f"""
WITH h AS (
  -- NULL text -> NULL hash (DuckDB's list_prepend(0, NULL) = [0] would
  -- otherwise hash a missing doc as if it were empty — fuzz finding r6)
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(text) + 1),
                                 i -> CAST(ascii(substr(text, i, 1))
                                           AS BIGINT))),
                (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})
         END AS full_hash,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       full_hash,
       CAST(n_chars AS INTEGER) AS n_chars,
       CAST(full_hash % 997 AS INTEGER) AS shard
FROM h
"""


@register("t_rolling_hash", oracle=_ROLLING_HASH)
def t_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin polynomial rolling hash of the full document
    (h = fold(h*B + c mod M) over the character stream) — the incremental
    fingerprint primitive behind content-defined chunking and winnowing
    (t_fingerprint holds the min-k winnowed variant). Exact integer mod
    arithmetic, so the fold is engine-independent; one linear pass per
    doc, no shuffle. The derived shard (hash mod 997) is the routing key
    a content-addressed dedup store would partition by.
    """
    docs = load_table(spark, sf_dir, "documents")
    full_hash = F.expr(
        f"aggregate(transform(sequence(1, length(text)), "
        f"i -> cast(ascii(substr(text, i, 1)) as bigint)), "
        f"cast(0 as bigint), (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})"
    )
    return docs.select(
        "doc_id",
        full_hash.alias("full_hash"),
        F.length("text").alias("n_chars"),
        (full_hash % 997).cast("int").alias("shard"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (corpus-weighted per-doc top terms)
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3

_TFIDF = f"""
WITH d AS (
  -- doc_id IS NOT NULL (r8 grading-scale fuzz, seed 17): df counts
  -- DISTINCT doc_id, which excludes NULL ids — a term appearing ONLY
  -- in id-less docs gets df=0 and idf divides by zero (Spark ANSI
  -- throws, DuckDB emits inf). TF-IDF is per-document output, so
  -- id-less documents are excluded from corpus and scoring alike.
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE doc_id IS NOT NULL
), ex AS (
  SELECT doc_id, len(w) AS n_tokens, unnest(w) AS term FROM d
), tfd AS (
  SELECT doc_id, term,
         CAST(count(*) AS DOUBLE) / any_value(n_tokens) AS tf
  FROM ex GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tfd GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM d
), scored AS (
  SELECT tfd.doc_id, tfd.term,
         round(tfd.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tfd JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tfidf
FROM ranked WHERE rnk <= {TFIDF_TOPK}
"""


@register("t_tfidf_keywords", oracle=_TFIDF)
def t_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} TF-IDF terms per document — the classic corpus-weighted
    keyword extractor (tf = term freq / doc len, idf = ln(N/df)).

    Shuffle shape: one explode->groupBy on (doc_id, term) for tf (map-side
    partial agg), one groupBy on term for df, then the df table joins back
    onto the term stream. The df table is |vocabulary| rows — orders of
    magnitude smaller than the corpus (Heaps' law) but NOT scale-invariant,
    so it is left to AQE rather than force-broadcast (commit 0e3acb0
    policy). Ranking rounds to 6dp BEFORE the row_number so the
    (tfidf DESC, term) order is engine-stable; ties beyond 6dp break on
    the term string in both engines.
    """
    # doc_id IS NOT NULL: see the oracle's d-CTE pin (df=0 idf guard)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        F.explode(tokens("text")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        (F.count(F.lit(1)).cast("double") / F.first("n_tokens")).alias("tf")
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "term", "tfidf")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

TOP_TOKEN_MAX_FRAC = 0.2  # Gopher: docs where one token dominates
DUP_2GRAM_MAX_FRAC = 0.2  # docs whose 2-grams mostly repeat

_REPETITION = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), top_tok AS (
  SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_tokens
  FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(w) AS tok FROM d)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
), grams AS (
  SELECT doc_id,
         list_transform(
             range(1, CAST(greatest(len(w) - 1, 1) AS INTEGER) + 1),
             i -> concat_ws(' ', w[i], w[i + 1])) AS g2
  FROM d
), rep AS (
  SELECT t.doc_id,
         floor(CAST(t.top_cnt AS DOUBLE) / t.n_tokens * 1000000 + 0.5)
             / 1000000 AS top_token_frac,
         floor((1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2))
               * 1000000 + 0.5) / 1000000 AS dup_2gram_frac
  FROM top_tok t JOIN grams g USING (doc_id)
)
SELECT doc_id, top_token_frac, dup_2gram_frac,
       (top_token_frac > {TOP_TOKEN_MAX_FRAC}
        OR dup_2gram_frac > {DUP_2GRAM_MAX_FRAC}) AS is_repetitive
FROM rep
"""


@register("t_repetition", oracle=_REPETITION)
def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals — the Gopher/MassiveText quality
    rules a pretraining filter applies before dedup: fraction of the doc
    covered by its single most frequent token, and the fraction of
    duplicate word 2-grams.

    Top-token count rides the exploded (doc_id, token) aggregate
    (map-side partial agg, same shuffle shape as tf above); the 2-gram
    duplicate fraction is computed entirely inside the row (sequence +
    try_element_at transform — array indexing only, no hashing, so the
    interpreted-HOF tax is negligible) and never explodes. The two
    per-doc frames meet in one doc_id join that AQE plans.
    """
    docs = load_table(spark, sf_dir, "documents")
    top = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_cnt"),
            F.sum("count").alias("n_tokens"),
        )
    )
    g2 = F.expr(
        "transform(sequence(1, greatest(size(w) - 1, 1)), "
        "i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1)))"
    )
    grams = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).select(
        "doc_id",
        (1.0 - F.size(F.array_distinct(g2)).cast("double") / F.size(g2)).alias(
            "raw_dup"
        ),
    )
    rep = top.join(grams, "doc_id").select(
        "doc_id",
        (
            F.floor(
                F.col("top_cnt").cast("double") / F.col("n_tokens") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("top_token_frac"),
        (F.floor(F.col("raw_dup") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "dup_2gram_frac"
        ),
    )
    return rep.withColumn(
        "is_repetitive",
        (F.col("top_token_frac") > TOP_TOKEN_MAX_FRAC)
        | (F.col("dup_2gram_frac") > DUP_2GRAM_MAX_FRAC),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics (Zipf audit)
# ---------------------------------------------------------------------------

_VOCAB = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
), tops AS (
  SELECT tok AS top_token, cnt AS top_token_freq
  FROM freq ORDER BY cnt DESC, tok LIMIT 1
)
SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax,
       floor(CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / count(*)
             * 1000000 + 0.5) / 1000000 AS hapax_ratio,
       any_value(t.top_token) AS top_token,
       CAST(any_value(t.top_token_freq) AS BIGINT) AS top_token_freq
FROM freq CROSS JOIN tops t
"""


@register("t_vocab_stats", oracle=_VOCAB)
def t_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary audit: token/type counts, hapax-legomenon
    ratio (the Zipf tail a tokenizer trainer sizes against), and the
    modal token. One explode->groupBy(token) with map-side partial agg —
    the frequency table is |vocabulary| rows; every downstream aggregate
    runs on that, not the corpus. The single-row result is the broadcast
    scalar shape (no collect)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tops = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(1).select(
        F.col("tok").alias("top_token"), F.col("cnt").alias("top_token_freq")
    )
    return (
        freq.agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            # coalesce + try_divide: on an empty corpus the oracle's
            # count(*) FILTER is 0 (not NULL) and its 0/0 ratio is NULL;
            # a bare SUM would be NULL and a bare / would raise ANSI
            # DIVIDE_BY_ZERO (degenerate-fixture fuzz class)
            F.coalesce(
                F.sum((F.col("cnt") == 1).cast("long")), F.lit(0).cast("long")
            ).alias("n_hapax"),
            (
                F.floor(
                    F.try_divide(
                        F.coalesce(
                            F.sum((F.col("cnt") == 1).cast("long")), F.lit(0)
                        ).cast("double"),
                        F.count(F.lit(1)),
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("hapax_ratio"),
        )
        # left join on TRUE, not inner: `tops` is EMPTY for an empty
        # corpus, and the card must still emit its one row (with NULL
        # modal token), exactly like the oracle's aggregate-after-join
        .join(F.broadcast(tops), F.lit(True), "left")
        .select(
            "n_tokens",
            "n_distinct",
            "n_hapax",
            "hapax_ratio",
            "top_token",
            "top_token_freq",
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (perplexity-style quality signal)
# ---------------------------------------------------------------------------

_UNIGRAM_LM = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), ex AS (
  SELECT doc_id, unnest(w) AS term FROM d
), freq AS (
  SELECT term, count(*) AS c FROM ex GROUP BY term
), tot AS (
  SELECT count(*) AS n FROM ex
)
SELECT ex.doc_id,
       count(*) AS n_tokens,
       round(avg(ln(CAST(freq.c AS DOUBLE) / tot.n)), 4) AS avg_logprob
FROM ex JOIN freq USING (term) CROSS JOIN tot
GROUP BY ex.doc_id
"""


@register("t_unigram_lm", oracle=_UNIGRAM_LM)
def t_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under the corpus unigram MLE —
    the perplexity-style quality filter training pipelines run to drop
    gibberish (a doc of rare tokens scores far below the corpus mode).
    The reference computes nothing like this (§2.3: only min/max-key
    lookups); standard corpus-LM scoring from the web-scale-filtering
    literature (e.g. CCNet-style LM filtering), re-expressed as two
    aggregations and a join.

    Shuffle shape: one explode->groupBy(term) builds the vocab-sized
    frequency table; the token stream then joins it on term. The freq
    table follows Heaps' law (grows sublinearly, not scale-invariant) so
    it rides AQE rather than a forced broadcast; at 100 TB one would
    top-K-truncate it with an explicit smoothing floor for the tail.
    avg(ln p) is rounded at 4dp — summands are O(-10) over at most a few
    hundred tokens, so cross-engine float-sum drift (~1e-13) is far
    below the rounding quantum.
    """
    return _unigram_scores(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round("avg_raw", 4).alias("avg_logprob"),
    )


def _unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, avg_raw): the UNROUNDED mean log-prob under
    the corpus unigram MLE. t_unigram_lm rounds it for display;
    t_ccnet_buckets floor-snaps the RAW value (snapping the rounded
    column would double-round — round() is decimal HALF_UP while the
    snap is floor(x*1e4+0.5), and the two disagree on double
    midpoints, exactly the 1-ulp boundary class the bucket op was
    redesigned to eliminate)."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    freq = ex.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = ex.agg(F.count(F.lit(1)).alias("n"))
    return (
        ex.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("c").cast("double") / F.col("n"))).alias(
                "avg_raw"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Character-level Shannon entropy (quality signal)
# ---------------------------------------------------------------------------

_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, lang, unnest(str_split_regex(text, '')) AS ch
  FROM documents WHERE length(text) > 0
), freq AS (
  SELECT doc_id, lang, ch, count(*) AS cnt
  FROM chars GROUP BY doc_id, lang, ch
), ent AS (
  SELECT doc_id, lang,
         log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt) AS h
  FROM freq GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(h), 4) AS avg_entropy,
       round(min(h), 4) AS min_entropy,
       round(max(h), 4) AS max_entropy
FROM ent
GROUP BY lang
"""


@register("t_char_entropy", oracle=_CHAR_ENTROPY)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy, rolled up per
    language. Low-entropy documents (repeated characters, boilerplate,
    binary-ish junk) are a standard corpus-quality cut alongside the
    length/stopword gates in t_quality_rollup.

    H = log2(N) - sum(c*log2(c))/N from exact per-(doc,char) counts —
    the algebraic form avoids a second per-doc total join/window. Two
    shuffles, both collapsed by partial aggregation: the (doc, char)
    count reduces each partition's explode output to ~|alphabet| rows
    per doc before the exchange, and the per-doc merge reduces to one
    row per doc. The lang rollup is O(langs). Nothing here is
    corpus-skewed: keys are (doc, char) and doc, both uniform.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    chars = docs.select(
        "doc_id", "lang", F.explode(F.split("text", "")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "lang", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ent = freq.groupBy("doc_id", "lang").agg(
        (
            F.log2(F.sum("cnt"))
            - F.sum(F.col("cnt") * F.log2("cnt")) / F.sum("cnt")
        ).alias("h")
    )
    return ent.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("h"), 4).alias("avg_entropy"),
        F.round(F.min("h"), 4).alias("min_entropy"),
        F.round(F.max("h"), 4).alias("max_entropy"),
    )


# ---------------------------------------------------------------------------
# Corpus heavy hitters (exact top-k terms)
# ---------------------------------------------------------------------------

HH_K = 20

_HEAVY_HITTERS = f"""
WITH tf AS (
  SELECT unnest(str_split_regex(lower(text), '\\s+')) AS term
  FROM documents
), counted AS (
  SELECT term, count(*) AS cnt FROM tf WHERE term <> '' GROUP BY term
)
SELECT term, cnt,
       floor(cnt * 1.0 / (SELECT sum(cnt) FROM counted) * 1000000 + 0.5)
           / 1000000 AS frac
FROM counted
ORDER BY cnt DESC, term
LIMIT {HH_K}
"""


@register("t_heavy_hitters", oracle=_HEAVY_HITTERS)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{k} most frequent terms with corpus frequency share —
    the heavy-hitters census run before building filter lists or
    stopword tables. (cnt DESC, term) ordering makes ties
    deterministic cross-engine.

    One token shuffle partial-agg'd to the vocab-sized frequency
    table; the top-k is a TakeOrdered over that table (no global sort
    materialized) and the total is one scalar broadcast back over k
    rows. At 100 TB the vocab table follows Heaps' law — still
    reducer-friendly; the standard approximate swap-in is a count-min
    sketch per partition merged on the driver, worth it only when even
    the vocab table is too large to shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    counted = tf.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counted.agg(F.sum("cnt").alias("tot"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "term",
            "cnt",
            (
                F.floor(F.col("cnt") / F.col("tot") * 1000000 + F.lit(0.5))
                / 1000000
            ).alias("frac"),
        )
        .orderBy(F.desc("cnt"), "term")
        .limit(HH_K)
    )


# ---------------------------------------------------------------------------
# PII detection / redaction audit
# ---------------------------------------------------------------------------

# Patterns chosen for the RE2 (DuckDB) / Java-regex (Spark) common subset:
# character classes, bounded repeats, \b word boundaries — no lookarounds.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_PII = f"""
WITH hits AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ipv4,
         len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
         length(text)
           - length(regexp_replace(regexp_replace(regexp_replace(text,
               '{_EMAIL_RE}', '[PII]', 'g'),
               '{_IPV4_RE}', '[PII]', 'g'),
               '{_PHONE_RE}', '[PII]', 'g')) AS chars_delta
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(sum(n_email) AS BIGINT) AS total_emails,
       CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
       CAST(sum(n_phone) AS BIGINT) AS total_phones,
       CAST(sum(chars_delta) AS BIGINT) AS chars_redacted_delta
FROM hits
GROUP BY source
"""


@register("t_pii_redact", oracle=_PII)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit: per-source counts of email / IPv4 / phone
    matches and the character delta a '[PII]' redaction pass would make.
    The pre-training compliance gate every large corpus runs; the
    reference has no text surface (its payloads are opaque bytes —
    /root/reference/server/messages.go:61-69), so this extends §2.7.

    Map-only scan: every regex evaluates inside whole-stage codegen and
    the only shuffle is the final per-source partial-agg'd rollup. The
    patterns stay in the RE2/Java common subset so the DuckDB oracle
    states the same language. At 100 TB this is the shape you want:
    no UDF, no second pass (counts and redacted length come from one
    projection).
    """
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "[PII]"),
            _IPV4_RE,
            "[PII]",
        ),
        _PHONE_RE,
        "[PII]",
    )
    hits = docs.select(
        "source",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_email"),
        F.regexp_count("text", F.lit(_IPV4_RE)).alias("n_ipv4"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phone"),
        (F.length("text") - F.length(redacted)).alias("chars_delta"),
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # when/otherwise, not a bare boolean cast: a NULL-text doc has
        # NULL match counts, and the contract counts it as NOT having
        # PII (0) — a bare cast propagates NULL and an all-NULL source
        # then sums to NULL where the oracle's CASE yields 0
        # (nullmeas-fixture fuzz class)
        F.sum(
            F.when(
                (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0,
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias("docs_with_pii"),
        F.sum("n_email").alias("total_emails"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum("n_phone").alias("total_phones"),
        F.sum("chars_delta").alias("chars_redacted_delta"),
    )


# ---------------------------------------------------------------------------
# C4-style quality rules (per-doc heuristic gate flags)
# ---------------------------------------------------------------------------

C4_MIN_WORDS = 30
C4_MAX_WORDS = 100_000
C4_MEAN_LEN_LO = 3.8
C4_MEAN_LEN_HI = 5.2
C4_MAX_WORD_LEN = 15

_C4_RULES = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id, source,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             / len(toks) AS mean_wlen,
         list_contains(toks, 'the') OR list_contains(toks, 'a')
             AS has_stopword,
         list_max(list_transform(toks, x -> len(x))) <= {C4_MAX_WORD_LEN}
             AS no_long_word
  FROM t
)
SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
       floor(mean_wlen * 10000 + 0.5) / 10000 AS mean_wlen,
       -- flags coalesce FALSE: the gate REJECTS a missing document
       -- rather than emitting undecidable NULL flags (fuzz finding r6)
       coalesce(n_words BETWEEN {C4_MIN_WORDS} AND {C4_MAX_WORDS}, false)
           AS word_count_ok,
       coalesce(mean_wlen BETWEEN {C4_MEAN_LEN_LO} AND {C4_MEAN_LEN_HI},
                false) AS mean_len_ok,
       coalesce(has_stopword, false) AS has_stopword,
       coalesce(no_long_word, false) AS no_long_word,
       coalesce((n_words BETWEEN {C4_MIN_WORDS} AND {C4_MAX_WORDS})
                AND (mean_wlen BETWEEN {C4_MEAN_LEN_LO} AND {C4_MEAN_LEN_HI})
                AND has_stopword AND no_long_word, false) AS keep
FROM m
"""


@register("t_c4_rules", oracle=_C4_RULES)
def t_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic quality gate (Raffel et al. 2020 §2.2 rules,
    re-cut for the synthetic corpus): word-count bounds, mean-word-length
    band, stopword presence, and a max-word-length cap, each emitted as
    an auditable flag plus the combined keep decision.

    The threshold comparisons run on the RAW int/int ratio (integer
    inputs make the IEEE division bit-identical across engines); only the
    reported mean uses the floor(x*1e4+0.5) display rounding.

    Scale: map-only single pass over the scan — flags are codegen'd
    array-HOF expressions, no shuffle, no UDF; composes with
    t_quality_rollup's aggregate as the corpus-level report.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    lens = F.transform(toks, lambda x: F.length(x))
    n_words = F.size(toks)
    mean_wlen = (
        F.aggregate(lens, F.lit(0), lambda acc, x: acc + x).cast("double")
        / n_words
    )
    has_stopword = F.array_contains(toks, "the") | F.array_contains(toks, "a")
    no_long_word = F.array_max(lens) <= C4_MAX_WORD_LEN
    word_count_ok = n_words.between(C4_MIN_WORDS, C4_MAX_WORDS)
    mean_len_ok = mean_wlen.between(C4_MEAN_LEN_LO, C4_MEAN_LEN_HI)
    false = F.lit(False)
    return docs.select(
        "doc_id",
        "source",
        n_words.cast("long").alias("n_words"),
        (F.floor(mean_wlen * 10000 + F.lit(0.5)) / 10000).alias("mean_wlen"),
        # flags coalesce FALSE: the gate REJECTS a missing document
        # rather than emitting undecidable NULL flags (fuzz finding r6)
        F.coalesce(word_count_ok, false).alias("word_count_ok"),
        F.coalesce(mean_len_ok, false).alias("mean_len_ok"),
        F.coalesce(has_stopword, false).alias("has_stopword"),
        F.coalesce(no_long_word, false).alias("no_long_word"),
        F.coalesce(
            word_count_ok & mean_len_ok & has_stopword & no_long_word, false
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail split)
# ---------------------------------------------------------------------------

_CCNET_BUCKETS = (
    _UNIGRAM_LM.rsplit("SELECT ex.doc_id", 1)[0]
    + """, scored AS (
  SELECT ex.doc_id,
         CAST(floor(avg(ln(CAST(freq.c AS DOUBLE) / tot.n)) * 10000 + 0.5)
              AS BIGINT) AS s
  FROM ex JOIN freq USING (term) CROSS JOIN tot
  GROUP BY ex.doc_id
), hist AS (
  SELECT s, count(*) AS c FROM scored GROUP BY s
), cum AS (
  SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist
), nn AS (SELECT count(*) AS n FROM scored),
cuts AS (
  SELECT min(CASE WHEN cum * 3 >= n THEN s END) AS c1,
         min(CASE WHEN cum * 3 >= 2 * n THEN s END) AS c2
  FROM cum, nn
)
SELECT doc_id, s / 10000.0 AS avg_logprob,
       CASE WHEN s > c2 THEN 'head'
            WHEN s > c1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored, cuts
"""
)


@register("t_ccnet_buckets", oracle=_CCNET_BUCKETS)
def t_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank every
    document by its LM score (here the t_unigram_lm corpus-MLE mean
    log-prob; CCNet uses a KenLM perplexity — same pipeline shape) and
    cut the corpus into score tertiles. Training recipes then keep head,
    sample middle, drop tail.

    Composition, not new machinery: the scored frame is t_unigram_lm's
    plan; the cutoffs come from an INTEGER score histogram — scores
    snap to 4dp integers, the per-score counts cumulate over the
    (tiny, |distinct scores|-sized) histogram, and c1/c2 are the
    smallest scores whose cumulative count reaches n/3 and 2n/3. All
    boundary arithmetic is exact integer compares, because the
    continuous-percentile formulation proved 1-ulp fragile: at sf0.1
    the two engines' interpolation differed in the last bit while 121
    docs TIED at exactly the boundary score, flipping them all. Tied
    scores share a bucket by construction. Still no global sort over
    docs — only the histogram (bounded by the 4dp score range) is
    windowed.
    """
    scored = (
        _unigram_scores(spark, sf_dir)
        .select(
            "doc_id",
            F.floor(F.col("avg_raw") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("s"),
        )
        # doc-sized; materialize so histogram/count/filter reuse one
        # LM-scoring pass instead of re-running the corpus explode+join
        .localCheckpoint()
    )
    hist = scored.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "s",
        F.sum("c")
        .over(Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    cuts = cum.crossJoin(F.broadcast(n)).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("s"))).alias("c1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("s"))
        ).alias("c2"),
    )
    bucket = (
        F.when(F.col("s") > F.col("c2"), "head")
        .when(F.col("s") > F.col("c1"), "middle")
        .otherwise("tail")
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        (F.col("s") / 10000.0).alias("avg_logprob"),
        bucket.alias("bucket"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (the lexical-retrieval side of a RAG / data-curation
# stack, next to the vector side in similarity.py)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("join", "scan", "vector")
BM25_TOPK = 20

_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)

_BM25 = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), dl AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM d
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(w) AS tok FROM d)
  WHERE tok IN ({_BM25_TERMS})
  GROUP BY doc_id, tok
), dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf
  GROUP BY term
), scored AS (
  SELECT t.doc_id,
         floor(sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * t.tf * ({BM25_K1} + 1)
                   / (t.tf + {BM25_K1}
                      * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)))
               * 10000 + 0.5) / 10000 AS bm25
  FROM tf t
  JOIN dl l USING (doc_id)
  JOIN dft f USING (term)
  CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id NULLS LAST) AS INTEGER) AS rnk,
       doc_id, bm25
FROM scored
ORDER BY bm25 DESC, doc_id NULLS LAST
LIMIT {BM25_TOPK}
"""


@register("t_bm25", oracle=_BM25)
def t_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} BM25 ranking of the corpus for a fixed query term set —
    the lexical retriever (Robertson-Sparck-Jones idf, k1/b saturation)
    that pairs with the vector retrievers in similarity.py in any RAG or
    curation stack.

    Scale shape: the token explode filters to the query terms BEFORE any
    shuffle, so the tf aggregate moves |matching postings| rows, not the
    corpus; df (|query| rows) and the N/avgdl scalar frame are broadcast
    back onto it. The final top-k is orderBy+limit = TakeOrdered — a
    per-partition heap + driver merge of k rows, never a global sort.
    The sum rounds via the floor(x*1e4+0.5)/1e4 cross-engine rule before
    ranking; ties beyond 4dp break on doc_id in both engines.
    """
    return bm25_top(spark, sf_dir, BM25_TOPK, "rnk")


def ranked_head(df: DataFrame, k: int, rank: str, *order) -> DataFrame:
    """The global top-k of `df` by `order`, numbered 1..k in column
    `rank`. orderBy+limit is TakeOrdered (a per-partition heap and a
    driver merge of k rows); the row_number then ranks the k survivors
    only — ranking before the cut would drag every row through one
    partition."""
    top = df.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.select(F.row_number().over(w).alias(rank), *df.columns)


def bm25_top(
    spark: SparkSession, sf_dir: str, k: int, rank: str, postings=True
) -> DataFrame:
    """(rank, doc_id, bm25): the top-k documents by BM25 for BM25_QUERY,
    ties to the lowest doc_id. `postings` filters the query-term
    postings (doc_id, term) before the tf aggregate; n_docs and avgdl
    stay corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(tokens("text")).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .where(F.col("term").isin(*BM25_QUERY) & postings)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (F.floor(F.sum(idf * sat) * 10000 + F.lit(0.5)) / 10000).alias(
                "bm25"
            )
        )
    )
    return ranked_head(
        scored, k, rank, F.desc("bm25"), F.asc_nulls_last("doc_id")
    )


# ---------------------------------------------------------------------------
# Zipf fit over the corpus vocabulary (power-law health check)
# ---------------------------------------------------------------------------

_ZIPF = """
WITH freq AS (
  SELECT tok AS term, CAST(count(*) AS DOUBLE) AS freq
  FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  )
  GROUP BY tok
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE))
             AS lx,
         ln(freq) AS ly
  FROM freq
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       floor(regr_slope(ly, lx) * 10000 + 0.5) / 10000 AS zipf_slope,
       floor(regr_intercept(ly, lx) * 10000 + 0.5) / 10000 AS zipf_intercept
FROM ranked
"""


@register("t_zipf_fit", oracle=_ZIPF)
def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the vocabulary: regress ln(freq) on ln(rank) over
    the term-frequency table — the classic corpus-health check (natural
    text sits near slope -1; synthetic or template-heavy corpora flatten
    or step). Surfaces the regr_* aggregate family.

    Scale shape: one corpus-wide token aggregate (map-side partial) down
    to |vocabulary| rows (Heaps' law: millions, not billions), then a
    rank window and ONE regression aggregate over that small frame. The
    global rank window is a single-task sort of the vocab table only —
    never the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log("freq").alias("ly"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.floor(F.regr_slope("ly", "lx") * 10000 + F.lit(0.5)) / 10000).alias(
            "zipf_slope"
        ),
        (
            F.floor(F.regr_intercept("ly", "lx") * 10000 + F.lit(0.5)) / 10000
        ).alias("zipf_intercept"),
    )

# ---------------------------------------------------------------------------
# Source-pair distribution divergence (Jensen-Shannon over unigrams) —
# the domain-shift / corpus-drift detector of a mixture pipeline
# ---------------------------------------------------------------------------

_SOURCE_DIVERGENCE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), dist AS (
  SELECT source, term,
         CAST(count(*) AS DOUBLE)
         / sum(count(*)) OVER (PARTITION BY source) AS p
  FROM tok GROUP BY source, term
), srcs AS (
  SELECT DISTINCT source FROM documents
), vocab AS (
  SELECT DISTINCT term FROM dist
), grid AS (
  SELECT a.source AS source_a, b.source AS source_b, v.term
  FROM srcs a JOIN srcs b ON a.source < b.source
  CROSS JOIN vocab v
), j AS (
  SELECT g.source_a, g.source_b,
         coalesce(da.p, 0) AS pa, coalesce(db.p, 0) AS pb
  FROM grid g
  LEFT JOIN dist da ON da.source = g.source_a AND da.term = g.term
  LEFT JOIN dist db ON db.source = g.source_b AND db.term = g.term
)
SELECT source_a, source_b,
       floor(sum(0.5 * (CASE WHEN pa > 0
                             THEN pa * ln(2 * pa / (pa + pb)) ELSE 0 END)
                 + 0.5 * (CASE WHEN pb > 0
                               THEN pb * ln(2 * pb / (pa + pb)) ELSE 0 END))
             * 10000 + 0.5) / 10000 AS jsd
FROM j GROUP BY source_a, source_b
"""


@register("t_source_divergence", oracle=_SOURCE_DIVERGENCE)
def t_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the corpus-drift / domain-shift
    gauge a mixture pipeline watches (JSD is symmetric, bounded by ln 2,
    and 0 iff the distributions match; mixture weights get rebalanced
    when a crawl snapshot drifts).

    Scale shape: the corpus is scanned once into per-source unigram
    distributions — vocab-sized frames (Heaps' law), everything after is
    joins over |sources|² x |vocab| rows, orders of magnitude below the
    corpus. The pair grid is built from the distinct-source frame (tiny,
    broadcast); absent terms contribute their one-sided KL mass via
    coalesce(p, 0), so no full-outer join is needed. The JSD sum rounds
    via the cross-engine floor rule before comparison.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    counts = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_src = Window.partitionBy("source")
    dist = counts.select(
        "source",
        "term",
        (F.col("c").cast("double") / F.sum("c").over(w_src)).alias("p"),
    )
    srcs = docs.select("source").distinct()
    vocab = dist.select("term").distinct()
    grid = (
        srcs.alias("a")
        .join(
            srcs.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .crossJoin(F.broadcast(vocab))
    )
    da = dist.select(
        F.col("source").alias("source_a"),
        F.col("term").alias("term_a"),
        F.col("p").alias("pa"),
    )
    db = dist.select(
        F.col("source").alias("source_b"),
        F.col("term").alias("term_b"),
        F.col("p").alias("pb"),
    )
    j = (
        grid.join(
            da,
            (grid.source_a == da.source_a) & (grid.term == da.term_a),
            "left",
        )
        .drop(da.source_a)
        .join(
            db,
            (grid.source_b == db.source_b) & (grid.term == db.term_b),
            "left",
        )
        .drop(db.source_b)
        .select(
            "source_a",
            "source_b",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    pa, pb = F.col("pa"), F.col("pb")
    contrib = 0.5 * F.when(
        pa > 0, pa * F.log(2 * pa / (pa + pb))
    ).otherwise(0.0) + 0.5 * F.when(
        pb > 0, pb * F.log(2 * pb / (pa + pb))
    ).otherwise(0.0)
    return j.groupBy("source_a", "source_b").agg(
        (F.floor(F.sum(contrib) * 10000 + F.lit(0.5)) / 10000).alias("jsd")
    )


# ---------------------------------------------------------------------------
# Overlapping token-window chunking (RAG / embedding-pipeline prep)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = 16)

_CHUNK_OVERLAP = f"""
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS t FROM documents
), starts AS (
  SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(least({CHUNK_TOKENS}, len(t) - start) AS INTEGER) AS chunk_tokens,
       md5(array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' '))
         AS chunk_hash
FROM starts
"""


@register("t_chunk_overlap", oracle=_CHUNK_OVERLAP)
def t_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: each document is cut into
    CHUNK_TOKENS-token windows whose starts step by CHUNK_STRIDE, the
    standard prep for an embedding/RAG pipeline (the reference's closest
    relative is write-side ChunkByCount, /root/reference/server/
    produce.go:chunking — this is the read-side analog over payload
    text). Output is one row per chunk with its token count and an md5
    chunk fingerprint (the join key a downstream embed-and-index stage
    would use).

    Scale: pure map-side — sequence/posexplode/slice are all codegen'd,
    no shuffle at all; the fan-out factor is bounded by
    n_tokens/CHUNK_STRIDE per doc, so output partitioning inherits the
    input's and a 100 TB corpus chunks embarrassingly parallel. slice()
    past the array end clamps, matching the oracle's list-slice
    semantics, so tail chunks are the natural remainder."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    # NULL text chunks to NOTHING: without the filter, Spark's
    # null-skipping greatest/least would fabricate one phantom chunk
    # (greatest(NULL-1, 0) = 0) where the oracle's range(0, NULL) emits
    # none (fuzz finding r6)
    sized = docs.where(F.col("text").isNotNull()).select(
        "doc_id", t.alias("t")
    )
    return sized.select(
        "doc_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("t") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("chunk_id", "start"),
        "t",
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.least(
            F.lit(CHUNK_TOKENS), F.size("t") - F.col("start")
        ).cast("int").alias("chunk_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice("t", F.col("start") + 1, F.lit(CHUNK_TOKENS))
            )
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM quality scoring (KenLM-style, one order up)
# ---------------------------------------------------------------------------

BIGRAM_LAMBDA = 0.75  # weight on the bigram term; 1-λ on the unigram backoff

_BIGRAM_LM = f"""
WITH d AS (
  -- corpus LM counts are over DISTINCT documents: duplicate rows must
  -- not inflate unigram/bigram frequencies (fuzz finding r6)
  SELECT doc_id, string_split(text, ' ') AS w
  FROM (SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL GROUP BY doc_id)
), ex AS (
  SELECT doc_id, unnest(w) AS term, unnest(range(len(w))) AS pos FROM d
), uni AS (
  SELECT term, count(*) AS c FROM ex GROUP BY term
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM ex
), big AS (
  -- IS NOT DISTINCT FROM: the NULL-id document is one document (the
  -- engine's lead() window treats NULL doc_id as one partition), so
  -- its bigrams must survive this self-align too (null-key fuzz r7)
  SELECT a.doc_id, a.pos, a.term AS w_prev, b.term AS w_cur
  FROM ex a JOIN ex b ON a.doc_id IS NOT DISTINCT FROM b.doc_id
                     AND b.pos = a.pos + 1
), bfreq AS (
  SELECT w_prev, w_cur, count(*) AS cb FROM big GROUP BY 1, 2
)
SELECT big.doc_id,
       count(*) AS n_bigrams,
       round(avg(ln(
         {BIGRAM_LAMBDA} * CAST(bf.cb AS DOUBLE) / up.c
         + {1 - BIGRAM_LAMBDA} * CAST(uc.c AS DOUBLE) / tot.n
       )), 4) AS avg_logprob
FROM big
JOIN bfreq bf ON bf.w_prev = big.w_prev AND bf.w_cur = big.w_cur
JOIN uni up ON up.term = big.w_prev
JOIN uni uc ON uc.term = big.w_cur
CROSS JOIN tot
GROUP BY big.doc_id
"""


@register("t_bigram_lm", oracle=_BIGRAM_LM)
def t_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an interpolated corpus
    bigram LM: P(w|v) = λ·c(vw)/c(v) + (1-λ)·c(w)/N — one order up from
    t_unigram_lm, the shape CCNet/KenLM-style quality filters actually
    deploy (bigram surprise separates shuffled-word salad from fluent
    text, which a unigram model cannot). Both terms are corpus-MLE so
    every probability is positive for in-corpus bigrams; docs with < 2
    tokens have no bigrams and drop out, matching the oracle.

    Shuffle shape: the (doc_id,pos)-keyed token stream self-aligns via
    a lead() window (one doc_id shuffle, no pos self-join); bigram and
    unigram count tables are Heaps-law-sized and join back onto the
    bigram stream under AQE. Per-doc aggregation is the final
    partial-agg'd shuffle — 4 shuffles total, all map-combined. At
    100 TB the count tables get top-K truncation + a smoothing floor
    exactly like the unigram scorer.
    """
    # identity normalization (same contract as the oracle): duplicate
    # rows corrupt both the corpus counts and the lead-window bigram
    # stream (fuzz findings r6)
    docs = identity_documents(spark, sf_dir)
    ex = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    uni = ex.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = ex.agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        ex.withColumn("w_cur", F.lead("term").over(w))
        .where(F.col("w_cur").isNotNull())
        .select("doc_id", F.col("term").alias("w_prev"), "w_cur")
    )
    bfreq = big.groupBy("w_prev", "w_cur").agg(F.count(F.lit(1)).alias("cb"))
    up = uni.select(F.col("term").alias("w_prev"), F.col("c").alias("c_prev"))
    uc = uni.select(F.col("term").alias("w_cur"), F.col("c").alias("c_cur"))
    p = F.lit(BIGRAM_LAMBDA) * F.col("cb").cast("double") / F.col(
        "c_prev"
    ) + F.lit(1 - BIGRAM_LAMBDA) * F.col("c_cur").cast("double") / F.col("n")
    return (
        big.join(bfreq, ["w_prev", "w_cur"])
        .join(up, "w_prev")
        .join(uc, "w_cur")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Novelty scoring: each document's contribution of first-seen n-grams
# ---------------------------------------------------------------------------

_NOVELTY = """
WITH d AS (
  -- identity contract, NULL text has no shingles (fuzz finding r6 —
  -- matches the shared hashed-shingle table the Spark side reuses)
  SELECT doc_id, string_split(text, ' ') AS w
  FROM (SELECT doc_id, min(text) AS text FROM documents
        WHERE text IS NOT NULL GROUP BY doc_id)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
  FROM d
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), owner AS (
  SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY shingle
)
SELECT ex.doc_id,
       count(*) AS n_grams,
       -- IS NOT DISTINCT FROM: the NULL-id document owns a gram iff
       -- min() skipped every id, matching the engine's eqNullSafe
       -- (null-key fuzz class r7)
       CAST(sum(CASE WHEN o.first_doc IS NOT DISTINCT FROM ex.doc_id
                THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
       floor(sum(CASE WHEN o.first_doc IS NOT DISTINCT FROM ex.doc_id
                 THEN 1 ELSE 0 END)
             * 10000.0 / count(*) + 0.5) / 10000 AS novelty
FROM ex JOIN owner o USING (shingle)
GROUP BY ex.doc_id
"""


@register("t_novelty", oracle=_NOVELTY)
def t_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles whose FIRST corpus appearance (min doc_id, the ingestion
    order key) is this doc. Near-dups of earlier docs score ~0, fresh
    content scores ~1 — the streaming complement of pairwise dedup
    (what d_incremental_dedup answers per batch, answered per doc), and
    the signal behind "how much new data did this crawl actually add".

    Scale path: reuses the cached hashed-shingle table every dedup op
    shares, so the corpus is NOT re-shingled; one partial-agg'd shuffle
    builds the gram→min(doc_id) ownership table (vocab-of-grams sized),
    which joins back onto the gram stream under AQE — the exact shape
    of t_unigram_lm with min() for count(). No pair materialization
    anywhere; cost is linear in total distinct grams.
    """
    from streams_spark.operators.dedup import shingle_table

    sh = shingle_table(spark, sf_dir)  # (doc_id, hs: sorted gram hashes)
    ex = sh.select("doc_id", F.explode("hs").alias("h"))
    owner = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    # null-SAFE equality: the NULL-id document owns a gram iff min()
    # skipped every id (gram appears only there) — a plain == yields
    # NULL, which sum() skips, leaving novel_grams NULL instead of the
    # oracle's CASE-else-0 (null-key fuzz class r7)
    novel = F.sum(
        F.col("first_doc").eqNullSafe(F.col("doc_id")).cast("long")
    )
    return (
        ex.join(owner, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("novel_grams"),
            (
                F.floor(
                    novel * 10000.0 / F.count(F.lit(1)) + F.lit(0.5)
                )
                / 10000
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge candidates: corpus-weighted adjacent character-pair counts
# ---------------------------------------------------------------------------

BPE_TOP_K = 20

_BPE_PAIRS = f"""
WITH ex AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word, count(*) AS freq FROM ex GROUP BY word
), pairs AS (
  SELECT unnest(list_transform(range(1, len(word)), i -> substr(word, i, 2)))
           AS pair,
         freq
  FROM vocab WHERE len(word) >= 2
), counted AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT pair, n, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rnk
  FROM counted
)
WHERE rnk <= {BPE_TOP_K}
"""


@register("t_bpe_pairs", oracle=_BPE_PAIRS)
def t_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training, distributed: count
    corpus occurrences of every adjacent character pair (weighted by
    word frequency) and rank the top merge candidates — what
    `tokenizers`/SentencePiece compute in-memory per merge round,
    re-expressed so a 100 TB corpus can vote. Deterministic rank ties
    broken by pair text on both engines.

    Scale path: the corpus collapses to the Heaps-law vocab FIRST (one
    partial-agg'd shuffle on word), so pair extraction runs over
    distinct words only — character fan-out never touches the full
    token stream. Pair counting is a second partial-agg'd shuffle onto
    the tiny pair alphabet (|chars|^2-bounded), and the top-k is a
    TakeOrdered over that frame, no global sort. Iterating merges =
    re-running with the winning pair fused, each round this same
    two-shuffle shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("word") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    w = Window.orderBy(F.desc("n"), F.col("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= BPE_TOP_K)
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix + per-pair accuracy
# ---------------------------------------------------------------------------

_LANGID_CONFUSION = f"""
WITH scored AS ({_LANG_ID})
SELECT actual_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       (actual_lang = predicted_lang) AS correct
FROM scored
GROUP BY actual_lang, predicted_lang
"""


@register("t_langid_confusion", oracle=_LANGID_CONFUSION)
def t_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language classifier against
    the labeled `lang` column — the in-engine evaluation loop every
    classifier op needs (same pattern as s_recall_eval for ANN): reuse
    the deployed t_lang_id plan verbatim, then one partial-agg'd
    shuffle onto the |langs|^2 grid.

    Scale: evaluation costs one aggregate more than inference; the
    grid is 25 cells regardless of corpus size."""
    scored = t_lang_id(spark, sf_dir)
    return scored.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.col("actual_lang") == F.col("predicted_lang")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (bounded-memory, mergeable, value-checked)
# ---------------------------------------------------------------------------

# Universal-hash family over a 32-bit md5 prefix (the d_minhash_lsh_md5
# recipe, different seeds): slot_r(x) = ((A_r*x + B_r) mod P) mod W.
# P = 2^31-1 prime; A odd < 2^30 so A*x < 2^62 never overflows a signed
# long; x < 2^32 from 8 md5 nibbles — exact on both engines.
CMS_D = 4
CMS_W = 512
CMS_P = 2_147_483_647
CMS_A = [((r * 2_246_822_519 + 3_266_489_917) % (1 << 30)) | 1 for r in range(CMS_D)]
CMS_B = [(r * 668_265_263 + 374_761_393) % CMS_P for r in range(CMS_D)]
CMS_TOPK = 20

_CMS_HEAVY = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), h AS (
  SELECT t, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS x FROM tok
), rows_ AS (
  SELECT r.r, a.a, b.b
  FROM (SELECT unnest(range({CMS_D})) AS r) r
  JOIN (SELECT unnest(range({CMS_D})) AS r, unnest({CMS_A!r}) AS a) a
    ON a.r = r.r
  JOIN (SELECT unnest(range({CMS_D})) AS r, unnest({CMS_B!r}) AS b) b
    ON b.r = r.r
), counters AS (
  SELECT rows_.r, ((rows_.a * h.x + rows_.b) % {CMS_P}) % {CMS_W} AS slot,
         CAST(count(*) AS BIGINT) AS cnt
  FROM h CROSS JOIN rows_
  GROUP BY 1, 2
), vocab AS (
  SELECT t, any_value(x) AS x, CAST(count(*) AS BIGINT) AS true_count
  FROM h GROUP BY t
), est AS (
  SELECT v.t, v.true_count, min(c.cnt) AS est_count
  FROM vocab v
  CROSS JOIN rows_
  JOIN counters c
    ON c.r = rows_.r
   AND c.slot = ((rows_.a * v.x + rows_.b) % {CMS_P}) % {CMS_W}
  GROUP BY v.t, v.true_count
)
SELECT t AS term, est_count, true_count
FROM est
ORDER BY est_count DESC, term
LIMIT {CMS_TOPK}
"""


@register("t_cms_heavy", oracle=_CMS_HEAVY)
def t_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch — the bounded-memory,
    MERGEABLE swap-in that t_heavy_hitters' docstring promises for the
    100 TB regime, where the exact vocab table stops being cheap. The
    sketch is {CMS_D}x{CMS_W} integer counters built in ONE partial-agg'd
    shuffle whose reduce side is <= D*W = 2048 rows NO MATTER the corpus
    size (counters of shards add elementwise — the same mergeability as
    q_hll_union / q_kmv_distinct); estimates then come from broadcasting
    that tiny table onto the vocab stream and taking the min over the D
    rows (upper bound with eps = e/W, delta = e^-D guarantees,
    Cormode & Muthukrishnan 2005).

    Every number is value-checked by the oracle: the hash family is the
    portable md5-prefix universal hash (d_minhash_lsh_md5 recipe), so
    both engines compute identical slots, counters, and estimates; the
    top-k order (est DESC, term) is total. true_count rides along to
    surface the overestimation bias (est >= true always).

    Scale: at 100 TB only the candidate set changes — you estimate
    per-partition local top-k candidates (or track them inside the same
    pass) instead of the full vocabulary; the sketch build itself is
    already the scale path."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
    withx = toks.select(
        "t",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("x"),
    )

    def slot(r: int, x):
        return ((F.lit(CMS_A[r]) * x + F.lit(CMS_B[r])) % CMS_P) % CMS_W

    pairs = withx.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), slot(r, F.col("x")).alias("slot")
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rs")
    )
    counters = pairs.groupBy("rs.r", "rs.slot").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = withx.groupBy("t").agg(
        F.first("x").alias("x"), F.count(F.lit(1)).alias("true_count")
    )
    vslots = vocab.select(
        "t",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), slot(r, F.col("x")).alias("slot")
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rs"),
    ).select("t", "true_count", "rs.r", "rs.slot")
    est = (
        vslots.join(F.broadcast(counters), ["r", "slot"])
        .groupBy("t", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.select(
            F.col("t").alias("term"), "est_count", "true_count"
        )
        .orderBy(F.desc("est_count"), "term")
        .limit(CMS_TOPK)
    )
