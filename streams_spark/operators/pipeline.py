"""Training-data pipeline operators: packing, splitting, mixing.

The reference engine stops at the event-log/query surface; these are the
operations a 100 TB LLM training-data pipeline runs downstream of dedup +
quality filtering (SURVEY.md §8.3 extension). All are deterministic so
every one carries a DuckDB oracle.

Scale designs (the interesting part of each op is the shuffle shape):

- `p_pack_sequences`: concat-and-chunk packing needs a GLOBAL running
  token total — a naive Window ordered by doc_id alone collapses to one task.
  Implemented as a two-level distributed prefix sum: per-group cumsums
  partitioned by `doc_id div G` (parallel), plus a group-offset table
  (one row per group — n_docs/G rows, tiny) prefix-summed and
  broadcast-joined back. At 1e9 docs and G=10k that middle table is 1e5
  rows: driver-trivial, and the pattern nests to three levels if it ever
  isn't.
- `p_train_val_split` / `p_source_mix`: pure map-side hashing — zero
  shuffle before the final per-split/per-source aggregate.
- `t` histogramming: single partial-agg'd groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_spark.functions.text_funcs import tokens
from streams_spark.operators import half_up
from streams_spark.registry import register
from streams_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk into fixed context windows)
# ---------------------------------------------------------------------------

CONTEXT_TOKENS = 256  # context-window budget per packed sequence
PREFIX_GROUP = 100  # docs per prefix-sum group

_PACK = f"""
WITH sized AS (
  -- doc_id IS NOT NULL: the packing layout is keyed by doc identity;
  -- a NULL id has no position in the concat order (and the engines
  -- disagree on where NULL sorts), so it is out of the layout on both
  -- sides (null-key fuzz class r7)
  SELECT doc_id, len(str_split(text, ' ')) AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL
), placed AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id NULLS LAST
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
  FROM sized
)
SELECT CAST(start_tok // {CONTEXT_TOKENS} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1
"""


@register("p_pack_sequences", oracle=_PACK)
def p_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    doc_id order and cut into fixed CONTEXT_TOKENS windows; a doc belongs
    to the bin where it STARTS (the standard pre-tokenized LLM packing
    layout). Returns per-bin doc/token counts and doc-id span.

    The global running total is a two-level distributed prefix sum (see
    module docstring) — no single-task global window anywhere.
    """
    # NULL-id docs are out of the layout (see oracle comment)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    sized = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        (F.col("doc_id") / PREFIX_GROUP).cast("long").alias("g"),
    )
    # level 1: cumsum within each group (parallel across groups)
    wg = (
        Window.partitionBy("g")
        .orderBy(F.asc_nulls_last("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sized.withColumn(
        "local_cum", F.sum("n_tokens").over(wg) - F.col("n_tokens")
    )
    # level 2: per-group totals, prefix-summed over the tiny group table
    wo = (
        Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        sized.groupBy("g")
        .agg(F.sum("n_tokens").alias("g_total"))
        .withColumn("g_offset", F.coalesce(F.sum("g_total").over(wo), F.lit(0)))
        .select("g", "g_offset")
    )
    placed = local.join(F.broadcast(offsets), "g").withColumn(
        "start_tok", F.col("g_offset") + F.col("local_cum")
    )
    return (
        placed.withColumn(
            "bin_id", (F.col("start_tok") / CONTEXT_TOKENS).cast("long")
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash bucketing)
# ---------------------------------------------------------------------------

_SPLIT = """
WITH bucketed AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
              AS INTEGER) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM bucketed
GROUP BY 1
"""


@register("p_train_val_split", oracle=_SPLIT)
def p_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split keyed on md5(doc_id) — deterministic,
    engine-independent (the md5 hex prefix is the portable analog of the
    usual `hash(id) % 100`, which Spark and DuckDB would compute
    differently), stable under corpus growth (a doc never changes split
    when new docs arrive). Pure map-side: zero shuffle before the 3-row
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        _md5_bucket(F.col("doc_id"), 1, 100)
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "source",
            F.size(tokens("text")).alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted source mixing (per-domain sampling rates)
# ---------------------------------------------------------------------------

# sampling rate per source tier — the "data mixture" a training run
# declares (e.g. upsample curated sources, downsample crawl)
_TIER_RATE = {0: 0.8, 1: 0.5, 2: 0.2}


def _tier(source_col):
    # src0-src4 -> tier 0, src5-src9 -> tier 1, rest -> tier 2.
    # try_cast, not cast: under ANSI mode (on in this repo's sessions) a
    # digit-less source would make cast('' AS INT) THROW instead of
    # falling through to tier 2 as documented — try_cast yields NULL and
    # the otherwise() branch really is reachable.
    n = F.regexp_extract(source_col, r"(\d+)", 1).try_cast("int")
    return F.when(n < 5, 0).when(n < 10, 1).otherwise(2)


def _md5_bucket(col, start: int, mod: int):
    """Deterministic bucket in [0, mod): integer value of 4 hex chars of
    md5(col) starting at `start` (1-based), mod `mod`. THE shared draw
    for split assignment (chars 1-4) and sampling (chars 5-8) — the
    oracles repeat the same arithmetic in SQL, so every consumer must
    use this helper rather than a hand-rolled copy."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), start, 4), 16, 10)
        .cast("int")
        % mod
    )


_MIX = """
WITH tiered AS (
  SELECT doc_id, source,
         CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 5 THEN 0
              WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 10 THEN 1
              ELSE 2 END AS tier,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
              AS INTEGER) % 10 AS r
  FROM documents
)
SELECT source, tier,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE r < CASE tier WHEN 0 THEN 8
                                                 WHEN 1 THEN 5
                                                 ELSE 2 END) AS BIGINT)
           AS n_sampled
FROM tiered
GROUP BY source, tier
"""


@register("p_source_mix", oracle=_MIX)
def p_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: each source tier gets a target rate
    (curated 0.8 / mid 0.5 / crawl 0.2) and docs are kept by a
    deterministic hash draw — reproducible across runs and engines,
    unlike `rand()`. Returns per-source kept/total so the achieved
    mixture is auditable. Map-side only; the aggregate is one shuffle of
    |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tier = _tier(F.col("source"))
    draw = _md5_bucket(F.col("doc_id"), 5, 10)
    rate10 = (
        F.when(tier == 0, 8).when(tier == 1, 5).otherwise(2)
    )
    return (
        docs.select(
            "source",
            tier.alias("tier"),
            (draw < rate10).cast("long").alias("keep"),
        )
        .groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus length histogram
# ---------------------------------------------------------------------------

_HIST = """
WITH sized AS (
  SELECT len(str_split(text, ' ')) AS n_tokens FROM documents
)
SELECT CAST(n_tokens // 10 AS BIGINT) * 10 AS bucket_lo,
       count(*) AS n_docs,
       floor(count(*) * 100.0 / (SELECT count(*) FROM sized)
             * 10000 + 0.5) / 10000 AS pct
FROM sized
GROUP BY 1
"""


@register("t_length_histogram", oracle=_HIST)
def t_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (width-10 buckets) with corpus share — the
    standard pre-training length-distribution audit. One partial-agg'd
    groupBy; the corpus total rides along as a scale-invariant broadcast
    scalar (cross-joined 1-row frame), not a second scan."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(F.size(tokens("text")).alias("n_tokens"))
    hist = sized.groupBy(
        ((F.col("n_tokens") / 10).cast("long") * 10).alias("bucket_lo")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    total = sized.agg(F.count(F.lit(1)).alias("total"))
    return hist.join(F.broadcast(total)).select(
        "bucket_lo",
        "n_docs",
        (
            F.floor(
                F.col("n_docs") * 100.0 / F.col("total") * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("pct"),
    )


# ---------------------------------------------------------------------------
# Token-budget source selection (prioritized mixture fill)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 30_000

_BUDGET = f"""
WITH sized AS (
  SELECT source,
         CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 5 THEN 0
              WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 10 THEN 1
              ELSE 2 END AS tier,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), ordered AS (
  SELECT source, tier, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY tier, source NULLS LAST
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens
  FROM sized
)
SELECT source, tier, n_tokens, cum_tokens,
       cum_tokens <= {TOKEN_BUDGET} AS included
FROM ordered
"""


@register("p_token_budget", oracle=_BUDGET)
def p_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prioritized token-budget fill: sources are ranked by tier (curated
    first) and greedily admitted until the training-token budget is
    exhausted — how a run manifest pins its mixture to a compute budget.

    The cumulative sum runs over the per-SOURCE aggregate (|sources|
    rows, already reduced by a partial-agg'd shuffle), so the
    single-partition window is driver-trivial at any corpus size — the
    giant input never sees a global window (contrast p_pack_sequences,
    where the prefix sum is over docs and must be two-level).
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = (
        docs.select(
            "source",
            _tier(F.col("source")).alias("tier"),
            F.size(tokens("text")).alias("toks"),
        )
        .groupBy("source", "tier")
        .agg(F.sum("toks").alias("n_tokens"))
    )
    # NULL-source pin (r8 fuzz): a NULL source lands in tier 2 on both
    # engines (CASE/otherwise fallthrough), but the `source` tie-break
    # is ASC — Spark defaults NULLS FIRST where DuckDB defaults NULLS
    # LAST, so the NULL-source row's budget position diverged. Pin to
    # the oracle's nulls-last (budget fills named sources first).
    w = (
        Window.orderBy(F.col("tier").asc(), F.col("source").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("included", F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("source", "tier", "n_tokens", "cum_tokens", "included")
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (sharded training order)
# ---------------------------------------------------------------------------

N_SHARDS = 16

_SHUFFLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(('shuf-' || CAST(doc_id AS VARCHAR))) AS k,
         CAST(('0x' || substr(md5(('shuf-' || CAST(doc_id AS VARCHAR))),
                                  1, 4)) AS INTEGER) % {N_SHARDS} AS shard
  FROM documents
)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id NULLS LAST)
            AS INTEGER) AS pos,
       doc_id
FROM keyed
"""


@register("p_corpus_shuffle", oracle=_SHUFFLE)
def p_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into N_SHARDS shards with a
    pseudo-random within-shard order — how a training run materializes
    its example order ONCE, reproducibly (seeded key, not rand()), so
    every epoch and every restart reads the same sequence. The md5 keying
    makes it engine-portable and stable under reruns.

    Scale: the only shuffle is the hash partition on `shard`; each shard
    sorts independently (no global orderBy, no single-task window). Shard
    count scales with corpus size (fixed 16 here for the oracle) so
    per-shard sorts stay memory-sized; writing shards as files then gives
    sequential-read training order with random access per shard.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("shuf-"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(k, 1, 4), 16, 10).cast("int") % N_SHARDS
    keyed = docs.select("doc_id", k.alias("k"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("k", F.asc_nulls_last("doc_id"))
    return keyed.select(
        "shard", F.row_number().over(w).alias("pos"), "doc_id"
    )


# ---------------------------------------------------------------------------
# End-to-end pipeline funnel: quality gate -> exact dedup -> prefix dedup
# ---------------------------------------------------------------------------

from streams_spark.functions.text_funcs import STOPWORDS as _STOPWORDS

_SW_LIST = ", ".join(f"'{s}'" for s in _STOPWORDS)

_FUNNEL_REPORT = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         md5(text) AS content_key,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_key
  FROM documents
), attrs AS (
  SELECT doc_id, content_key, prefix_key, len(w) AS n_tokens,
         CAST(len(list_filter(w, t -> t IN ({_SW_LIST}))) AS DOUBLE) / len(w)
             AS swr
  FROM d
), s1 AS (
  SELECT * FROM attrs WHERE n_tokens >= 30 AND swr <= 0.5
), s2 AS (
  SELECT * FROM s1
  WHERE doc_id = (SELECT min(doc_id) FROM s1 i
                  WHERE i.content_key = s1.content_key)
), s3 AS (
  SELECT * FROM s2
  WHERE doc_id = (SELECT min(doc_id) FROM s2 i
                  WHERE i.prefix_key = s2.prefix_key)
)
SELECT * FROM (
  SELECT 0 AS stage, 'raw' AS stage_name,
         count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM attrs
  UNION ALL
  SELECT 1, 'quality_gate', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'exact_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'prefix_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM s3
)
"""


@register("p_funnel_report", oracle=_FUNNEL_REPORT)
def p_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end cleaning funnel as ONE declarative plan: quality
    gate (t_quality_rollup's rule), then exact dedup (min-doc_id
    survivor per content hash), then prefix dedup — reporting surviving
    docs/tokens after each stage, i.e. the per-stage attrition table
    every training-data pipeline publishes. Stage composition follows
    the measured guidance in SCALING.md (cheap map-side gates first so
    the keyed dedup shuffles see the smallest possible stream).

    Scale: one scan computes all per-doc attributes (hashes, token
    stats); each dedup stage is a keyed window-min over its survivor
    stream (hash-partitioned, no global sort); the four stage aggregates
    are partial-agg'd counts unioned into a 4-row report.
    """
    from streams_spark.functions.text_funcs import stopword_ratio
    from streams_spark.operators.dedup import PREFIX_TOKENS

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    attrs = docs.select(
        "doc_id",
        F.md5("text").alias("content_key"),
        F.md5(
            F.array_join(F.slice(toks, 1, PREFIX_TOKENS), " ")
        ).alias("prefix_key"),
        F.size(toks).alias("n_tokens"),
        stopword_ratio(toks).alias("swr"),
    )
    # materialize the per-doc attribute table (2 hashes + 2 numbers per
    # doc) so the four stage aggregates below reuse it instead of each
    # union branch re-scanning the corpus — without this the physical
    # plan shows 4 full scans. Same pattern as d_simhash's signature
    # table; the 100 TB analog writes attrs next to the corpus.
    attrs = attrs.localCheckpoint()
    s1 = attrs.where((F.col("n_tokens") >= 30) & (F.col("swr") <= 0.5))
    s2 = s1.withColumn(
        "keep", F.min("doc_id").over(Window.partitionBy("content_key"))
    ).where(F.col("doc_id") == F.col("keep")).drop("keep")
    s3 = s2.withColumn(
        "keep", F.min("doc_id").over(Window.partitionBy("prefix_key"))
    ).where(F.col("doc_id") == F.col("keep")).drop("keep")

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select("stage", "stage_name", "n_docs", "n_tokens")

    return (
        stage(attrs, 0, "raw")
        .unionAll(stage(s1, 1, "quality_gate"))
        .unionAll(stage(s2, 2, "exact_dedup"))
        .unionAll(stage(s3, 3, "prefix_dedup"))
    )


# ---------------------------------------------------------------------------
# Canonical-copy selection: source-priority dedup
# ---------------------------------------------------------------------------

_SOURCE_PRIORITY = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY md5(text)
           ORDER BY CAST(substr(source, 4) AS INT) NULLS LAST, doc_id NULLS LAST
         ) AS rn
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shadowed
FROM ranked
GROUP BY source
"""


@register("p_source_priority", oracle=_SOURCE_PRIORITY)
def p_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with SOURCE-PRIORITY canonical selection: when the
    same content appears under several sources, keep the copy from the
    most-trusted source (lowest numeric rank, doc_id tiebreak) instead
    of an arbitrary min-doc_id winner. This is how real pipelines pick
    the curated copy over the crawl copy; d_exact_dup_groups only
    reports the groups, this op decides the keeper. Returns the
    per-source canonical/shadowed census.

    One shuffle: row_number over the content-hash partition (dup groups
    are tiny, so windows are a few rows each — no skew), then an
    O(sources) rollup. At 100 TB the hash partition count rides AQE;
    the priority rank is a pure projection (no source dimension join).
    """
    docs = load_table(spark, sf_dir, "documents")
    # try_cast: a source shorter than 4 chars or with a non-numeric
    # suffix ranks LAST (explicit nulls-last — Spark's asc default is
    # nulls-first, DuckDB's is nulls-last) instead of throwing under
    # ANSI mode
    prio = F.substring("source", 4, 10).try_cast("int")
    w = Window.partitionBy(F.md5("text")).orderBy(
        F.asc_nulls_last(prio), F.asc_nulls_last("doc_id")
    )
    ranked = docs.select(
        "source", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_canonical"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_shadowed"),
    )


# ---------------------------------------------------------------------------
# Weighted corpus sampling (A-ExpJ / exponential-key reservoir, exact top-k)
# ---------------------------------------------------------------------------

SAMPLE_K = 500

_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         -- zero/NULL weight -> +inf key: a weightless doc is NEVER
         -- drawn (Efraimidis-Spirakis limit), rather than erroring on
         -- /0 or sorting NULL first (fuzz finding r6)
         -- <= 0 (not just = 0): the engine's when(n_chars > 0) sends
         -- every non-positive weight to +inf, so a negative n_chars
         -- must not compute a negative key here (ADVICE r6)
         -- doc_id IS NULL too: no id, no md5 draw (null-key fuzz r7)
         CASE WHEN doc_id IS NULL OR n_chars IS NULL OR n_chars <= 0
              THEN 'infinity'::DOUBLE
              ELSE -ln((CAST(('0x' ||
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0) / n_chars
         END AS k
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM keyed
-- NULLS FIRST matches Spark's ascending default on the doc_id
-- tie-break (matters only if the LIMIT cuts inside the +inf tie group)
ORDER BY k, doc_id NULLS FIRST
LIMIT {SAMPLE_K}
"""


@register("p_weighted_sample", oracle=_WEIGHTED_SAMPLE)
def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (weight = n_chars): the
    Efraimidis-Spirakis exponential-key scheme — key = -ln(u)/w with a
    DETERMINISTIC per-doc uniform u from an md5 prefix, keep the K
    smallest keys. Longer docs are proportionally more likely to be
    drawn; md5 keying makes the draw reproducible across engines and
    re-runs (no RNG state), which is what a training-mix rerun needs.

    Map-only key computation; the top-K is a TakeOrderedAndProject
    (per-partition heaps + driver merge of K rows), NOT a global sort —
    the same plan shape at 100 TB, shuffling only K rows per partition.
    The float key itself is excluded from the output so cross-engine
    comparison rides on exact ints/strings.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    # zero/NULL weight OR NULL doc_id -> +inf key (never drawn): a NULL
    # id has no md5 draw, and a NULL key would sort nulls-FIRST in Spark
    # vs nulls-LAST in DuckDB (null-key fuzz class r7); see the oracle
    key = F.when(
        F.col("doc_id").isNotNull() & (F.col("n_chars") > 0),
        -F.log(u) / F.col("n_chars"),
    ).otherwise(F.lit(float("inf")))
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("k"))
        # nulls FIRST: this pair's r7 contract (oracle: ORDER BY k,
        # doc_id NULLS FIRST) — reachable only if the LIMIT cuts inside
        # the +inf tie group where every NULL-id doc lives
        .orderBy("k", F.asc_nulls_first("doc_id"))
        .limit(SAMPLE_K)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Per-domain document cap (source-level dedup pressure valve)
# ---------------------------------------------------------------------------

DOMAIN_CAP = 200

_DOMAIN_CAP = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id NULLS LAST) AS rn
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN rn > {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM ranked
GROUP BY source
"""


@register("p_domain_cap", oracle=_DOMAIN_CAP)
def p_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most DOMAIN_CAP docs per source
    (highest n_chars first, doc_id tie-break), report the kept/dropped
    census per source. The standard anti-domination gate before training
    mixes — one over-crawled domain must not swamp the corpus.

    One shuffle on source for the row_number window, then a map-side
    rollup of the SAME partitioning (no second exchange — Catalyst
    reuses it). Skew note for 100 TB: a mega-domain makes one window
    partition huge; the deployed variant pre-aggregates a per-source
    count and only windows sources over the cap (filter pushed by the
    count), or salts the ranking with a two-stage top-K — both keep
    this exact output contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc_nulls_last("doc_id"))
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= DOMAIN_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((~kept).cast("long")).alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0))).alias(
            "kept_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Curriculum phasing: percentile-cutoff buckets, no global sort
# ---------------------------------------------------------------------------

_CURRICULUM = """
-- cutoff histogram over MEASURABLE lengths only: a NULL n_words group
-- sorts NULLS-FIRST in Spark's cumulative window but NULLS-LAST in
-- DuckDB's, shifting every cutoff; missing docs get phase NULL
-- (fuzz finding r6)
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
  FROM documents
), hist AS (
  SELECT n_words AS w, count(*) AS c FROM t
  WHERE n_words IS NOT NULL GROUP BY 1
), cum AS (
  SELECT w, sum(c) OVER (ORDER BY w) AS cum FROM hist
), nn AS (SELECT count(*) AS n FROM t WHERE n_words IS NOT NULL),
cuts AS (
  SELECT min(CASE WHEN cum * 3 >= n THEN w END) AS c1,
         min(CASE WHEN cum * 3 >= 2 * n THEN w END) AS c2
  FROM cum, nn
)
SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
       CAST(CASE WHEN n_words IS NULL THEN NULL
                 WHEN n_words <= c1 THEN 1
                 WHEN n_words <= c2 THEN 2
                 ELSE 3 END AS INTEGER) AS phase
FROM t, cuts
"""


@register("p_curriculum", oracle=_CURRICULUM)
def p_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum phase assignment: tertile buckets over document
    word count (short->long training order), WITHOUT ntile — a global
    ntile is a single-task sort at corpus scale. Cutoffs come from the
    integer word-count histogram (cumulative counts over the tiny
    distinct-lengths frame), not a continuous percentile: interpolated
    quantiles proved 1-ulp engine-divergent exactly when many docs tie
    at the boundary (see t_ccnet_buckets), and tertiles over integers
    with ties are honestly a counting problem. Broadcast onto a
    map-only phase CASE, same two-step shape as p_domain_cap.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_words")
    ).localCheckpoint()  # doc-sized; one tokenize pass feeds hist/count/phase
    # measurable lengths only (see the oracle's NULLS-ordering note)
    measured = t.where(F.col("n_words").isNotNull())
    hist = measured.groupBy(F.col("n_words").alias("w")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = hist.select(
        "w",
        F.sum("c")
        .over(Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    n = measured.agg(F.count(F.lit(1)).alias("n"))
    cuts = cum.crossJoin(F.broadcast(n)).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("w"))).alias("c1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("w"))
        ).alias("c2"),
    )
    phase = (
        F.when(F.col("n_words").isNull(), F.lit(None))
        .when(F.col("n_words") <= F.col("c1"), 1)
        .when(F.col("n_words") <= F.col("c2"), 2)
        .otherwise(3)
    )
    return t.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        phase.cast("int").alias("phase"),
    )


# ---------------------------------------------------------------------------
# Temperature-based language mixing (multilingual sampling rates)
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.3  # temperature exponent; 1.0 = proportional, 0 = uniform

_TEMPERATURE_MIX = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT sum(n) AS total, sum(pow(n / (SELECT sum(n) FROM counts),
                                  {MIX_ALPHA})) AS z
  FROM counts
)
SELECT c.lang,
       CAST(c.n AS BIGINT) AS n_docs,
       floor(c.n / t.total * 1000000 + 0.5) / 1000000 AS p_raw,
       floor(pow(c.n / t.total, {MIX_ALPHA}) / t.z * 1000000 + 0.5) / 1000000
           AS p_temp,
       floor(pow(c.n / t.total, {MIX_ALPHA}) / t.z / (c.n / t.total)
             * 10000 + 0.5) / 10000 AS boost
FROM counts c CROSS JOIN tot t
"""


@register("p_temperature_mix", oracle=_TEMPERATURE_MIX)
def p_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling rates (the mT5/XLM-R
    recipe): raw language share p_l is flattened to p_l^alpha and
    renormalized, up-weighting tail languages; `boost` is the resulting
    per-language over/under-sampling factor a mixture loader applies.

    Scale shape: ONE map-side-partial aggregate to |languages| rows,
    then scalar normalizers broadcast back onto that tiny frame — the
    corpus is scanned exactly once, nothing corpus-sized shuffles.
    Ratios round via the cross-engine floor rule (6dp for the
    probabilities, 4dp for the boost ratio).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    p = F.col("n") / F.col("total")
    # z = sum over langs of (n/total)^alpha — needs total first, so
    # compute it by re-aggregating the tiny counts frame against the
    # single-row total (both frames are |languages|-sized or smaller)
    tot = counts.crossJoin(
        F.broadcast(counts.agg(F.sum("n").alias("total")))
    ).agg(
        F.first("total").alias("total"),
        F.sum(F.pow(p, MIX_ALPHA)).alias("z"),
    )
    q = F.pow(p, MIX_ALPHA) / F.col("z")
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        (F.floor(p * 1000000 + F.lit(0.5)) / 1000000).alias("p_raw"),
        (F.floor(q * 1000000 + F.lit(0.5)) / 1000000).alias("p_temp"),
        (F.floor(q / p * 10000 + F.lit(0.5)) / 10000).alias("boost"),
    )


# ---------------------------------------------------------------------------
# Epoch planning: token budget + mixture weights -> per-source repeat factors
# ---------------------------------------------------------------------------

PLAN_BUDGET_TOKENS = 200_000  # target training tokens for the plan
MAX_EPOCHS = 4.0  # repeat cap before a source is considered exhausted

_EPOCH_PLAN = f"""
WITH t AS (
  SELECT source, CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
  FROM t
)
SELECT source, n_tokens,
       floor(share * 1000000 + 0.5) / 1000000 AS mix_share,
       CAST(floor(share * {PLAN_BUDGET_TOKENS}) AS BIGINT) AS target_tokens,
       floor(least(CAST(floor(share * {PLAN_BUDGET_TOKENS}) AS DOUBLE)
                   / n_tokens, {MAX_EPOCHS}) * 10000 + 0.5) / 10000
           AS epochs,
       CAST(floor(share * {PLAN_BUDGET_TOKENS}) AS DOUBLE) / n_tokens
           > {MAX_EPOCHS} AS exhausted
FROM w
"""


@register("p_epoch_plan", oracle=_EPOCH_PLAN)
def p_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch planning: allocate a token budget across sources by their
    natural share, then express each allocation as a REPEAT factor
    (epochs = target/available, capped at {cap}) — the pass a mixture
    loader runs before training to know which sources it will cycle and
    which are exhausted (cap exceeded means the source cannot fill its
    allocation without over-repeating; the planner flags it for
    re-weighting). Composes with p_temperature_mix (swap `share` for the
    flattened rates) and p_token_budget (hard truncation instead of
    repetition).

    Scale shape: ONE corpus scan into |sources| token totals; the share
    window and every derived column operate on that tiny frame. Ratios
    round via the cross-engine floor rule; the epoch cap comparison runs
    on exact integer-derived doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all)
    target = F.floor(share * PLAN_BUDGET_TOKENS)
    epochs_raw = F.least(
        target.cast("double") / F.col("n_tokens"), F.lit(MAX_EPOCHS)
    )
    return t.select(
        "source",
        "n_tokens",
        (F.floor(share * 1000000 + F.lit(0.5)) / 1000000).alias("mix_share"),
        target.cast("long").alias("target_tokens"),
        (F.floor(epochs_raw * 10000 + F.lit(0.5)) / 10000).alias("epochs"),
        (target.cast("double") / F.col("n_tokens") > MAX_EPOCHS).alias(
            "exhausted"
        ),
    )


# ---------------------------------------------------------------------------
# Split-leakage guard: dup groups straddling train/val/test
# ---------------------------------------------------------------------------

_SPLIT_LEAKAGE = """
-- text IS NOT NULL: missing docs have no fingerprint and cannot form
-- (or straddle) a dup group — without the filter two NULL texts would
-- count as a leaking group (fuzz finding r6)
WITH assigned AS (
  SELECT doc_id,
         md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS fp,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS INTEGER) % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS INTEGER) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents WHERE text IS NOT NULL
), per_group AS (
  SELECT fp, count(*) AS n_docs,
         count(DISTINCT split) AS n_splits,
         max(CAST(split = 'train' AS INTEGER)) AS in_train,
         max(CAST(split <> 'train' AS INTEGER)) AS in_eval
  FROM assigned GROUP BY fp
)
SELECT CAST(n_splits AS INTEGER) AS n_splits,
       count(*) AS n_groups,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS train_eval_leaks
FROM per_group
GROUP BY 1
"""


@register("p_split_leakage", oracle=_SPLIT_LEAKAGE)
def p_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination guard for the train/val/test split: duplicate
    groups (8-token-prefix fingerprint, the d_prefix_dedup key — the
    corpus's near-dups share prefixes, not full bytes) that STRADDLE
    split boundaries leak
    eval data into training — the reason production splits key on a
    group representative, not the raw doc_id. Reports, per
    splits-touched count, how many dup groups and docs land there and
    how many groups have a train AND a non-train member (the actual
    leak count a pipeline must drive to zero, e.g. by re-keying the
    split on min(doc_id) per fp).

    Scale: one map-side fingerprint+bucket pass (zero shuffle — the
    split assignment is the same md5 arithmetic as p_train_val_split),
    one partial-agg'd shuffle on fp (the exact-dedup shuffle, shared
    shape with d_exact_groups), then a k-row rollup. Never materializes
    pairs; group state is two bits + two counters."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        _md5_bucket(F.col("doc_id"), 1, 100)
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    # fingerprintable docs only (see the oracle's NULL-text note)
    assigned = docs.where(F.col("text").isNotNull()).select(
        F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8))).alias("fp"),
        split.alias("split"),
    )
    per_group = assigned.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").cast("int").alias("n_splits"),
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") != "train").cast("int")).alias("in_eval"),
    )
    return per_group.groupBy("n_splits").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(
            ((F.col("in_train") == 1) & (F.col("in_eval") == 1)).cast("long")
        ).alias("train_eval_leaks"),
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row datasheet a corpus release ships with
# ---------------------------------------------------------------------------

_DATASET_CARD = """
WITH sized AS (
  SELECT doc_id, source, lang,
         len(str_split(text, ' ')) AS n_tokens,
         CASE WHEN text IS NOT NULL
              THEN md5(array_to_string(str_split(text, ' ')[1:8], ' '))
         END AS fp
  FROM documents
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         floor(avg(n_tokens) * 10000 + 0.5) / 10000 AS mean_tokens
  FROM sized
), dup AS (
  -- fp IS NOT NULL: two missing texts are not duplicates of each other
  -- (fuzz finding r6)
  SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS dup_docs
  FROM (SELECT count(*) AS n FROM sized
        WHERE fp IS NOT NULL GROUP BY fp) g
)
SELECT base.*, dup.dup_docs,
       floor(dup.dup_docs * 10000.0 / base.n_docs + 0.5) / 10000 AS dup_rate
FROM base CROSS JOIN dup
"""


@register("p_dataset_card", oracle=_DATASET_CARD)
def p_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, token totals and spread,
    source/language diversity, and the prefix-fingerprint duplicate
    rate (docs beyond each group's first member) — the datasheet a
    corpus release publishes, computed in-engine so it can gate a
    release job (e.g. refuse to ship if dup_rate regresses).

    Scale: one scan computes every per-doc attribute; the corpus-wide
    stats are a single partial-agg'd reduction to ONE row, the dup rate
    one fp-keyed shuffle reduced to ONE row, and the two single-row
    frames cross-join broadcast — the same two-aggregate single-plan
    shape as q_semi_anti_join. Distinct-counts are exact here; at
    100 TB swap n_sources/n_langs to approx_count_distinct and reuse
    the q_hll_union sketch path for mergeability across shards.
    """
    from streams_spark.operators.dedup import PREFIX_TOKENS

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        F.when(
            F.col("text").isNotNull(),
            F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, PREFIX_TOKENS))),
        ).alias("fp"),
    )

    base = sized.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        half_up(F.avg("n_tokens")).alias("mean_tokens"),
    )
    # fp IS NOT NULL: two missing texts are not duplicates of each
    # other (fuzz finding r6)
    dup = (
        sized.where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("dup_docs"))
    )
    return base.crossJoin(F.broadcast(dup)).select(
        "*",
        (
            # try_divide: n_docs == 0 on an empty corpus — ANSI Spark
            # raises DIVIDE_BY_ZERO where the DuckDB oracle's division
            # yields NULL (degenerate-fixture fuzz class)
            F.floor(
                F.try_divide(F.col("dup_docs") * 10000.0, F.col("n_docs"))
                + F.lit(0.5)
            )
            / 10000
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Padding efficiency: naive vs length-bucketed batch packing
# ---------------------------------------------------------------------------

BATCH_DOCS = 16  # sequences per training batch
LEN_BUCKET = 32  # token-length quantization for the bucketed scheme

_PAD_EFFICIENCY = f"""
WITH sized AS (
  SELECT doc_id, len(str_split(text, ' ')) AS n_tokens FROM documents
), naive AS (
  SELECT doc_id // {BATCH_DOCS} AS batch_id, n_tokens FROM sized
), naive_b AS (
  SELECT batch_id, count(*) AS n, max(n_tokens) AS mx,
         sum(n_tokens) AS tok
  FROM naive GROUP BY batch_id
), bucketed AS (
  SELECT n_tokens, n_tokens // {LEN_BUCKET} AS bucket,
         -- NULLS FIRST: Spark's window default; a NULL doc_id must
         -- land in the same batch slot per engine (null-key fuzz r7)
         row_number() OVER (PARTITION BY n_tokens // {LEN_BUCKET}
                            ORDER BY doc_id NULLS FIRST) - 1 AS rn
  FROM sized
), bucketed_b AS (
  SELECT bucket, rn // {BATCH_DOCS} AS batch_id, count(*) AS n,
         max(n_tokens) AS mx, sum(n_tokens) AS tok
  FROM bucketed GROUP BY 1, 2
), schemes AS (
  SELECT 'naive' AS scheme, CAST(count(*) AS BIGINT) AS n_batches,
         CAST(sum(tok) AS BIGINT) AS real_tokens,
         CAST(sum(CAST(mx AS BIGINT) * n - tok) AS BIGINT) AS pad_tokens
  FROM naive_b
  UNION ALL
  SELECT 'bucketed', CAST(count(*) AS BIGINT),
         CAST(sum(tok) AS BIGINT),
         CAST(sum(CAST(mx AS BIGINT) * n - tok) AS BIGINT)
  FROM bucketed_b
)
SELECT scheme, n_batches, real_tokens, pad_tokens,
       floor(pad_tokens * 10000.0 / (real_tokens + pad_tokens) + 0.5)
         / 10000 AS waste
FROM schemes
"""


@register("p_pad_efficiency", oracle=_PAD_EFFICIENCY)
def p_pad_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for dynamic batching: every batch pads its
    members to the batch max length, so batching in arrival order
    (doc_id // B) wastes max-minus-len tokens per doc, while bucketing
    by quantized length first (the standard dynamic-batching trick)
    collapses that waste. Emits one row per scheme with batch count,
    real vs padded tokens, and the waste ratio a training-throughput
    dashboard would alert on.

    Scale: naive batches are map-side arithmetic on doc_id; the
    bucketed scheme's only shuffle is the rank window PARTITIONED BY
    LENGTH BUCKET (bounded cardinality, well-spread) — never a global
    sort. Each scheme then partial-aggs batch frames to one row."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokens("text")).alias("n_tokens")
    )
    naive_b = (
        sized.groupBy((F.col("doc_id") / BATCH_DOCS).cast("long").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("tok"),
        )
    )
    # NULLS FIRST, explicitly: this pair's contract was pinned r7 on
    # the ORACLE side (ORDER BY doc_id NULLS FIRST, matching Spark's
    # ASC default) — the r9 blanket nulls-last pass flipped this side
    # and the seed-16 fuzz caught it within the same round. Both sides
    # now state the same direction explicitly.
    wb = Window.partitionBy("bucket").orderBy(F.asc_nulls_first("doc_id"))
    bucketed_b = (
        sized.withColumn(
            "bucket", (F.col("n_tokens") / LEN_BUCKET).cast("long")
        )
        .withColumn("rn", F.row_number().over(wb) - 1)
        .groupBy(
            "bucket", (F.col("rn") / BATCH_DOCS).cast("long").alias("b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("tok"),
        )
    )

    def scheme(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("tok").alias("real_tokens"),
            F.sum(F.col("mx").cast("long") * F.col("n") - F.col("tok")).alias(
                "pad_tokens"
            ),
        ).select(F.lit(name).alias("scheme"), "*")

    out = scheme(naive_b, "naive").unionByName(scheme(bucketed_b, "bucketed"))
    return out.select(
        "scheme",
        "n_batches",
        "real_tokens",
        "pad_tokens",
        (
            F.floor(
                F.col("pad_tokens")
                * 10000.0
                / (F.col("real_tokens") + F.col("pad_tokens"))
                + F.lit(0.5)
            )
            / 10000
        ).alias("waste"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline in ONE plan: quality -> dedup -> split -> mix
# ---------------------------------------------------------------------------

_E2E_PIPELINE = """
WITH sized AS (
  SELECT doc_id, source,
         len(str_split(text, ' ')) AS n_tokens,
         CASE WHEN text IS NOT NULL
              THEN md5(array_to_string(str_split(text, ' ')[1:8], ' '))
         END AS fp
  FROM documents
), quality AS (
  SELECT * FROM sized WHERE n_tokens >= 10 AND n_tokens <= 5000
), dedup AS (
  SELECT * FROM (
    -- NULLS FIRST: Spark's window default — a NULL-id doc colliding
    -- with a real doc on fp must win keep-first in BOTH engines
    -- (null-key fuzz class r7)
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id NULLS FIRST) AS rn
    FROM quality
  ) WHERE rn = 1
), split AS (
  SELECT *,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS INTEGER) % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS INTEGER) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 5
              THEN 0
              WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS INTEGER) < 10
              THEN 1 ELSE 2 END AS tier,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
              AS INTEGER) % 10 AS r
  FROM dedup
), mixed AS (
  SELECT * FROM split
  WHERE r < CASE tier WHEN 0 THEN 8 WHEN 1 THEN 5 ELSE 2 END
)
SELECT split, CAST(tier AS INTEGER) AS tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM mixed
GROUP BY split, tier
"""


@register("p_e2e_pipeline", oracle=_E2E_PIPELINE)
def p_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: length
    quality gate -> prefix-fingerprint dedup (keep first per group) ->
    md5 train/val/test split -> tiered source mixing, reported as
    (split, tier) doc/token counts. Each stage reuses the exact rule
    its standalone operator ships (t_c4-style gate, d_prefix_dedup key,
    p_train_val_split buckets, p_source_mix rates), so this is the
    composability proof: the stages fuse into a single Catalyst plan
    with ONE wide shuffle (the dedup window) — the gates before it are
    pushed into the scan-side map, the split/mix arithmetic after it is
    map-side again, and the final rollup partial-aggregates.

    At 100 TB this is the shape that matters most: a pipeline built
    from these operators does NOT materialize between stages — the
    1-shuffle fusion here is what running "quality && dedup && split &&
    mix" as separate jobs four times over the corpus costs extra."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 8))).alias("fp"),
    )
    quality = sized.where(
        (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 5000)
    )
    # nulls FIRST: the oracle pins ORDER BY doc_id NULLS FIRST (r7) —
    # a NULL-id doc colliding with a real one must lose/win identically
    wd = Window.partitionBy("fp").orderBy(F.asc_nulls_first("doc_id"))
    dedup = (
        quality.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = (
        _md5_bucket(F.col("doc_id"), 1, 100)
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    draw = _md5_bucket(F.col("doc_id"), 5, 10)
    rate = (
        F.when(F.col("tier") == 0, 8)
        .when(F.col("tier") == 1, 5)
        .otherwise(2)
    )
    mixed = (
        dedup.withColumn("split", split)
        .withColumn("tier", _tier(F.col("source")).cast("int"))
        .withColumn("r", draw)
        .where(F.col("r") < rate)
    )
    return mixed.groupBy("split", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality-rule ablation: what each C4 gate is worth
# ---------------------------------------------------------------------------

from streams_spark.operators.text import (  # noqa: E402 (shared gate)
    C4_MAX_WORD_LEN,
    C4_MAX_WORDS,
    C4_MEAN_LEN_HI,
    C4_MEAN_LEN_LO,
    C4_MIN_WORDS,
)

_QUALITY_ABLATION = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
             / len(toks) AS mean_wlen,
         list_contains(toks, 'the') OR list_contains(toks, 'a')
             AS has_stopword,
         list_max(list_transform(toks, x -> len(x))) <= {C4_MAX_WORD_LEN}
             AS no_long_word
  FROM t
), f AS (
  SELECT (n_words BETWEEN {C4_MIN_WORDS} AND {C4_MAX_WORDS}) AS wc,
         (mean_wlen BETWEEN {C4_MEAN_LEN_LO} AND {C4_MEAN_LEN_HI}) AS ml,
         has_stopword AS hs, no_long_word AS nl
  FROM m
)
SELECT 'none_ablated' AS ablated,
       CAST(count(*) FILTER (WHERE wc AND ml AND hs AND nl) AS BIGINT)
         AS n_survivors
FROM f
UNION ALL SELECT 'word_count',
       CAST(count(*) FILTER (WHERE ml AND hs AND nl) AS BIGINT) FROM f
UNION ALL SELECT 'mean_len',
       CAST(count(*) FILTER (WHERE wc AND hs AND nl) AS BIGINT) FROM f
UNION ALL SELECT 'stopword',
       CAST(count(*) FILTER (WHERE wc AND ml AND nl) AS BIGINT) FROM f
UNION ALL SELECT 'long_word',
       CAST(count(*) FILTER (WHERE wc AND ml AND hs) AS BIGINT) FROM f
UNION ALL SELECT 'no_rules', CAST(count(*) AS BIGINT) FROM f
"""


@register("p_quality_ablation", oracle=_QUALITY_ABLATION)
def p_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-ablation report for the C4-style quality gate: survivor
    counts with all rules on, with each single rule dropped, and with
    no gate at all — the leave-one-out audit that tells a curation team
    which rule actually bites before they tune thresholds (the same
    flags t_c4_rules emits per-doc, aggregated per ablation).

    Scale: ONE scan computes all four flags; all six ablation counts
    are conditional sums inside a single partial-agg'd reduction to one
    row, then stack() unpivots driver-free — no per-ablation rescan,
    no union of six jobs (the naive formulation the oracle states)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks)
    mean_wlen = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0.0),
        lambda a, x: a + x,
    ) / n_words
    wc = n_words.between(C4_MIN_WORDS, C4_MAX_WORDS)
    ml = mean_wlen.between(C4_MEAN_LEN_LO, C4_MEAN_LEN_HI)
    hs = F.array_contains(toks, "the") | F.array_contains(toks, "a")
    nl = F.array_max(F.transform(toks, lambda x: F.length(x))) <= C4_MAX_WORD_LEN
    flags = docs.select(
        wc.alias("wc"), ml.alias("ml"), hs.alias("hs"), nl.alias("nl")
    )

    def n(cond):
        # coalesce: these are conditional COUNTs stated as sums — on an
        # empty corpus SUM yields NULL but the oracle's count(*) FILTER
        # yields 0 (degenerate-fixture fuzz class)
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long"))

    one = flags.agg(
        n(F.col("wc") & F.col("ml") & F.col("hs") & F.col("nl")).alias("a"),
        n(F.col("ml") & F.col("hs") & F.col("nl")).alias("b"),
        n(F.col("wc") & F.col("hs") & F.col("nl")).alias("c"),
        n(F.col("wc") & F.col("ml") & F.col("nl")).alias("d"),
        n(F.col("wc") & F.col("ml") & F.col("hs")).alias("e"),
        F.count(F.lit(1)).alias("f"),
    )
    return one.select(
        F.expr(
            "stack(6, 'none_ablated', a, 'word_count', b, 'mean_len', c, "
            "'stopword', d, 'long_word', e, 'no_rules', f) "
            "AS (ablated, n_survivors)"
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (target-vs-pool n-gram LM ratio)
# ---------------------------------------------------------------------------

_DSIR = """
WITH ex AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term FROM documents
),
cs AS (SELECT term, count(*) AS c_s FROM ex GROUP BY term),
ct AS (SELECT term, count(*) AS c_t FROM ex WHERE lang = 'en' GROUP BY term),
tot AS (
  SELECT count(*) AS n_s,
         count(*) FILTER (lang = 'en') AS n_t,
         count(DISTINCT term) AS v
  FROM ex
),
scored AS (
  SELECT ex.doc_id,
         CAST(floor(avg(ln((coalesce(ct.c_t, 0) + 1.0) / (tot.n_t + tot.v))
                  - ln((cs.c_s + 1.0) / (tot.n_s + tot.v))) * 10000 + 0.5)
              AS BIGINT) AS s
  FROM ex
  JOIN cs USING (term)
  LEFT JOIN ct USING (term)
  CROSS JOIN tot
  GROUP BY ex.doc_id
),
hist AS (SELECT s, count(*) AS c FROM scored GROUP BY s),
cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
nn AS (SELECT count(*) AS n FROM scored),
cut AS (
  SELECT min(CASE WHEN cum * 10 >= 9 * n THEN s END) AS c90 FROM cum, nn
)
SELECT d.doc_id, d.source, d.lang, sc.s / 10000.0 AS imp
FROM scored sc
JOIN documents d USING (doc_id)
CROSS JOIN cut
WHERE sc.s > cut.c90
"""


@register("p_dsir_resample", oracle=_DSIR)
def p_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every pool
    document by the log importance ratio of a TARGET-domain n-gram LM
    (here: the English slice, add-1 smoothed unigrams — the paper uses
    hashed n-grams, same estimator shape) over the POOL LM, and keep
    the top decile. The reference has nothing like it (§2.3 is point
    lookups); this is the modern pretraining-data-selection method the
    quality-filter family (t_c4_rules / t_ccnet_buckets) leads up to —
    CCNet ranks by one LM, DSIR by the ratio of two, which targets a
    DISTRIBUTION rather than generic fluency.

    Plan shape = t_unigram_lm twice, shared scan: ONE token explode
    feeds both count tables (the target one filtered before its agg),
    both vocab-sized, joined back under AQE; totals are a single-row
    broadcast. Selection is the integer-histogram decile cut of
    p_curriculum/t_ccnet_buckets (scores snap to 4dp integers; the cut
    is the smallest score whose cumulative count reaches 0.9n; keep
    strictly above it) — exact integer boundary arithmetic, immune to
    the 1-ulp continuous-quantile divergence those ops hit at sf0.1.
    At 100 TB: counts get top-K-truncated with a smoothing floor for
    the tail (the Heaps'-law note on t_unigram_lm), everything else
    already partial-aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("term"))
    # BOTH count tables in one aggregation pass (conditional count for
    # the target slice), and all three totals derived from the
    # vocab-sized freq table — the corpus token stream is scanned
    # exactly twice (freq build, scoring join), never more. The naive
    # separate-CTE form measured 12 scans / 16 shuffles in PLANS.md.
    freq = ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("c_t"),
    )
    tot = freq.agg(
        F.sum("c_s").alias("n_s"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio = F.avg(
        F.log((F.col("c_t") + 1.0) / (F.col("n_t") + F.col("v")))
        - F.log((F.col("c_s") + 1.0) / (F.col("n_s") + F.col("v")))
    )
    scored = (
        ex.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.floor(ratio * 10000 + F.lit(0.5)).cast("long").alias("s")
        )
        # doc-count-sized; materialize so the histogram build, the
        # total count, and the final filter reuse ONE scoring pass
        # instead of each re-running the corpus explode + join
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
    cut = cum.crossJoin(F.broadcast(n)).agg(
        F.min(
            F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("s"))
        ).alias("c90")
    )
    return (
        scored.crossJoin(F.broadcast(cut))
        .where(F.col("s") > F.col("c90"))
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
        .select(
            "doc_id", "source", "lang", (F.col("s") / 10000.0).alias("imp")
        )
    )


# ---------------------------------------------------------------------------
# Ingest guard: non-finite / NULL measurement audit (data-quality gate)
# ---------------------------------------------------------------------------

_INGEST_GUARD = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(count(*) FILTER ("value" IS NULL) AS BIGINT) AS n_null,
       CAST(count(*) FILTER ("value" IS NOT NULL
                             AND NOT isfinite("value")) AS BIGINT)
           AS n_nonfinite,
       CAST(count(*) FILTER (isfinite("value")) AS BIGINT) AS n_finite,
       floor(min(CASE WHEN isfinite("value") THEN "value" END) * 100 + 0.5)
           / 100 AS min_finite,
       floor(max(CASE WHEN isfinite("value") THEN "value" END) * 100 + 0.5)
           / 100 AS max_finite
FROM events
GROUP BY event_type
"""


@register("p_ingest_guard", oracle=_INGEST_GUARD)
def p_ingest_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type measurement-quality audit: row counts split into
    NULL / non-finite (NaN, +-Inf) / finite, with the finite value
    range. This is the INGEST GATE the engine's finite-measurement
    precondition rests on: a fault-injection probe (0.3% NaN/Inf into
    events.value) crashed or diverged 11 downstream operators on BOTH
    engines — ANSI casts throw on NaN, DuckDB stddev errors on Inf, and
    EWMA/MAD/seasonality propagate Inf through rounding differently —
    so non-finite measurements must be quarantined HERE, before the
    time-series family, exactly like a production sensor pipeline
    (the reference's produce path validates payloads at append time for
    the same reason, /root/reference/server/pebble/service.go:303-320).

    Scale: one map-side projection (isnan/isinf are codegen'd) feeding
    one partial-agg'd shuffle onto |event_type| groups — the audit adds
    no second scan to an ingest job that already reads the batch.
    Rounding follows the repo's cross-engine floor(x*100+0.5)/100 rule.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    inf = F.lit(float("inf"))
    is_nonfinite = v.isNotNull() & (F.isnan(v) | (F.abs(v) == inf))
    is_finite = v.isNotNull() & ~F.isnan(v) & (F.abs(v) != inf)
    fin_v = F.when(is_finite, v)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.sum(F.when(is_nonfinite, 1).otherwise(0))
        .cast("long")
        .alias("n_nonfinite"),
        F.sum(F.when(is_finite, 1).otherwise(0)).cast("long").alias("n_finite"),
        (F.floor(F.min(fin_v) * 100 + F.lit(0.5)) / 100).alias("min_finite"),
        (F.floor(F.max(fin_v) * 100 + F.lit(0.5)) / 100).alias("max_finite"),
    )
