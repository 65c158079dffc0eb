"""Text primitives for the dedup / text-analysis operators.

All JVM-side (split / transform / filter / sequence): no Python in the
hot path. Shingling and hashing are the building blocks of MinHash-LSH
and SimHash dedup (the standard shingle→minhash→band→bucket pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny function-word list used for stopword-ratio scoring and language ID.
STOPWORDS = ["a", "the", "of", "and", "to", "in", "is", "it"]


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles: one array per document, built with
    sequence+transform (codegen'd, no explode until the caller wants one).

    try_element_at (not element_at): docs shorter than n tokens produce
    one truncated shingle — NULL positions are skipped by concat_ws,
    matching the SQL oracle's out-of-range list index → NULL behavior
    (ANSI element_at would throw instead)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + k) for k in range(n)]
            ),
        )
    )


def stopword_ratio(toks: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)


def avg_token_len(text: Column | str, toks: Column) -> Column:
    """Mean token length of a SINGLE-CHAR-separator split: the tokens
    partition the text around (n-1) one-char separators, so
    sum(length(token)) == length(text) - (n_tokens - 1) exactly — pure
    codegen arithmetic instead of an array-HOF aggregate whose lambda
    evaluates interpreted per element (r7). Both operands are integers
    below 2^53, so the double division is bit-identical to summing the
    per-token lengths. Precondition: toks == split(text, <1-char sep>)."""
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - (F.size(toks) - F.lit(1))).cast("double") / F.size(toks)


def gram_rows(docs, n: int):
    """Row-wise n-gram builder shared by the dedup shingle path and the
    fingerprint path: posexplode tokens, lead the next n-1 words over a
    (doc_id, pos) window, emit one row per gram as (doc_id, gram).

    PRECONDITION: doc_id is unique per row (true of every corpus table).
    Duplicate doc_id rows would collide on (doc_id, pos) and the window
    would stitch grams across the two texts non-deterministically —
    callers with non-unique ids must use word_shingles (per-row array
    op, no window) instead.

    Short-doc semantics: a doc with < n tokens keeps its pos==0 row —
    concat_ws skips the NULL leads, yielding ONE truncated gram, the
    same behavior as word_shingles and every DuckDB oracle. This is the
    measured-fast formulation (array-HOF transform evaluates its lambda
    interpreted PER ELEMENT — see hashed_shingle_sets' docstring for the
    sf0.1 numbers); the one shuffle is the corpus-sized token stream
    keyed by doc_id, which every caller's next stage re-uses.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    ex = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "w0"))
    return ex.select(
        "doc_id",
        "pos",
        "w0",
        *[F.lead("w0", k).over(w).alias(f"w{k}") for k in range(1, n)],
    ).where(
        F.col(f"w{n-1}").isNotNull() | (F.col("pos") == 0)
    ).select(
        "doc_id",
        F.concat_ws(" ", *[f"w{k}" for k in range(n)]).alias("gram"),
    )

def hashed_gram_rows(docs, n: int):
    """gram_rows' narrow twin for callers that need only an n-gram
    IDENTITY, never the gram text: hash each token to a long at
    explode time, lead the 8-byte hashes over the (doc_id, pos) window,
    and combine with one multi-column xxhash64.

    Collision scope: the identity is a 64-bit xxhash64 over per-token
    xxhash64s — collision-free at benchmark cardinalities (millions of
    distinct grams; expected collisions ~m^2/2^65, <1e-6 here), but at
    production corpus scale (billions of distinct 13-grams) birthday
    collisions are EXPECTED: ~m^2/2^65 ≈ 0.03 colliding pairs per
    billion grams, growing quadratically. Counts derived from the hash
    undercount distinct grams by that margin. Callers needing exact
    identity at that scale should widen the key (pair xxhash64 with a
    second independent seed: F.xxhash64(cols..., F.lit(seed)) for a
    128-bit composite) or fall back to gram_rows' string identity. The window shuffle then
    carries (doc_id, pos, long) instead of the token strings, and no
    ~(20+6n)-byte gram string is ever materialized — measured 1.9x on
    t_contamination's n=13 cold path at sf0.1 (17.1 s -> 8.9 s).

    Equality classes match gram_rows + hash exactly: tokens cannot
    contain the split separator, so token tuples are bijective with
    concat_ws strings, and the multi-column xxhash64 SKIPS null columns
    just as concat_ws skips them — a truncated short-doc gram (trailing
    NULL leads, contiguous by construction) hashes its present prefix
    only, on both formulations. Same precondition as gram_rows:
    doc_id unique per row.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    ex = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).select("doc_id", "pos", F.xxhash64("w").alias("h0"))
    return ex.select(
        "doc_id",
        "pos",
        "h0",
        *[F.lead("h0", k).over(w).alias(f"h{k}") for k in range(1, n)],
    ).where(
        F.col(f"h{n-1}").isNotNull() | (F.col("pos") == 0)
    ).select(
        "doc_id",
        F.xxhash64(*[f"h{k}" for k in range(n)]).alias("gram_hash"),
    )


def identity_docs(docs):
    """Normalize a documents frame to ONE text per doc_id: filter NULL
    text, then take the deterministic min(text) per id. doc_id is the
    document identity across the dedup/fingerprint/corpus-LM family, so
    duplicate physical rows — even corrupt copies that DISAGREE on
    text — must resolve to the same document on both engines (fuzz
    findings r6; the oracles apply the identical min(text) GROUP BY
    doc_id).

    Digest-narrow (r7, reversing the r6 hardening tax): instead of one
    corpus-wide full-text shuffle, find the duplicated doc_ids with an
    8-byte-key count aggregate, route ONLY those (normally zero) rows
    through the min(text) aggregate, and pass everything else through
    map-only. The join against the duplicated-id set is AQE-sized: tiny
    in every real corpus -> runtime broadcast, map-only; pathological
    all-duplicate fixtures degrade to a shuffle join, never OOM. Net
    shuffle payload at 100 TB: doc_id longs corpus-wide + full text for
    the duplicated rows only, vs full text corpus-wide before."""
    base = docs.select("doc_id", "text").where(F.col("text").isNotNull())
    dup_ids = (
        base.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select(F.col("doc_id").alias("dup_id"))
    )
    # null-SAFE key: a NULL doc_id is one group to GROUP BY (both
    # engines), so duplicated NULL-id rows must route to the aggregate
    # branch like any other duplicated id — a plain equi-key would let
    # every NULL-id row through the anti join un-collapsed
    on = F.col("doc_id").eqNullSafe(F.col("dup_id"))
    # EXPLICIT broadcast, not AQE-sized: AQE's SMJ->BHJ conversion
    # happens after the probe side has already written its shuffle map
    # output, so without the hint the full text would still hit shuffle
    # disk corpus-wide — the exact cost this split exists to avoid. The
    # duplicated-id set is bounded by the corpus's physical-dup rate
    # (~0 in production, <2% under fuzz); an all-duplicates fixture
    # broadcasts |distinct ids| longs, still fine at test scale.
    uniq = base.join(F.broadcast(dup_ids), on, "left_anti")
    deduped = (
        base.join(F.broadcast(dup_ids), on, "left_semi")
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    return uniq.unionByName(deduped)


def identity_documents(spark, sf_dir: str):
    """Session-cached identity_docs over the documents table. The split
    subtree (three pruned scans + two narrow aggregates) re-expands at
    EVERY reference to the returned frame — a query using the identity
    view twice (t_contamination's probe/corpus split, t_bigram_lm's
    count tables) would re-plan and re-run it per reference. Caching
    collapses all of them onto one InMemoryRelation, the same pattern
    (and the same 100 TB analog: a materialized staged view next to the
    corpus) as shingle_table. Callers holding an arbitrary frame rather
    than a (spark, sf_dir) table keep calling identity_docs directly."""
    from streams_spark import cache
    from streams_spark.sources.tables import load_table

    return cache.memo(
        spark,
        ("identity_documents", sf_dir),
        lambda: identity_docs(load_table(spark, sf_dir, "documents")).cache(),
    )
