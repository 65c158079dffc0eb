

def half_up(col, dp=4):
    """Round `col` to `dp` decimals, halves up: floor(x * 10^dp + 0.5)
    / 10^dp. The driver hashes values exactly, so every double
    aggregate is rounded in BOTH engines (2 dp for money sums, 4 dp for
    averages and ratios). round() will not do where a value can land on
    an exact midpoint (an avg over a small denominator, a ratio of
    small counts): Spark's round is HALF_UP and DuckDB's is HALF_EVEN,
    so the two diverge there (hit at sf0.1 on q2's 1257.85775).

    Oracle-side twin: floor(x * 10000 + 0.5) / 10000 (dp = 4).
    """
    from pyspark.sql import functions as F

    return F.floor(col * 10**dp + F.lit(0.5)) / 10**dp


def finite_or_null(col):
    """Non-finite measurement contract (r9 NaN/Inf fuzz class): NaN and
    +/-Inf are treated as MISSING — normalized to NULL so every
    NULL-skipping aggregate (avg/sum/median/stddev) handles them with
    one rule on both engines. This is the batch mirror of
    st_running_stats' isfinite contract and the ingest guard's
    quarantine (pipeline.py): a corrupt sensor reading must not crash
    an ANSI cents-cast with a long overflow, blow up a DuckDB
    STDDEV_SAMP, or silently drag a weekly mean to infinity.

    Oracle-side twin: CASE WHEN isfinite(x) THEN x END.
    """
    from pyspark.sql import functions as F

    inf = float("inf")
    return F.when(
        col.isNotNull() & ~F.isnan(col) & (F.abs(col) != inf), col
    )


def vector_hygiene(emb=None):
    """Coordinate-hygiene predicate for embedding columns (r9 non-finite
    fuzz class, arrow-level true-NaN probe): a vector carrying NaN, Inf
    or NULL coordinates cannot be meaningfully scored — NaN similarities
    make argmax/top-k engine-dependent, one Inf poisons norms and
    centroids, and a NULL element is even READ engine-dependently
    (pyarrow writes pandas NaN as a parquet null). Whole-NULL embeddings
    PASS the predicate — each operator pins its own NULL-row contract
    (nullmeas fixture class); this guard is strictly about corrupt
    coordinates.

    Oracle twin: (embedding IS NULL OR len(list_filter(
    CAST(embedding AS DOUBLE[]), x -> x IS NULL OR NOT isfinite(x))) = 0)
    """
    from pyspark.sql import functions as F

    if emb is None:
        emb = F.col("embedding")
    inf = float("inf")
    return emb.isNull() | F.forall(
        emb, lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != inf)
    )
