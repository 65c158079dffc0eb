"""Vector search and embedding analytics over the embeddings table
(SURVEY.md §7 M4).

Row families:

- exact search        → s_cosine_topk (top-k), s_nearest_neighbor (1-NN),
  s_range_search (cosine radius)
- candidate stage + exact re-rank → s_ann_lsh_topk (hyperplane bucket),
  s_multiprobe_lsh (bucket + 1-bit flips), s_centroid_search (2 nearest
  label centroids), s_binary_search (Hamming shortlist of sign bits),
  s_mrl_search (shortlist on the leading MRL_DIMS dims)
- quantized indexes   → s_kmeans_train, s_vector_quantize, s_pq_train,
  s_pq_search and s_ivf_pq_search (PQ asymmetric distance)
- neighbour consumers → s_knn_classify (majority vote), s_maxsim (late
  interaction), s_recall_eval (LSH recall vs exact), s_hybrid_search
  (BM25 and cosine lists fused by reciprocal rank)
- diagnostics         → s_embedding_stats, s_centroid_shift, s_diversity

The search rows are one probe → score → top-k pipeline made of four
shared pieces; they differ only in their candidate stage:

1. `_corpus`: (vec_id, label, v, nrm) over the vectors that pass
   `vector_hygiene`;
2. `_probes` and `_pairs`: the (query_id, qv, qnrm, ...) probe side,
   broadcast onto the candidates with the probe itself excluded;
3. `_cos`: the 6-dp cosine over precomputed norms;
4. `_top_k`: the per-query row_number and the <= k cut; `_rerank` is
   `_cos` + `_top_k` + the (query_id, neighbor_id, ..., cos_sim, rnk)
   output, the exact re-rank every candidate stage ends in.

All vector math is JVM-side (zip_with/aggregate fold — see
functions/vector.py); no Python UDF in the hot path except k-means
assignment. The probe set is broadcast; the corpus is never collected.

Scale design: brute-force is O(probes × corpus) with a broadcast probe
side — embarrassingly parallel over corpus partitions; LSH cuts the
corpus per probe to one bucket; IVF cuts it to the nearest partitions.
At 100 TB the same plans hold with the corpus partitioned by
bucket/centroid id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_spark import cache
from streams_spark.functions.vector import as_double_array, dot, norm
from streams_spark.operators import half_up, vector_hygiene
from streams_spark.registry import register
from streams_spark.sources.tables import load_table

N_PROBES = 10  # probe set: vec_id < 10
TOP_K = 5
_PROBE_SET = f"vec_id < {N_PROBES}"

# DuckDB twin of functions/vector.py: explicit zip/fold so the float
# summation order matches Spark's sequential aggregate exactly.
_DUCK_VEC = """
WITH e AS (
  -- finite-coordinate contract (r9 non-finite fuzz class): a vector
  -- carrying NaN/Inf OR NULL coordinates cannot be meaningfully
  -- scored — NaN similarities make argmax/top-k engine-dependent, one
  -- Inf poisons centroids and norms, and a NULL element is read
  -- engine-dependently (pyarrow writes pandas NaN as parquet null).
  -- Corrupt vectors never enter the corpus (the ingest guard
  -- quarantines them upstream at 100 TB).
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE embedding IS NULL
     OR len(list_filter(CAST(embedding AS DOUBLE[]),
                        x -> x IS NULL OR NOT isfinite(x))) = 0
), n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
)
"""


def _corpus(spark: SparkSession, sf_dir: str, *extra) -> DataFrame:
    """Shared vector corpus (vec_id, label, v, nrm, *extra). Vectors
    with NaN, Inf or NULL coordinates never enter (`vector_hygiene`; the
    oracle's _DUCK_VEC e CTE mirrors the filter). NULL embeddings pass
    through here (downstream ops pin their own NULL contracts, nullmeas
    fixture class). Build `extra` over as_double_array("embedding"),
    not over `v`: Spark does not fold a projection over `v` into this
    one, so the plan would carry one more Project."""
    emb = load_table(spark, sf_dir, "embeddings").where(vector_hygiene())
    v = as_double_array("embedding")
    return emb.select(
        "vec_id", "label", v.alias("v"), norm(v).alias("nrm"), *extra
    )


def _probes(corpus: DataFrame, where, *extra) -> DataFrame:
    """The probe side: (query_id, qv, qnrm, *extra) of the corpus rows
    matching `where`. Scale-invariant (the probe set is fixed), so every
    caller broadcasts it."""
    return corpus.where(where).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        *extra,
    )


def _pairs(cands: DataFrame, probes: DataFrame, on=True) -> DataFrame:
    """Candidate (corpus vector, probe) pairs: the broadcast probe side
    joined on `on`, the probe itself excluded."""
    return cands.join(
        F.broadcast(probes), on & (F.col("vec_id") != F.col("query_id"))
    )


def _cos(qv="qv", v="v", qnrm="qnrm", nrm="nrm", dp: int | None = 6):
    """Cosine over precomputed norms, rounded to `dp` places BEFORE any
    ranking so the order is engine-stable (ties beyond 6dp break on the
    id); dp=None keeps the exact value, which the MRL shortlist ranks on
    as its oracle does. try_divide: a zero norm gives NULL, as DuckDB's
    double division does, where ANSI Spark would raise."""
    c = F.try_divide(dot(F.col(qv), F.col(v)), F.col(qnrm) * F.col(nrm))
    return c if dp is None else F.round(c, dp)


def _top_k(df: DataFrame, k: int, *order, rank: str = "rnk") -> DataFrame:
    """Per-query top-k: row_number over each query_id's rows by
    `order` in column `rank`, cut at <= k."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def _rerank(pairs: DataFrame, k: int, *cols) -> DataFrame:
    """Exact re-rank of candidate pairs: 6-dp cosine, top-k per query
    with ties to the lowest vec_id; (query_id, neighbor_id, *cols,
    cos_sim, rnk)."""
    ranked = _top_k(
        pairs.withColumn("cos_sim", _cos()),
        k,
        F.desc("cos_sim"),
        F.asc_nulls_last("vec_id"),
    )
    return ranked.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), *cols, "cos_sim", "rnk"
    )


def _label_centroids(corpus):
    """Element-wise mean vector (+ norm) per label partition — the IVF
    coarse-quantizer table, shared by s_centroid_search and
    s_ivf_pq_search so the centroid assembly (array_sort over
    (dim, mean) structs) lives in one place."""
    dims = corpus.select("label", F.posexplode("v").alias("dim", "x"))
    return (
        dims.groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("sm"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("sm", lambda s: s.m).alias("cv"),
        )
        .withColumn("c_nrm", norm(F.col("cv")))
    )


def _route_probes(corpus, cent, nprobe: int = 2):
    """(query_id, qv, qnrm, label): each probe routed to its nprobe
    nearest centroids by 6-dp cosine, ties broken on c_label."""
    scored = _probes(corpus, _PROBE_SET).join(F.broadcast(cent)).withColumn(
        "c_sim", _cos(v="cv", nrm="c_nrm")
    )
    return _top_k(
        scored, nprobe, F.desc("c_sim"), F.col("c_label"), rank="c_rnk"
    ).select("query_id", "qv", "qnrm", F.col("c_label").alias("label"))


_COSINE_TOPK = (
    _DUCK_VEC
    + f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_sum(list_transform(list_zip(q.v, c.v),
                      p -> p[1] * p[2])) / (q.nrm * c.nrm), 6)
           AS cos_sim,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT q.vec_id, c.vec_id AS c_vec_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                          p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) DESC,
                    c.vec_id NULLS LAST
         ) AS rnk
  FROM n q JOIN n c ON q.vec_id < {N_PROBES} AND c.vec_id != q.vec_id
) r
JOIN n q ON q.vec_id = r.vec_id
JOIN n c ON c.vec_id = r.c_vec_id
WHERE rnk <= {TOP_K}
"""
)


@register("s_cosine_topk", oracle=_COSINE_TOPK)
def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for probe vectors vec_id < 10."""
    corpus = _corpus(spark, sf_dir)
    return _rerank(_pairs(corpus, _probes(corpus, _PROBE_SET)), TOP_K)


_NN = (
    _DUCK_VEC
    + """
SELECT q.vec_id, nb.neighbor_id, nb.cos_sim
FROM n q
JOIN LATERAL (
  SELECT c.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(q.v, c.v),
                        p -> p[1] * p[2])) / (q.nrm * c.nrm), 6)
             AS cos_sim
  FROM n c WHERE c.vec_id != q.vec_id
  ORDER BY cos_sim DESC, c.vec_id NULLS LAST
  LIMIT 1
) nb ON true
WHERE q.vec_id < 100
"""
)


@register("s_nearest_neighbor", oracle=_NN)
def s_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN for the first 100 vectors (near-duplicate detection shape:
    embedding-cosine dedup keeps a row iff its 1-NN similarity < threshold)."""
    corpus = _corpus(spark, sf_dir)
    nn = _rerank(_pairs(corpus, _probes(corpus, F.col("vec_id") < 100)), 1)
    return nn.select(F.col("query_id").alias("vec_id"), "neighbor_id", "cos_sim")


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

N_PLANES = 8  # 256 buckets


def _plane_coeffs(p: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane: coefficient i of plane p is
    md5(f"{p},{i}") mapped to [-1, 1]. Computed ONCE in plain Python and
    embedded as double literals in BOTH the Spark plan and the DuckDB
    oracle — no per-row hashing (the old xxhash64-in-HOF variant paid the
    interpreted-lambda tax on every element), no RNG state, bit-identical
    constants in every engine (repr round-trips IEEE doubles exactly).
    """
    import hashlib

    return [
        (int(hashlib.md5(f"{p},{i}".encode()).hexdigest()[:4], 16) % 2000)
        / 1000.0
        - 1.0
        for i in range(dim)
    ]


_PLANES = [_plane_coeffs(p) for p in range(N_PLANES)]


def _bucket(name: str, dim: int = 64):
    """Sign-bit bucket from N_PLANES fixed hyperplanes (literal coeffs).

    One SQL-string expression (see d_simhash for the py4j rationale);
    the plane dot is a zip_with multiply + left-fold add, and the sign
    test rounds to 6dp so it is stable across engines."""
    terms = []
    for p, coeffs in enumerate(_PLANES):
        arr = "array(" + ",".join(f"{c!r}D" for c in coeffs) + ")"
        dot_p = (
            f"aggregate(zip_with({name}, {arr}, (x, c) -> x * c), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN round({dot_p}, 6) > 0 THEN "
            f"{1 << (N_PLANES - 1 - p)}L ELSE 0L END)"
        )
    return F.expr(" + ".join(terms))


def _bucket_sql(vec_expr: str) -> str:
    """The DuckDB twin of _bucket, from the same literal coefficients."""
    terms = []
    for p, coeffs in enumerate(_PLANES):
        arr = "[" + ",".join(repr(c) for c in coeffs) + "]"
        dot_p = (
            f"list_sum(list_transform(list_zip({vec_expr}, {arr}), "
            f"q -> q[1] * q[2]))"
        )
        terms.append(
            f"(CASE WHEN round({dot_p}, 6) > 0 THEN "
            f"{1 << (N_PLANES - 1 - p)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
         {_bucket_sql('v')} AS bucket
  FROM e
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(q.v, c.v),
               p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < {N_PROBES}
)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


@register("s_ann_lsh_topk", oracle=_ANN_LSH)
def s_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5: probes search only their own
    hyperplane bucket. Recall vs s_cosine_topk is measured in tests.

    Scale path: corpus bucketed once (a write-time partition key at
    100 TB); probe fan-out is a co-partitioned equi-join on bucket, not a
    broadcast of the corpus.
    """
    corpus = _corpus(spark, sf_dir).withColumn("bucket", _bucket("v"))
    probes = _probes(corpus, _PROBE_SET, F.col("bucket").alias("qbucket"))
    return _rerank(
        _pairs(corpus, probes, F.col("bucket") == F.col("qbucket")), TOP_K
    )


# ---------------------------------------------------------------------------
# IVF-style: centroid routing by label partitions
# ---------------------------------------------------------------------------


K_CLUSTERS = 8
KMEANS_ITERS = 3


def _kmeans_pairs_sql(cent_cte: str) -> str:
    """One Lloyd assignment step as SQL: squared-L2 to every centroid,
    keep the nearest (ties to the lowest cluster id)."""
    return f"""
  SELECT vec_id, cluster, dist FROM (
    SELECT e.vec_id, c.cluster,
           list_sum(list_transform(list_zip(e.v, c.cv),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_sum(list_transform(
                                  list_zip(e.v, c.cv),
                                  p -> (p[1] - p[2]) * (p[1] - p[2]))),
                              c.cluster) AS rn
    FROM e CROSS JOIN {cent_cte} c
  ) WHERE rn = 1
"""


def _kmeans_update_sql(assign_cte: str) -> str:
    return f"""
  SELECT cluster, list(m ORDER BY i) AS cv FROM (
    SELECT a.cluster, t.i, avg(e.v[t.i]) AS m
    FROM {assign_cte} a JOIN e USING (vec_id)
    CROSS JOIN generate_series(1, 64) AS t(i)
    GROUP BY a.cluster, t.i
  ) GROUP BY cluster
"""


_KMEANS = f"""
WITH e AS (
  -- vec_id IS NOT NULL (r8 NULL-key fuzz): the per-vector assignment
  -- window PARTITIONs BY vec_id, so multiple id-less vectors would
  -- collapse to one row here while Spark's UDF assigns each row —
  -- id-less vectors are excluded from training on both sides
  -- finite coordinates only (r9 non-finite class): one NaN distance
  -- makes argmin assignment engine-dependent, one Inf poisons a
  -- centroid forever — corrupt vectors don't train
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    AND len(list_filter(CAST(embedding AS DOUBLE[]),
                        x -> x IS NULL OR NOT isfinite(x))) = 0
), c0 AS (
  SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < {K_CLUSTERS}
), a0 AS ({_kmeans_pairs_sql('c0')}
), c1 AS ({_kmeans_update_sql('a0')}
), a1 AS ({_kmeans_pairs_sql('c1')}
), c2 AS ({_kmeans_update_sql('a1')}
), a2 AS ({_kmeans_pairs_sql('c2')}
), c3 AS ({_kmeans_update_sql('a2')}
), final AS ({_kmeans_pairs_sql('c3')}
)
SELECT cluster, count(*) AS n_vecs,
       round(sum(dist), 2) AS inertia
FROM final GROUP BY cluster
"""


@register("s_kmeans_train", oracle=_KMEANS)
def s_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training: 3 Lloyd iterations of k-means
    (k=8, init = the first k vectors — deterministic, no RNG), then the
    final assignment's per-cluster sizes and inertia. This is the
    training step s_centroid_search presupposes (its label partitions
    stand in for learned clusters).

    Spark-first split of the algorithm's two halves:
    - assignment is embarrassingly parallel — an Arrow-batched pandas UDF
      computes argmin over the broadcast (k × dim) centroid matrix with
      one BLAS-backed numpy broadcast per batch (the k·dim·n multiply is
      the hot loop; per-row JVM HOF folds were ~10x slower);
    - update is a partial-agg'd groupBy mean over posexploded dims (one
      shuffle of k × dim rows per iteration).
    Centroids (k × dim doubles) are driver-side model state between
    iterations — the one legitimate collect() in this module; at 100 TB
    they'd live in a broadcast variable exactly the same way.
    The DuckDB oracle unrolls the 3 iterations as CTE pairs.
    """
    from pyspark.sql.functions import pandas_udf

    # NULL embeddings are untrainable and excluded (the oracle's e CTE
    # filters them; np.vstack would crash on a None row, and the init
    # collect would seed a None centroid — nullmeas-fixture fuzz class).
    # NULL vec_id likewise (r8): the oracle tracks assignment per
    # vec_id, so id-less vectors train on neither side. Non-finite
    # coordinates never reach here (`_corpus`; r9): one NaN distance
    # makes the argmin engine-dependent, one Inf poisons a centroid.
    corpus = (
        _corpus(spark, sf_dir)
        .where(F.col("v").isNotNull() & F.col("vec_id").isNotNull())
        .select("vec_id", "v")
        .cache()
    )
    cents: dict[int, list[float]] = {
        r.vec_id: list(r.v)
        for r in corpus.where(F.col("vec_id") < K_CLUSTERS).collect()
    }

    def assigner(cent_map):
        ids = np.array(sorted(cent_map))
        C = np.array([cent_map[c] for c in sorted(cent_map)])

        @pandas_udf("struct<cluster: int, dist: double>")
        def assign(v: pd.Series) -> pd.DataFrame:
            M = np.vstack(v.to_numpy())
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = d.argmin(axis=1)  # first min -> lowest cluster id
            return pd.DataFrame(
                {"cluster": ids[best], "dist": d[np.arange(len(best)), best]}
            )

        return assign

    for _ in range(KMEANS_ITERS):
        assigned = corpus.withColumn("a", assigner(cents)("v"))
        new_rows = (
            assigned.select(F.col("a.cluster").alias("cluster"),
                            F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        updated: dict[int, list[float]] = {}
        for r in new_rows:
            updated.setdefault(r.cluster, [0.0] * 64)[r.dim] = r.m
        # an emptied cluster is DROPPED, exactly like the oracle's
        # update CTE (whose GROUP BY only yields clusters with members)
        # — keeping the stale centroid would diverge from DuckDB the
        # first time any cluster empties mid-iteration
        cents = updated

    final = corpus.withColumn("a", assigner(cents)("v"))
    return final.groupBy(F.col("a.cluster").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("a.dist"), 2).alias("inertia"),
    )


_CENTROID_SEARCH = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
), dims AS (
  SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
), cent AS (
  SELECT label AS c_label, list(m ORDER BY dim) AS cv
  FROM (SELECT label, dim, avg(x) AS m FROM dims GROUP BY label, dim)
  GROUP BY label
), cn AS (
  SELECT c_label, cv,
         sqrt(list_sum(list_transform(cv, x -> x * x))) AS c_nrm
  FROM cent
), routed AS (
  SELECT query_id, qv, qnrm, c_label FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, c.c_label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(list_zip(q.v, c.cv),
                            p -> p[1] * p[2])) / (q.nrm * c.c_nrm), 6) DESC,
                      c.c_label) AS c_rnk
    FROM n q CROSS JOIN cn c
    WHERE q.vec_id < {N_PROBES}
  ) WHERE c_rnk <= 2
), scored AS (
  SELECT r.query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(r.qv, c.v),
               p -> p[1] * p[2])) / (r.qnrm * c.nrm), 6) AS cos_sim
  FROM routed r JOIN n c ON c.label = r.c_label AND c.vec_id != r.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


@register("s_centroid_search", oracle=_CENTROID_SEARCH)
def s_centroid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat shape: (1) mean centroid per label partition, (2) route each
    probe to its 2 nearest centroids, (3) exact search within those
    partitions only. Output: top-5 per probe from the probed partitions.

    At scale the label is a learned k-means cluster id and a write-time
    partition key; step 3 then reads only matching partitions (partition
    pruning), the classic IVF trade: nprobe/nlist controls recall.
    """
    corpus = _corpus(spark, sf_dir)
    routed = _route_probes(corpus, _label_centroids(corpus))
    pairs = corpus.join(
        routed,
        (corpus.label == routed.label) & (F.col("vec_id") != F.col("query_id")),
    )
    return _rerank(pairs, TOP_K)


# ---------------------------------------------------------------------------
# Scalar quantization (int8 compression + reconstruction error audit)
# ---------------------------------------------------------------------------

_QUANTIZE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), ex AS (
  SELECT vec_id, label, generate_subscripts(v, 1) AS dim, unnest(v) AS x
  FROM e
), stats AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim
), q AS (
  SELECT ex.vec_id, ex.label, ex.x, s.lo,
         (s.hi - s.lo) / 255.0 AS scale,
         round((ex.x - s.lo) / ((s.hi - s.lo) / 255.0)) AS code
  FROM ex JOIN stats s USING (dim)
), err AS (
  SELECT vec_id, label,
         sum(pow(x - (lo + code * scale), 2)) AS sq_err,
         count(*) AS dims
  FROM q GROUP BY vec_id, label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(sq_err / dims) * 1e6, 4) AS mse_e6,
       round(max(sq_err / dims) * 1e6, 4) AS max_mse_e6
FROM err GROUP BY label
"""


@register("s_vector_quantize", oracle=_QUANTIZE)
def s_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    4x index-compression step before ANN serving — with a per-label
    reconstruction-error audit (mean/max MSE, scaled 1e6 for stable 4dp
    comparison). Per-dim (min, max) ranges come from one
    posexplode->groupBy(dim) pass (64 groups, map-side partial agg); the
    64-row range table broadcast-joins back onto the element stream —
    scale-invariant (it is dim-sized, not corpus-sized), so the forced
    broadcast is safe at any corpus size. Everything stays codegen:
    explode, join, two aggregates; no Python, no collect.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(vector_hygiene())
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double_array("embedding")).alias("dim", "x"),
    )
    stats = ex.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    scale = (F.col("hi") - F.col("lo")) / 255.0
    q = ex.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "label",
        F.pow(
            F.col("x")
            - (
                F.col("lo")
                # try_divide: a constant dimension (hi == lo, e.g. a
                # zero-padded coordinate or a 1-row corpus) makes scale 0;
                # ANSI Spark raises DIVIDE_BY_ZERO where DuckDB's double
                # division yields NULL, which then null-propagates through
                # the reconstruction error identically in both engines.
                + F.round(F.try_divide(F.col("x") - F.col("lo"), scale))
                * scale
            ),
            2,
        ).alias("sq"),
    )
    err = q.groupBy("vec_id", "label").agg(
        (F.sum("sq") / F.count(F.lit(1))).alias("mse")
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("mse") * 1e6, 4).alias("mse_e6"),
        F.round(F.max("mse") * 1e6, 4).alias("max_mse_e6"),
    )


# ---------------------------------------------------------------------------
# In-engine ANN quality evaluation: recall@k of LSH vs exact top-k
# ---------------------------------------------------------------------------

_RECALL_EVAL = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ( {_COSINE_TOPK} ) t
), approx AS (
  SELECT query_id, neighbor_id FROM ( {_ANN_LSH} ) t
), hits AS (
  SELECT e.query_id,
         sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END) AS n_hit
  FROM exact e
  LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
), retr AS (
  SELECT query_id, count(*) AS n_retrieved FROM approx GROUP BY query_id
)
SELECT h.query_id,
       CAST(h.n_hit AS BIGINT) AS n_hit,
       CAST(coalesce(r.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       round(CAST(h.n_hit AS DOUBLE) / {TOP_K}, 4) AS recall_at_k
FROM hits h LEFT JOIN retr r ON r.query_id = h.query_id
"""


@register("s_recall_eval", oracle=_RECALL_EVAL)
def s_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the LSH index against exact brute force,
    computed inside the engine — the evaluation loop an ANN deployment
    runs continuously (sample probes, compare index vs ground truth,
    alert on recall drift). Both sides are this module's own registered
    operators, so the eval is exactly the deployed plans, not a
    reimplementation.

    Scale: ground truth on a PROBE SAMPLE only (the standard practice —
    exact top-k of a sample costs one broadcast-probe scan, not O(n²));
    the comparison joins two k-bounded result sets, negligible at any
    corpus size.
    """
    exact = s_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = s_ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
    )
    retr = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_retrieved")
    )
    return (
        hits.join(retr, "query_id", "left")
        .select(
            "query_id",
            "n_hit",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.round(F.col("n_hit").cast("double") / TOP_K, 4).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codebooks (the 100 TB index path)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_SUBDIM = 64 // PQ_M
PQ_K = 16  # codes per subspace codebook
# Lloyd-iteration sample cap (r10, VERDICT r9 #4): codebook TRAINING
# runs on the first PQ_TRAIN_CAP vec_ids only — a deterministic sample
# both engines compute identically — while the final assignment still
# covers the full corpus. This is what makes PQ train cost
# scale-INVARIANT: the 10x stress previously measured alpha=0.76
# because every Lloyd pass touched every vector; with the cap binding
# (2000 vecs at sf0.1, 20000 at 10x, cap 1024) only the single
# irreducible full-corpus assignment scales with the data.
PQ_TRAIN_CAP = 1024
PQ_ITERS = 2  # Lloyd iterations per codebook


def _pq_assign_sql(cent_cte: str, src: str = "sub") -> str:
    """One PQ assignment step: nearest code per (vector, subspace),
    ties to the lowest code id. Subspace is DATA, not an unrolled CTE —
    all M codebooks train in the same relational pass. `src` selects
    the vector stream: the capped training sample (`subt`) for Lloyd
    iterations, the full corpus (`sub`) for the final assignment."""
    d = (
        "list_sum(list_transform(list_zip(b.sv, c.cv),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
  SELECT vec_id, s, code, dist FROM (
    SELECT b.vec_id, b.s, c.code, {d} AS dist,
           row_number() OVER (PARTITION BY b.vec_id, b.s
                              ORDER BY {d}, c.code) AS rn
    FROM {src} b JOIN {cent_cte} c ON b.s = c.s
  ) WHERE rn = 1
"""


def _pq_update_sql(assign_cte: str, src: str = "subt") -> str:
    return f"""
  SELECT s, code, list(m ORDER BY i) AS cv FROM (
    SELECT a.s, a.code, t.i, avg(b.sv[t.i]) AS m
    FROM {assign_cte} a
    JOIN {src} b ON a.vec_id = b.vec_id AND a.s = b.s
    CROSS JOIN generate_series(1, {PQ_SUBDIM}) AS t(i)
    GROUP BY a.s, a.code, t.i
  ) GROUP BY s, code
"""


def _pq_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding element stream keyed by (vec, subspace, in-subspace
    dim) — the shared input of PQ training, assignment, and search,
    cached once per session."""

    def build() -> DataFrame:
        # vec_id IS NOT NULL (r8 NULL-key fuzz): every PQ oracle assigns
        # codes in a PARTITION BY vec_id window, where all id-less
        # vectors collapse to one row — they are excluded from the PQ
        # family on both sides (matching e-CTE filters in _PQ,
        # _PQ_SEARCH, _IVF_PQ_SEARCH).
        emb = load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id").isNotNull() & vector_hygiene()
        )
        return (
            emb.select(
                "vec_id",
                F.posexplode(as_double_array("embedding")).alias("dim", "x"),
            )
            .select(
                "vec_id",
                (F.col("dim") / PQ_SUBDIM).cast("int").alias("s"),
                (F.col("dim") % PQ_SUBDIM).alias("i"),
                "x",
            )
            .cache()
        )

    return cache.memo(spark, ("pq_elements", sf_dir), build)


def _pq_query_lut(ex: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-probe (M x K) asymmetric-distance lookup table: squared
    distance from each probe's subvector to every code centroid —
    shared by s_pq_search and s_ivf_pq_search."""
    return (
        ex.where(F.col("vec_id") < N_PROBES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), ["s", "i"])
        .groupBy("query_id", "s", "code")
        .agg(F.sum(F.pow(F.col("x") - F.col("cx"), 2)).alias("d"))
    )


def _pq_assign(ex: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest code per (vector, subspace); ties to the lowest code id
    (struct-min), matching the oracle's row_number order."""
    pairs = (
        ex.join(F.broadcast(codebook), ["s", "i"])
        .groupBy("vec_id", "s", "code")
        .agg(F.sum(F.pow(F.col("x") - F.col("cx"), 2)).alias("dist"))
    )
    best = pairs.groupBy("vec_id", "s").agg(
        F.min(F.struct("dist", "code")).alias("m")
    )
    return best.select(
        "vec_id", "s", F.col("m.code").alias("code"),
        F.col("m.dist").alias("dist"),
    )


def _pq_train_cb(ex: DataFrame) -> DataFrame:
    """PQ_ITERS Lloyd iterations from the deterministic first-PQ_K
    init, over the first-PQ_TRAIN_CAP training sample only (r10: the
    cap is what makes codebook training scale-invariant — see the
    PQ_TRAIN_CAP comment); returns the trained codebook in element
    form (s, code, i, cx)."""
    train = ex.where(F.col("vec_id") < PQ_TRAIN_CAP)
    cb = train.where(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("code"), "i", F.col("x").alias("cx")
    )
    for _ in range(PQ_ITERS):
        a = _pq_assign(train, cb)
        cb = (
            a.select("vec_id", "s", "code")
            .join(train, ["vec_id", "s"])
            .groupBy("s", "code", "i")
            .agg(F.avg("x").alias("cx"))
        )
    return cb


_PQ = f"""
WITH e AS (
  -- vec_id IS NOT NULL: see _pq_elements' NULL-key pin
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    AND (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), sub AS (
  SELECT vec_id, sp.s AS s,
         v[sp.s * {PQ_SUBDIM} + 1 : sp.s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM e CROSS JOIN (SELECT unnest(range({PQ_M})) AS s) sp
), c0 AS (
  SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}
), subt AS (
  SELECT * FROM sub WHERE vec_id < {PQ_TRAIN_CAP}
), a0 AS ({_pq_assign_sql('c0', 'subt')}
), c1 AS ({_pq_update_sql('a0')}
), a1 AS ({_pq_assign_sql('c1', 'subt')}
), c2 AS ({_pq_update_sql('a1')}
), final AS ({_pq_assign_sql('c2')}
)
SELECT CAST(s AS INTEGER) AS subspace,
       count(*) AS n_vecs,
       count(DISTINCT code) AS used_codes,
       round(sum(dist), 2) AS inertia
FROM final GROUP BY s
"""


@register("s_pq_train", oracle=_PQ)
def s_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training: the embedding splits
    into {PQ_M} subspaces of {PQ_SUBDIM} dims; each subspace learns a
    {PQ_K}-code codebook via {PQ_ITERS} Lloyd iterations (deterministic
    init: subvectors of the first {PQ_K} vectors). Reports per-subspace
    code usage and final inertia. PQ is THE index-compression path at
    100 TB embedding scale — 64 float32 dims become {PQ_M} byte codes
    (32x) while scalar int8 (s_vector_quantize) only gives 4x.

    Unlike s_kmeans_train (driver-side centroid state + BLAS pandas
    UDF), this stays fully declarative with NO collect: the codebook is
    a (M x K x subdim)-row frame — scale-INVARIANT, so its broadcast
    into the element-stream join is safe at any corpus size. Per
    iteration: one broadcast join (elements x K fan-out), two
    partial-agg'd shuffles (per-(vec, subspace, code) distance, then
    codebook mean update). Subspace is a column, so all M codebooks
    train in the same passes; ties go to the lowest code id via
    struct-min, matching the oracle's row_number order.
    """
    ex = _pq_elements(spark, sf_dir)
    cb = _pq_train_cb(ex)
    final = _pq_assign(ex, cb)
    out = final.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("code").alias("used_codes"),
        F.round(F.sum("dist"), 2).alias("inertia"),
    )
    return out.select(
        F.col("s").cast("int").alias("subspace"),
        "n_vecs",
        "used_codes",
        "inertia",
    )


# ---------------------------------------------------------------------------
# PQ ANN search: asymmetric distance (ADC) via the per-probe lookup table
# ---------------------------------------------------------------------------

_PQ_SEARCH = f"""
WITH e AS (
  -- vec_id IS NOT NULL: see _pq_elements' NULL-key pin
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    AND (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), sub AS (
  SELECT vec_id, sp.s AS s,
         v[sp.s * {PQ_SUBDIM} + 1 : sp.s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM e CROSS JOIN (SELECT unnest(range({PQ_M})) AS s) sp
), c0 AS (
  SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}
), subt AS (
  SELECT * FROM sub WHERE vec_id < {PQ_TRAIN_CAP}
), a0 AS ({_pq_assign_sql('c0', 'subt')}
), c1 AS ({_pq_update_sql('a0')}
), a1 AS ({_pq_assign_sql('c1', 'subt')}
), c2 AS ({_pq_update_sql('a1')}
), final AS ({_pq_assign_sql('c2')}
), lut AS (
  SELECT q.vec_id AS query_id, c.s, c.code,
         list_sum(list_transform(list_zip(q.sv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM sub q JOIN c2 c ON q.s = c.s
  WHERE q.vec_id < {N_PROBES}
), adc AS (
  SELECT l.query_id, f.vec_id AS neighbor_id, round(sum(l.d), 6) AS adc6
  FROM final f
  JOIN lut l ON l.s = f.s AND l.code = f.code
  WHERE f.vec_id != l.query_id
  GROUP BY l.query_id, f.vec_id
)
SELECT query_id, neighbor_id, adc6, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc6, neighbor_id) AS rnk
  FROM adc
) WHERE rnk <= {TOP_K}
"""


@register("s_pq_search", oracle=_PQ_SEARCH)
def s_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN serving: top-{k} neighbors per probe by ASYMMETRIC
    distance — the query stays full-precision, the corpus is its
    {PQ_M}-byte code words, and each probe precomputes a
    (M x K)-entry lookup table of subspace distances so scoring a
    corpus vector is M table lookups + adds, never a float-vector
    scan. This is the serving half s_pq_train exists for, and the
    standard recall/compute trade against s_ann_lsh_topk's bucketing.

    The LUT is probes x M x K rows — probe-set-bounded and
    scale-invariant, so its broadcast onto the (vec, subspace, code)
    assignment stream is safe at any corpus size; the per-probe sum
    is one partial-agg'd shuffle on (query, vec) and the top-k a
    keyed window over {k}-bounded groups. Ranking is on the
    6dp-ROUNDED ADC (ties to the lowest neighbor id) so the order is
    engine-stable, same trick as s_cosine_topk.
    """
    ex = _pq_elements(spark, sf_dir)
    cb = _pq_train_cb(ex)
    final = _pq_assign(ex, cb)
    lut = _pq_query_lut(ex, cb)
    adc = (
        final.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc6"))
    )
    return _top_k(adc, TOP_K, "adc6", "neighbor_id")


# ---------------------------------------------------------------------------
# Range (radius) search: every corpus vector within a cosine radius
# ---------------------------------------------------------------------------

RANGE_T = 0.3  # synthetic embeddings are near-random; 0.3 is the
# discriminating tail (a real retrieval radius would sit near 0.8+ —
# the plan shape is threshold-invariant)

_RANGE_SEARCH = (
    _DUCK_VEC
    + f"""
SELECT query_id, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(q.v, c.v),
                        p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n q JOIN n c ON q.vec_id < {N_PROBES} AND c.vec_id != q.vec_id
)
WHERE cos_sim >= {RANGE_T}
"""
)


@register("s_range_search", oracle=_RANGE_SEARCH)
def s_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus vectors with cosine >= RANGE_T of each probe (vec_id <
    10) — the radius-query sibling of s_cosine_topk (reference has no
    vector surface; §2.7 ABSENT row, required for the retrieval suite).

    Scale path: identical to s_cosine_topk — the probe set is tiny and
    scale-invariant, so broadcasting it onto the corpus scan is a
    map-only pass (no shuffle at all: the filter replaces top-k's keyed
    window). At cluster scale this is the cheapest exact vector query in
    the suite; the LSH/IVF variants bound the scanned fraction when the
    probe set itself grows.
    """
    corpus = _corpus(spark, sf_dir)
    return (
        _pairs(corpus, _probes(corpus, _PROBE_SET))
        .withColumn("cos_sim", _cos())
        .where(F.col("cos_sim") >= RANGE_T)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# MaxSim late-interaction scoring (multi-vector documents)
# ---------------------------------------------------------------------------

N_QUERY_LABELS = 2  # labels 0..1 are the query "documents"

_MAXSIM = (
    _DUCK_VEC
    + f"""
, pairs AS (
  SELECT q.label AS query_label, c.label AS cand_label, q.vec_id AS qvec,
         max(round(list_sum(list_transform(list_zip(q.v, c.v),
                   p -> p[1] * p[2])) / (q.nrm * c.nrm), 6)) AS best
  FROM n q JOIN n c ON q.label < {N_QUERY_LABELS} AND c.label != q.label
  GROUP BY 1, 2, 3
)
SELECT query_label, cand_label,
       round(sum(best), 4) AS maxsim,
       count(*) AS n_query_vecs
FROM pairs GROUP BY 1, 2
"""
)


@register("s_maxsim", oracle=_MAXSIM)
def s_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim (the ColBERT scoring rule, Khattab &
    Zaharia 2020): a multi-vector query document scores a candidate
    document as the SUM over query vectors of each one's best cosine
    against any candidate vector. Labels play the role of documents —
    the engine-relevant part is the two-level aggregation shape, not the
    grouping key.

    Plan: one label-blocked pair join (query side is label-pruned and
    scale-invariant, so it broadcasts), then max per (query doc, cand
    doc, query vector) and sum per (query doc, cand doc) — both
    partial-agg'd on compound keys. At corpus scale the candidate side
    is ANN-pruned first (s_ann_lsh_topk / s_centroid_search); MaxSim
    re-ranks the survivors, which is exactly how late-interaction
    retrieval deploys.
    """
    corpus = _corpus(spark, sf_dir)
    q = _probes(
        corpus,
        F.col("label") < N_QUERY_LABELS,
        F.col("label").alias("query_label"),
    )
    pairs = (
        corpus.join(F.broadcast(q), F.col("label") != F.col("query_label"))
        .withColumn("cos_sim", _cos())
        .groupBy("query_label", F.col("label").alias("cand_label"), "query_id")
        .agg(F.max("cos_sim").alias("best"))
    )
    return pairs.groupBy("query_label", "cand_label").agg(
        F.round(F.sum("best"), 4).alias("maxsim"),
        F.count(F.lit(1)).alias("n_query_vecs"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH (probe the home bucket + every 1-bit-flip bucket, then
# exact re-rank) — the recall/latency knob real LSH deployments turn
# ---------------------------------------------------------------------------

_MULTIPROBE_BUCKETS_SQL = (
    "list_value(bucket, "
    + ", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))
    + ")"
)

_MULTIPROBE_LSH = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
         {_bucket_sql('v')} AS bucket
  FROM e
), probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
         unnest({_MULTIPROBE_BUCKETS_SQL}) AS probe_bucket
  FROM n WHERE vec_id < {N_PROBES}
), scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(p.qv, c.v),
               q -> q[1] * q[2])) / (p.qnrm * c.nrm), 6) AS cos_sim
  FROM probes p JOIN n c ON c.bucket = p.probe_bucket
                        AND c.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


@register("s_multiprobe_lsh", oracle=_MULTIPROBE_LSH)
def s_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-{k} (Lv et al. 2007): each query searches its
    own hyperplane bucket PLUS the {p} buckets one bit-flip away — the
    standard recall knob that makes one LSH table behave like many
    without re-hashing the corpus. Stage 2 exact-reranks the candidate
    union. Recall vs both brute force and single-probe is asserted in
    tests (multi-probe recall >= single-probe by construction: its
    candidate set is a superset).

    Scale shape: probes explode to {p1} (bucket, query) rows — a
    scale-invariant frame that broadcasts — and candidates arrive by
    bucket EQUI-join against the corpus (each corpus vector has one
    bucket, so it matches at most one probe row per query: no dedup
    pass). The corpus is never broadcast, never crossed; candidate
    volume = (probed buckets) x (avg bucket occupancy), the multi-probe
    paper's cost model.
    """
    corpus = _corpus(spark, sf_dir).withColumn("bucket", _bucket("v"))
    flips = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("long")
            for p in range(N_PLANES)
        ],
    )
    probes = _probes(corpus, _PROBE_SET, F.explode(flips).alias("probe_bucket"))
    return _rerank(
        _pairs(corpus, probes, F.col("bucket") == F.col("probe_bucket")), TOP_K
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse centroid routing + PQ asymmetric distance within the
# probed lists — the production ANN index layout (FAISS IndexIVFPQ shape)
# ---------------------------------------------------------------------------

_IVF_PQ_SEARCH = f"""
WITH e AS (
  -- vec_id IS NOT NULL: see _pq_elements' NULL-key pin. The PQ stages
  -- (sub/c0/final) must not see id-less vectors; the centroid stage
  -- uses dims below, where the NULL-id exclusion is harmless (one
  -- vector out of a label mean).
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id IS NOT NULL
    AND (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
), dims AS (
  SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
), cent AS (
  SELECT label AS c_label, list(m ORDER BY dim) AS cv
  FROM (SELECT label, dim, avg(x) AS m FROM dims GROUP BY label, dim)
  GROUP BY label
), cn AS (
  SELECT c_label, cv,
         sqrt(list_sum(list_transform(cv, x -> x * x))) AS c_nrm
  FROM cent
), routed AS (
  SELECT query_id, c_label FROM (
    SELECT q.vec_id AS query_id, c.c_label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(list_zip(q.v, c.cv),
                            p -> p[1] * p[2])) / (q.nrm * c.c_nrm), 6) DESC,
                      c.c_label) AS c_rnk
    FROM n q CROSS JOIN cn c
    WHERE q.vec_id < {N_PROBES}
  ) WHERE c_rnk <= 2
), sub AS (
  SELECT vec_id, sp.s AS s,
         v[sp.s * {PQ_SUBDIM} + 1 : sp.s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM e CROSS JOIN (SELECT unnest(range({PQ_M})) AS s) sp
), c0 AS (
  SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_K}
), subt AS (
  SELECT * FROM sub WHERE vec_id < {PQ_TRAIN_CAP}
), a0 AS ({_pq_assign_sql('c0', 'subt')}
), c1 AS ({_pq_update_sql('a0')}
), a1 AS ({_pq_assign_sql('c1', 'subt')}
), c2 AS ({_pq_update_sql('a1')}
), final AS ({_pq_assign_sql('c2')}
), lut AS (
  SELECT q.vec_id AS query_id, c.s, c.code,
         list_sum(list_transform(list_zip(q.sv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
  FROM sub q JOIN c2 c ON q.s = c.s
  WHERE q.vec_id < {N_PROBES}
), adc AS (
  SELECT l.query_id, f.vec_id AS neighbor_id, round(sum(l.d), 6) AS adc6
  FROM final f
  JOIN e ce ON ce.vec_id = f.vec_id
  JOIN routed r ON r.c_label = ce.label
  JOIN lut l ON l.s = f.s AND l.code = f.code AND l.query_id = r.query_id
  WHERE f.vec_id != l.query_id
  GROUP BY l.query_id, f.vec_id
)
SELECT query_id, neighbor_id, adc6, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc6, neighbor_id) AS rnk
  FROM adc
) WHERE rnk <= {TOP_K}
"""


@register("s_ivf_pq_search", oracle=_IVF_PQ_SEARCH)
def s_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving — the production ANN layout (FAISS IndexIVFPQ
    shape; Jegou et al. 2011): a coarse quantizer routes each probe to
    its 2 nearest label-partition centroids, and only vectors in those
    partitions are scored, by PQ asymmetric distance against the probe's
    precomputed (M x K) lookup table. Composes s_centroid_search's
    routing stage with s_pq_search's ADC stage end to end.

    Scale shape: the centroid table and the LUT are both scale-invariant
    broadcasts; the candidate restriction is an equi-join of the code
    stream against the (query, routed-label) pairs — at 100 TB the label
    is a write-time partition key, so this join IS partition pruning and
    the ADC pass reads 2/nlist of the index. One partial-agg'd shuffle
    on (query, vec) sums the M lookups; the top-k is a keyed window over
    the probed slice only. Total work per probe: nprobe/nlist of the
    corpus x M adds — the IVF-PQ cost model exactly.
    """
    # vec_id IS NOT NULL: id-less vectors are excluded from the whole
    # IVF-PQ index (centroids AND codes), matching the oracle's e CTE
    corpus = _corpus(spark, sf_dir).where(F.col("vec_id").isNotNull())
    cent = _label_centroids(corpus)
    routed = _route_probes(corpus, cent, nprobe=2).select("query_id", "label")
    ex = _pq_elements(spark, sf_dir)
    cb = _pq_train_cb(ex)
    final = _pq_assign(ex, cb)
    lut = _pq_query_lut(ex, cb)
    labels = corpus.select("vec_id", "label")
    candidates = (
        final.join(labels, "vec_id")
        .join(F.broadcast(routed), "label")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    adc = (
        candidates.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc6"))
    )
    return _top_k(adc, TOP_K, "adc6", "neighbor_id")


# ---------------------------------------------------------------------------
# k-NN classification (majority vote over exact neighbors) — the label-
# propagation / weak-annotation primitive of a curation pipeline
# ---------------------------------------------------------------------------

KNN_K = 5

_KNN_CLASSIFY = (
    _DUCK_VEC
    + f"""
, scored AS (
  SELECT q.vec_id AS query_id, c.label AS c_label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                          p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) DESC,
                    c.vec_id NULLS LAST
         ) AS rnk
  -- c.label IS NOT NULL: unlabeled vectors don't vote (r8 NULL-key pin)
  FROM n q JOIN n c ON q.vec_id < {N_PROBES} AND c.vec_id != q.vec_id
                    AND c.label IS NOT NULL
), votes AS (
  SELECT query_id, c_label, count(*) AS votes
  FROM scored WHERE rnk <= {KNN_K}
  GROUP BY query_id, c_label
), pred AS (
  SELECT query_id, c_label AS predicted_label, votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY votes DESC, c_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT p.query_id,
       CAST(q.label AS INTEGER) AS true_label,
       CAST(p.predicted_label AS INTEGER) AS predicted_label,
       CAST(p.votes AS BIGINT) AS votes,
       (q.label = p.predicted_label) AS correct
FROM pred p JOIN n q ON q.vec_id = p.query_id
"""
)


@register("s_knn_classify", oracle=_KNN_CLASSIFY)
def s_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: each probe takes the majority label of its
    {k} nearest neighbors (exact cosine, self excluded; vote ties to the
    lowest label) — the weak-annotation / label-propagation primitive a
    curation pipeline uses to extend a small labeled seed set, and the
    standard embedding-quality probe (k-NN accuracy).

    Scale shape: identical to s_cosine_topk (broadcast probe set, keyed
    top-k window over k-bounded groups) plus two tiny aggregates on
    (query, label) — at scale the scoring stage swaps for any of the ANN
    variants (LSH / IVF / PQ) with the voting unchanged.
    """
    corpus = _corpus(spark, sf_dir)
    probes = _probes(corpus, _PROBE_SET, F.col("label").alias("true_label"))
    # label IS NOT NULL (r8 NULL-key fuzz): a kNN classifier votes over
    # the LABELED seed set — an unlabeled vector can't vote, and its
    # NULL "vote group" broke ties opposite ways (Spark nulls-first vs
    # DuckDB nulls-last) and leaked NULL predictions. Probes keep their
    # (possibly NULL) true_label; only the voting corpus is filtered.
    voters = corpus.where(F.col("label").isNotNull())
    nbrs = _rerank(_pairs(voters, probes), KNN_K, "label", "true_label")
    votes = nbrs.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    pred = _top_k(votes, 1, F.desc("votes"), F.asc_nulls_last("label"), rank="rn")
    return pred.select(
        "query_id",
        F.col("true_label").cast("int").alias("true_label"),
        F.col("label").cast("int").alias("predicted_label"),
        "votes",
        (F.col("true_label") == F.col("label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding diagnostics (collapse detection, scale drift)
# ---------------------------------------------------------------------------

_EMBEDDING_STATS = """
WITH ex AS (
  SELECT unnest(range(len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
)
SELECT CAST(dim AS INTEGER) AS dim,
       count(*) AS n,
       floor(avg(v) * 10000 + 0.5) / 10000 AS mean_v,
       floor(stddev_samp(v) * 10000 + 0.5) / 10000 AS std_v,
       floor(min(v) * 10000 + 0.5) / 10000 AS min_v,
       floor(max(v) * 10000 + 0.5) / 10000 AS max_v
FROM ex
GROUP BY 1
"""


@register("s_embedding_stats", oracle=_EMBEDDING_STATS)
def s_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding corpus — the
    standard diagnostic for embedding-model collapse (a dimension whose
    std ~ 0 carries no signal) and for scale drift before quantization
    (s_scalar/pq codebooks assume the per-dim ranges seen at train
    time). Values are cast float->double BEFORE aggregation on both
    engines so the accumulators match.

    Scale: posexplode fans each vector into D rows map-side, then ONE
    partial-agg'd shuffle onto D groups (D = embedding width, tiny).
    Per-dim partial aggregates mean the shuffle moves D rows per input
    partition regardless of corpus size — the same all-reduce shape a
    distributed trainer uses for gradient norms. No driver collect, no
    skew (dims are uniform by construction)."""
    emb = load_table(spark, sf_dir, "embeddings").where(vector_hygiene())
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )

    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        half_up(F.avg("v")).alias("mean_v"),
        half_up(F.stddev_samp("v")).alias("std_v"),
        half_up(F.min("v")).alias("min_v"),
        half_up(F.max("v")).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Embedding drift: centroid shift between two corpus halves, per label
# ---------------------------------------------------------------------------

_CENTROID_SHIFT = """
WITH ex AS (
  SELECT vec_id, label, vec_id % 2 AS half,
         unnest(range(len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), cent AS (
  SELECT label, half, dim, avg(v) AS c FROM ex GROUP BY 1, 2, 3
), sizes AS (
  SELECT label,
         CAST(count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END)
              AS BIGINT) AS n_a,
         CAST(count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END)
              AS BIGINT) AS n_b
  FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
  GROUP BY label
), paired AS (
  SELECT a.label,
         sum(a.c * b.c) AS dot,
         sqrt(sum(a.c * a.c)) AS na,
         sqrt(sum(b.c * b.c)) AS nb
  FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 0 AND b.half = 1
  GROUP BY a.label
)
SELECT p.label, s.n_a, s.n_b,
       floor(p.dot / (p.na * p.nb) * 10000 + 0.5) / 10000 AS centroid_cos
FROM paired p JOIN sizes s USING (label)
"""


@register("s_centroid_shift", oracle=_CENTROID_SHIFT)
def s_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two deterministic
    halves (vec_id parity — the stand-in for before/after an embedding
    model or crawl change), compute each label's centroid per half, and
    report the cosine between the two centroids. centroid_cos ~ 1 means
    the label's region is stable; a drop flags drift that would
    invalidate IVF/PQ codebooks trained on the old half (the retrain
    trigger for s_centroid_search / s_pq_search).

    Scale: posexplode to (label, half, dim) then ONE partial-agg'd
    shuffle onto |labels| x 2 x D cells — the all-reduce shape of
    s_embedding_stats with two more grouping keys; everything after
    (pairing halves, norms, sizes) runs on the label-sized frame.
    No vector ever moves whole; no driver collect."""
    emb = load_table(spark, sf_dir, "embeddings").where(vector_hygiene())
    ex = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    cent = ex.groupBy("label", "half", "dim").agg(F.avg("v").alias("c"))
    sizes = emb.groupBy("label").agg(
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        ).alias("n_b"),
    )
    a = cent.where(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cent.where(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb")
    )
    paired = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
            F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
        )
    )
    return paired.join(F.broadcast(sizes), "label").select(
        "label",
        "n_a",
        "n_b",
        (
            F.floor(
                F.col("dot") / (F.col("na") * F.col("nb")) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("centroid_cos"),
    )


# ---------------------------------------------------------------------------
# Corpus diversity: mean pairwise cosine via the Gram identity (O(n), exact)
# ---------------------------------------------------------------------------

_DIVERSITY = """
WITH ex AS (
  -- vec_id/label IS NOT NULL (r8 NULL-key fuzz): an id-less vector is
  -- outside every pair (NULL never satisfies a.vec_id < b.vec_id) yet
  -- a bare groupBy would still count it; an unlabeled vector belongs
  -- to no label's diversity. Both are excluded up front on BOTH sides.
  SELECT vec_id, label,
         unnest(range(len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
  WHERE vec_id IS NOT NULL AND label IS NOT NULL
    AND (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), nrm AS (
  SELECT vec_id, sqrt(sum(v * v)) AS n FROM ex GROUP BY vec_id
), u AS (
  SELECT ex.vec_id, ex.label, ex.dim, ex.v / nrm.n AS uv
  FROM ex JOIN nrm USING (vec_id) WHERE nrm.n > 0
), pairs AS (
  SELECT a.label, a.vec_id AS va, b.vec_id AS vb, sum(a.uv * b.uv) AS cos
  FROM u a JOIN u b
    ON a.label = b.label AND a.dim = b.dim AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
)
SELECT label, CAST(count(DISTINCT va) + 1 AS BIGINT) AS n_vectors,
       floor(avg(cos) * 10000 + 0.5) / 10000 AS mean_pairwise_cos
FROM pairs
GROUP BY label
"""


@register("s_diversity", oracle=_DIVERSITY)
def s_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus diversity: the MEAN PAIRWISE COSINE across all
    vectors of a label, without ever forming a pair. The Gram identity
    sum_{i<j} <u_i,u_j> = (||sum_i u_i||^2 - n) / 2 (unit vectors)
    turns the O(n^2) definition the oracle states into one per-dim sum
    — the data-diversity gauge curation pipelines watch (mean cos -> 1
    means the corpus is collapsing toward one direction; SemDeDup's
    thesis is pruning raises it deliberately).

    Scale: posexplode, per-vector norms (one vec_id-keyed partial-agg'd
    shuffle), then per-(label, dim) sums — |labels| x D cells — and the
    closed form on the label-sized frame. EXACT, not sampled: the n^2
    pair space never materializes, the same trick as variance via
    sum-of-squares. n_vectors counts distinct-va+1 in the oracle purely
    to stay single-pass there; labels with one vector have no pairs and
    drop out on both engines. Zero-norm vectors (an empty document
    embeds to all-zeros) have NO cosine with anything, so both engines
    exclude them BEFORE the identity: keeping them would both divide by
    zero and break the unit-vector assumption the closed form rests on
    (seeded-fuzz zero-norm class)."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
        & F.col("label").isNotNull()
        & vector_hygiene()
    )
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    nrm = ex.groupBy("vec_id", "label").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("n")
    )
    valid = nrm.where(F.col("n") > 0)
    u = ex.join(valid.select("vec_id", "n"), "vec_id").select(
        "vec_id", "label", "dim", (F.col("v") / F.col("n")).alias("uv")
    )
    sums = u.groupBy("label", "dim").agg(F.sum("uv").alias("s"))
    gram = sums.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss")
    )
    counts = valid.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    j = gram.join(F.broadcast(counts), "label").where(F.col("n_vectors") > 1)
    mean_cos = (F.col("ss") - F.col("n_vectors")) / (
        F.col("n_vectors") * (F.col("n_vectors") - 1)
    )
    return j.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        (F.floor(mean_cos * 10000 + F.lit(0.5)) / 10000).alias(
            "mean_pairwise_cos"
        ),
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding search: Hamming shortlist + exact rerank
# ---------------------------------------------------------------------------

BINARY_SHORTLIST = 32  # Hamming candidates per query before exact rerank

_BINARY_SEARCH = (
    _DUCK_VEC
    + f"""
, sig AS (
  SELECT vec_id, v,
         list_sum(list_transform(range(32),
             i -> CASE WHEN v[i + 1] > 0
                       THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS lo,
         list_sum(list_transform(range(32),
             i -> CASE WHEN v[i + 33] > 0
                       THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS hi
  FROM n
), short AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
           AS hamming,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)),
                    c.vec_id NULLS LAST
         ) AS srnk
  FROM sig q JOIN sig c
    ON q.vec_id < {N_PROBES} AND c.vec_id != q.vec_id
)
SELECT query_id, cand_id AS neighbor_id,
       CAST(hamming AS INTEGER) AS hamming,
       round(list_sum(list_transform(list_zip(q.v, c.v),
                      p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim,
       CAST(row_number() OVER (
         PARTITION BY query_id
         ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                        p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) DESC,
                  cand_id
       ) AS INTEGER) AS rnk
FROM short
JOIN n q ON q.vec_id = short.query_id
JOIN n c ON c.vec_id = short.cand_id
WHERE srnk <= {BINARY_SHORTLIST}
QUALIFY rnk <= {TOP_K}
"""
)


@register("s_binary_search", oracle=_BINARY_SEARCH)
def s_binary_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval: sign-quantize each vector to 64 bits
    (two packed longs), shortlist BINARY_SHORTLIST candidates per query
    by Hamming distance (codegen'd xor + bit_count — the SimHash
    machinery pointed at dense embeddings), then exact-cosine rerank
    the shortlist to TOP_K. The modern 32x-compression retrieval trick
    (binary quantization à la recent vector-DB deployments), fully
    deterministic — so unlike LSH it carries a complete value-level
    oracle.

    Scale: signatures are 16 bytes/vector — the Hamming scan streams
    the packed-long table with a broadcast probe set, never touching
    float vectors; only shortlist x queries rows rejoin the full
    vectors for the rerank. Same broadcast-probe discipline as
    s_cosine_topk with 32x less scan traffic in the shortlist stage."""

    def pack(offset: int):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            # shiftleft() needs a literal bit count; 2^i via pow is
            # exact in double up to 2^31, and i <= 31 here
            lambda acc, i: acc
            + F.when(
                F.element_at(as_double_array("embedding"), i + offset + 1) > 0,
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    sig = (
        _corpus(spark, sf_dir, pack(0).alias("lo"), pack(32).alias("hi"))
        .drop("label")
        .cache()
    )
    probes = _probes(
        sig, _PROBE_SET, F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    hamming = F.bit_count(
        F.col("qlo").bitwiseXOR(F.col("lo"))
    ) + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
    short = _top_k(
        _pairs(sig, probes).withColumn("hamming", hamming),
        BINARY_SHORTLIST,
        "hamming",
        F.asc_nulls_last("vec_id"),
        rank="srnk",
    )
    return _rerank(short, TOP_K, "hamming")


# ---------------------------------------------------------------------------
# Matryoshka (prefix-dimension) search: truncated shortlist + exact rerank
# ---------------------------------------------------------------------------

MRL_DIMS = 16  # leading dims used for the cheap shortlist

_MRL_SEARCH = (
    _DUCK_VEC
    + f"""
, trunc AS (
  SELECT vec_id, v, nrm, v[1:{MRL_DIMS}] AS tv,
         sqrt(list_sum(list_transform(v[1:{MRL_DIMS}], x -> x * x))) AS tnrm
  FROM n
), short AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.tv, c.tv),
                    p -> p[1] * p[2])) / (q.tnrm * c.tnrm) DESC,
                    c.vec_id NULLS LAST
         ) AS srnk
  FROM trunc q JOIN trunc c
    ON q.vec_id < {N_PROBES} AND c.vec_id != q.vec_id
)
SELECT query_id, cand_id AS neighbor_id,
       round(list_sum(list_transform(list_zip(q.v, c.v),
                      p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim,
       CAST(row_number() OVER (
         PARTITION BY query_id
         ORDER BY round(list_sum(list_transform(list_zip(q.v, c.v),
                        p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) DESC,
                  cand_id
       ) AS INTEGER) AS rnk
FROM short
JOIN n q ON q.vec_id = short.query_id
JOIN n c ON c.vec_id = short.cand_id
WHERE srnk <= {BINARY_SHORTLIST}
QUALIFY rnk <= {TOP_K}
"""
)


@register("s_mrl_search", oracle=_MRL_SEARCH)
def s_mrl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style retrieval: shortlist on the LEADING MRL_DIMS
    dimensions only (MRL-trained embeddings concentrate signal in the
    prefix; slicing is free column math), then exact-cosine rerank the
    shortlist on full vectors — the third cheap-shortlist geometry next
    to bit-signatures (s_binary_search) and coarse centroids
    (s_centroid_search), and like them fully deterministic, so the
    oracle checks values, not just recall.

    Scale: the shortlist scan moves {MRL_DIMS}/64ths of the vector
    bytes (column-pruned at the scan when the truncated view is
    materialized alongside); only shortlist x queries rows rejoin full
    vectors. Broadcast-probe discipline as the siblings."""
    tv = F.slice(as_double_array("embedding"), 1, MRL_DIMS)
    base = (
        _corpus(spark, sf_dir, tv.alias("tv"), norm(tv).alias("tnrm"))
        .drop("label")
        .cache()
    )
    probes = _probes(
        base, _PROBE_SET, F.col("tv").alias("qtv"), F.col("tnrm").alias("qtnrm")
    )
    tcos = _cos("qtv", "tv", "qtnrm", "tnrm", dp=None)
    short = _top_k(
        _pairs(base, probes).withColumn("tcos", tcos),
        BINARY_SHORTLIST,
        F.desc("tcos"),
        F.asc_nulls_last("vec_id"),
        rank="srnk",
    )
    return _rerank(short, TOP_K)


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + vector cosine fused with reciprocal-rank fusion
# ---------------------------------------------------------------------------

HYBRID_L = 50  # per-retriever candidate depth
HYBRID_RRF_K = 60  # Cormack/Clarke/Buettcher RRF damping constant
HYBRID_TOPK = 15

_HYBRID = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE (embedding IS NULL OR len(list_filter(
          CAST(embedding AS DOUBLE[]),
          x -> x IS NULL OR NOT isfinite(x))) = 0)
), n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM e
), q AS (
  SELECT v, nrm FROM n WHERE vec_id = 0
), vec AS (
  SELECT c.vec_id AS doc_id,
         round(list_sum(list_transform(list_zip(q.v, c.v),
                        p -> p[1] * p[2])) / (q.nrm * c.nrm), 6) AS cos_sim
  FROM n c CROSS JOIN q WHERE c.vec_id <> 0
), vrank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_sim DESC, doc_id NULLS LAST) AS vec_rank
  FROM vec
), vtop AS (
  SELECT doc_id, vec_rank FROM vrank WHERE vec_rank <= {HYBRID_L}
), d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), dl AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM d
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(w) AS tok FROM d)
  WHERE tok IN ('join', 'scan', 'vector') AND doc_id <> 0
  GROUP BY doc_id, tok
), dft AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf
  GROUP BY term
), scored AS (
  SELECT t.doc_id,
         floor(sum(ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * t.tf * (1.2 + 1)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)))
               * 10000 + 0.5) / 10000 AS bm25
  FROM tf t
  JOIN dl l USING (doc_id)
  JOIN dft f USING (term)
  CROSS JOIN stats s
  GROUP BY t.doc_id
), lrank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id NULLS LAST) AS lex_rank
  FROM scored
), ltop AS (
  SELECT doc_id, lex_rank FROM lrank WHERE lex_rank <= {HYBRID_L}
), fused AS (
  SELECT coalesce(v.doc_id, l.doc_id) AS doc_id,
         CAST(coalesce(l.lex_rank, -1) AS INTEGER) AS lex_rank,
         CAST(coalesce(v.vec_rank, -1) AS INTEGER) AS vec_rank,
         floor((coalesce(1.0 / ({HYBRID_RRF_K} + l.lex_rank), 0)
                + coalesce(1.0 / ({HYBRID_RRF_K} + v.vec_rank), 0))
               * 1000000 + 0.5) / 1000000 AS rrf_score
  FROM vtop v FULL OUTER JOIN ltop l ON l.doc_id = v.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id NULLS LAST LIMIT {HYBRID_TOPK}
"""


@register("s_hybrid_search", oracle=_HYBRID)
def s_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval for item 0 (documents and embeddings align
    1:1 on id): the BM25 lexical ranking (t_bm25's exact formula and
    rounding) and the brute-force cosine ranking (s_cosine_topk's
    discipline) are each cut to their top-{HYBRID_L}, then fused with
    reciprocal-rank fusion — score = Σ 1/({HYBRID_RRF_K} + rank) over
    the lists an item appears in (Cormack, Clarke & Buettcher, SIGIR'09)
    — the standard RAG retrieval stack (lexical ∪ vector → RRF →
    re-rank). Ranks are integers, so the fused score is exact IEEE
    arithmetic on both engines; items missing from a list carry rank -1
    (never null, keeping the comparison engine-neutral).

    Scale: each retriever keeps its own scale shape (posting-filtered
    shuffle; broadcast-probe map scan) and only the two k-bounded rank
    lists meet — the fusion join is {HYBRID_L}x{HYBRID_L} at most, the
    definition of cheap. Swap the brute-force side for any ANN variant
    (s_ann_lsh_topk, s_ivf_pq_search) without touching the fusion."""
    from streams_spark.operators.text import bm25_top, ranked_head

    # vector list: cosine vs probe vec 0
    corpus = _corpus(spark, sf_dir)
    vec = (
        corpus.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(_probes(corpus, F.col("vec_id") == 0)))
        .select(F.col("vec_id").alias("doc_id"), _cos().alias("cos_sim"))
    )
    vtop = ranked_head(
        vec, HYBRID_L, "vec_rank", F.desc("cos_sim"), F.asc_nulls_last("doc_id")
    ).select("doc_id", "vec_rank")
    # lexical list: t_bm25's scorer over the postings of every doc but 0
    ltop = bm25_top(
        spark, sf_dir, HYBRID_L, "lex_rank", F.col("doc_id") != 0
    ).select("doc_id", "lex_rank")

    # --- RRF fusion over the two k-bounded lists ---
    fused = vtop.join(ltop, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(-1)).cast("int").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(-1)).cast("int").alias("vec_rank"),
        (
            F.floor(
                (
                    F.coalesce(
                        1.0 / (HYBRID_RRF_K + F.col("lex_rank")), F.lit(0.0)
                    )
                    + F.coalesce(
                        1.0 / (HYBRID_RRF_K + F.col("vec_rank")), F.lit(0.0)
                    )
                )
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc_nulls_last("doc_id")).limit(HYBRID_TOPK)
