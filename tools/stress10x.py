"""10x per-operator stress for the LLM-pipeline families (d_*/s_*/t_*/p_*).

The sf-curve in SCALING.md shows the suite fixed-cost-bound at harness
scale; this tool probes where data finally dominates by running the
family headliners on a 10x-expanded documents/embeddings corpus and
reporting per-query scaling exponents (alpha in t ~ n^alpha, measured
between 1x and 10x).

Corpus construction (NOT naive duplication — that would measure an
artifact): 10 copies of each doc with
- text: every word suffixed with `~<copy>` — gram sets transform
  identically for every doc of a copy, so WITHIN-copy Jaccard/containment
  structure is exactly preserved, while CROSS-copy gram overlap is zero.
  Naive duplication would instead make every doc a 10-way exact dup and
  pair-ops would measure a quadratic explosion that says nothing about
  real 10x growth.
- embedding: dimensions rotated by `copy` positions — cosine-invariant
  within a copy (same permutation both sides), near-orthogonal across
  copies; labels remapped per copy so cluster count scales with the
  corpus and per-cluster density is constant (as it would be after
  re-clustering a 10x corpus).

Usage:
    python tools/stress10x.py            # build (if absent) + run
    STRESS_QUERIES=d_minhash_lsh python tools/stress10x.py
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STRESS_DIR = os.environ.get(
    "STRESS_DIR", os.path.join(ROOT, ".stress10x")
)  # gitignored scratch
# STRESS_COPIES=100 gives a second decade (x100) for the linear ops
N_COPIES = int(os.environ.get("STRESS_COPIES", "10"))

STRESS_QUERIES = [
    # dedup family
    "d_exact_stats",
    "d_ngram_jaccard",
    "d_minhash_lsh",
    "d_simhash",
    "d_dup_clusters",
    "d_prefix_dedup",
    "d_semdedup",
    "d_containment",
    # similarity / vector family
    "s_cosine_topk",
    "s_ann_lsh_topk",
    "s_centroid_search",
    "s_kmeans_train",
    "s_pq_search",
    "s_maxsim",
    # text family
    "t_text_stats",
    "t_token_count",
    "t_fingerprint",
    "t_tfidf_keywords",
    "t_ccnet_buckets",
    # pipeline family
    "p_pack_sequences",
    "p_corpus_shuffle",
    # round-4 additions
    "t_bm25",
    "t_zipf_fit",
    "p_temperature_mix",
    "s_multiprobe_lsh",
    "d_cluster_survivors",
    "s_ivf_pq_search",
    "s_knn_classify",
    # round-5 additions
    "d_transitive_containment",
    "m_frames_real",
    "q_grid_percentile",
    "m_motion_real",
    "q_kmv_setops",
]


def build_stress_corpus(spark) -> str:
    """Materialize the 10x dir: perturbed documents + embeddings, the
    other tables symlinked from the base sf dir (the stress targets only
    read documents/embeddings, but symlinks keep the dir a complete,
    loadable sf layout)."""
    from pyspark.sql import functions as F

    out = os.path.join(STRESS_DIR, f"sf0.1x{N_COPIES}")
    # the marker carries a builder version: a dir built by an OLDER
    # builder (e.g. before events/orders/lineitem expanded) must be
    # rebuilt, not silently reused — a stale reuse once timed "100x"
    # fact queries against symlinked 1x tables
    BUILD_VERSION = "v2-facts-events"
    done_marker = os.path.join(out, "_BUILT")
    if os.path.exists(done_marker):
        with open(done_marker) as f:
            if f.read().strip() == BUILD_VERSION:
                return out
        import shutil

        shutil.rmtree(out)
        os.makedirs(out, exist_ok=True)
    os.makedirs(out, exist_ok=True)

    copies = F.explode(F.sequence(F.lit(0), F.lit(N_COPIES - 1))).alias("copy")

    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    stressed_text = F.concat_ws(
        " ",
        F.transform(
            F.split("text", " "),
            lambda w: F.concat(w, F.lit("~"), F.col("copy").cast("string")),
        ),
    )
    (
        docs.select("*", copies)
        .select(
            (F.col("doc_id") * N_COPIES + F.col("copy")).alias("doc_id"),
            stressed_text.alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text"))
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    dim = len(emb.select("embedding").first().embedding)
    # rotate by copy mod dim: a plain `copy` offset breaks once
    # N_COPIES exceeds the dimensionality (slice beyond the array)
    rot = F.col("copy") % dim
    rotated = F.concat(
        F.slice(F.col("embedding"), rot + 1, dim),
        F.slice(F.col("embedding"), 1, rot),
    )
    (
        emb.select("*", copies)
        .select(
            (F.col("vec_id") * N_COPIES + F.col("copy")).alias("vec_id"),
            rotated.alias("embedding"),
            (F.col("label") * N_COPIES + F.col("copy"))
            .cast("int")
            .alias("label"),
        )
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )

    # events expand too (user-population growth: each copy is a disjoint
    # user cohort emitting the same event pattern over the SAME time
    # range — window/session/verb state grows with users while the time
    # spine stays fixed, which is how event volume actually scales).
    # ts must be read under the vintage-adaptive normalizer and written
    # back as plain micros so the stressed file is one uniform vintage.
    from streams_spark.sources.tables import load_table

    # events.parquet must be a single FILE named exactly like the
    # testdata layout: _events_stream selects it with
    # pathGlobFilter='events.parquet', which does NOT match the part
    # files inside a directory write — a directory here makes every
    # streaming query read zero rows and silently "pass" fast.
    ev = load_table(spark, os.path.abspath(BASE_SF), "events")
    ev_dir = os.path.join(out, "_events_build")
    (
        ev.select("*", copies)
        .select(
            (F.col("event_id") * N_COPIES + F.col("copy")).alias("event_id"),
            "ts",
            (F.col("user_id") * N_COPIES + F.col("copy")).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(ev_dir)
    )
    part = next(
        f for f in os.listdir(ev_dir) if f.endswith(".parquet")
    )
    os.replace(
        os.path.join(ev_dir, part), os.path.join(out, "events.parquet")
    )
    import shutil

    shutil.rmtree(ev_dir)

    # orders/lineitem expand with renumbered order keys (each customer
    # places 10x orders over the same date range; part/supplier/customer
    # dims stay fixed — the TPC-H fact-growth model). The FK holds:
    # l_orderkey renumbers exactly like o_orderkey.
    orders = spark.read.parquet(os.path.join(BASE_SF, "orders.parquet"))
    (
        orders.select("*", copies)
        .withColumn(
            "o_orderkey", F.col("o_orderkey") * N_COPIES + F.col("copy")
        )
        .drop("copy")
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "orders.parquet"))
    )
    lineitem = spark.read.parquet(os.path.join(BASE_SF, "lineitem.parquet"))
    (
        lineitem.select("*", copies)
        .withColumn(
            "l_orderkey", F.col("l_orderkey") * N_COPIES + F.col("copy")
        )
        .drop("copy")
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "lineitem.parquet"))
    )

    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
    ):
        src = os.path.join(BASE_SF, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)

    with open(done_marker, "w") as f:
        f.write(BUILD_VERSION + "\n")
    return out


def time_query(registry, spark, name: str, sf_dir: str, n: int = 2) -> float:
    best = None
    for _ in range(n):
        t0 = time.time()
        df = registry[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    return best


def main() -> None:
    import math

    from streams_spark import cache
    from streams_spark.registry import load_all
    from streams_spark.session import get_spark

    registry = load_all()
    spark = get_spark("pystreams-stress10x")
    spark.range(1000).count()  # warm codegen path

    stress_dir = build_stress_corpus(spark)

    names = STRESS_QUERIES
    env = os.environ.get("STRESS_QUERIES")
    if env:
        names = [n for n in env.split(",")]
    names = [n for n in names if n in registry]

    rows = []
    for name in names:
        # clear the session cache between scales so the 10x run doesn't
        # reuse 1x frames (keyed by sf_dir anyway, but cached frames
        # hold executor memory)
        cache.clear()
        t1 = time_query(registry, spark, name, BASE_SF)
        cache.clear()
        t10 = time_query(registry, spark, name, stress_dir)
        alpha = math.log(t10 / t1) / math.log(N_COPIES)
        rows.append((name, round(t1, 2), round(t10, 2), round(alpha, 2)))
        print(
            f"{name:28s} 1x={t1:6.2f}s 10x={t10:6.2f}s alpha={alpha:5.2f}",
            flush=True,
        )

    print(
        json.dumps(
            {
                "metric": "stress10x",
                "n_copies": N_COPIES,
                "queries": {
                    n: {"t1": a, "t10": b, "alpha": c} for n, a, b, c in rows
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
