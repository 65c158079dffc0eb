"""Measure the co-occurrence-vs-PPJoin-prefix crossover (VERDICT r7 #5).

d_ngram_jaccard aggregates candidate pairs from EVERY co-occurring
shingle (cost ~ sum_h df(h)^2), while d_ngram_jaccard_prefix joins only
df-ordered prefixes, so hot boilerplate shingles fall out of the join.
At harness scale the aggregate wins (fewer stages); the prefix variant
is the documented 100 TB path. This script DEMONSTRATES the regime rule
instead of arguing it: it dials hot-shingle density by appending a
shared boilerplate paragraph to a growing fraction of documents
(x1 / x4 / x16 / x64 of the fuzz length-skew base rate 0.2%), then
records candidate-pair counts and wall time for both variants.

Usage: python tools/ppjoin_crossover.py [--sf /root/testdata/sf0.01]
Prints a markdown table for SCALING.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIXTURES = os.path.join(ROOT, ".ppjoin_fixtures")

# ~40 tokens of shared boilerplate -> ~38 hot 3-gram shingles per
# injected doc, each with df ~= rate * n_docs
BOILERPLATE = (
    "this document is provided as is without warranty of any kind either "
    "express or implied including but not limited to the implied "
    "warranties of merchantability fitness for a particular purpose and "
    "noninfringement all rights reserved by the publisher"
)


def build_fixture(sf: str, rate: float, seed: int = 42) -> str:
    dest = os.path.join(FIXTURES, f"rate{rate:g}")
    os.makedirs(dest, exist_ok=True)
    table = pq.read_table(os.path.join(sf, "documents.parquet"))
    df = table.to_pandas()
    rng = np.random.default_rng(seed)
    sel = rng.random(len(df)) < rate
    df.loc[sel, "text"] = df.loc[sel, "text"].map(
        lambda t: (t or "") + " " + BOILERPLATE
    )
    df["n_chars"] = df["text"].map(lambda t: len(t) if t is not None else None)
    out = pa.Table.from_pandas(df, schema=table.schema, preserve_index=False)
    pq.write_table(out, os.path.join(dest, "documents.parquet"))
    return dest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--rates", default="0.002,0.008,0.032,0.128")
    args = ap.parse_args()

    from streams_spark import cache
    from streams_spark.operators import dedup
    from streams_spark.session import get_spark

    spark = get_spark("ppjoin-crossover")
    spark.range(1000).count()

    def clear() -> None:
        spark.catalog.clearCache()
        cache.clear()

    def run(fn, d: str) -> float:
        t0 = time.time()
        fn(spark, d).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def candidates(ex) -> int:
        """Distinct pairs the size-pruned shingle join of postings `ex`
        emits: the co-occurrence aggregate's input on all postings, the
        verify input on the df-ordered prefixes."""
        return (
            dedup._shingle_pairs(ex, 1.0 / dedup.JACCARD_T)
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )

    print(
        "| boilerplate rate | cand pairs (co-occ) | cand pairs (prefix) "
        "| co-occ best-of-2 s | prefix best-of-2 s | winner |"
    )
    print("|---|---|---|---|---|---|")
    for rate in [float(r) for r in args.rates.split(",")]:
        d = build_fixture(args.sf, rate)
        clear()
        ex = dedup._postings(spark, d)
        c_co = candidates(ex)
        c_pf = candidates(dedup._df_prefix(ex))
        t_co = []
        t_pf = []
        for _ in range(2):
            clear()
            t_co.append(run(dedup.d_ngram_jaccard, d))
            clear()
            t_pf.append(run(dedup.d_ngram_jaccard_prefix, d))
        # same result set?
        clear()
        n_co = dedup.d_ngram_jaccard(spark, d).count()
        n_pf = dedup.d_ngram_jaccard_prefix(spark, d).count()
        assert n_co == n_pf, f"result mismatch at rate {rate}: {n_co} vs {n_pf}"
        win = "prefix" if min(t_pf) < min(t_co) else "co-occ"
        print(
            f"| {rate:g} | {c_co} | {c_pf} | {min(t_co):.2f} "
            f"| {min(t_pf):.2f} | {win} ({n_co} true pairs) |"
        )
    shutil.rmtree(FIXTURES, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
