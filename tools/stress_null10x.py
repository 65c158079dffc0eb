"""10x-corpus stress of the round-8 NULL-key contracts (VERDICT r8 #7).

The r8/r9 fuzz probes proved the NULL-key contract pins (sketch
membership = non-NULL keys, id-less vectors don't train/index, NULL
labels don't vote, snapshot/window NULL tie-breaks) at the 1x harness
scales (sf0.001 / sf0.01, 3% NULL rate). This tool confirms the same
pins at 10x the grading corpus AND measures how the pinned plans scale
with 3% NULL keys present:

1. CORRECTNESS: build the stress10x 10x expansion of sf0.01, inject the
   r8 all-key NULL class at 10x rate (3%) via the SAME `_null_keys`
   machinery the fuzz harness uses (pyarrow round-trip, schema
   preserved), then run tools/check_oracle.py over the contract queries
   — Spark and DuckDB read the same perturbed 10x files, so a
   disagreement is a contract pin that broke under scale, not noise.
2. EXPONENTS: repeat the build at sf0.1 (1x-null and 10x-null), time
   each query best-of-2 on both, report alpha in t ~ n^alpha.

The 10x expansion is the stress10x semantic-preserving one (word-suffix
grams, rotated embeddings, cohort-copied events, renumbered orders) —
NOT naive duplication — so pair-forming operators see realistic growth.
NULL injection happens AFTER expansion: 3% of each key column per the
r8 class table, independent draws, seeded.

Usage:
    python tools/stress_null10x.py                 # both phases
    python tools/stress_null10x.py --perf-only
    python tools/stress_null10x.py --correct-only
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The queries that gained NULL-key contract pins in round 8
# (VERDICT r8 "Stress the r8 NULL contracts at 10x" list, expanded to
# the concrete registry names).
TARGETS = [
    "q_kmv_distinct",
    "q_kmv_setops",
    "s_kmeans_train",
    "s_pq_train",
    "s_pq_search",
    "s_knn_classify",
    "q_snapshot_diff",
    "w_rolling_median",
]

# r8 all-key NULL class (tools/fuzz_oracle.py perturb_table), restated
# as a table->columns map. region/part carry no fuzzed keys.
NULL_KEY_COLS = {
    "documents": ["doc_id", "lang", "source"],
    "embeddings": ["vec_id", "label"],
    "events": ["event_id", "event_type", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_custkey"],
    "customer": ["c_nationkey"],
    "supplier": ["s_nationkey"],
    "nation": ["n_regionkey"],
}

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

STRESS_DIR = os.environ.get("STRESS_DIR", os.path.join(ROOT, ".stress10x"))
NULL_FRAC = 0.03  # the 10x-rate probe (0.3% r8 class x 10)
SEED = 19  # continues the fuzz seed ledger (18 was the 1x 3% probe)


def _canonical_vintage(table: pa.Table) -> pa.Table:
    """Normalize a Spark-written stress table to the testdata vintage.

    The stress10x builder writes timestamps through Spark, whose default
    parquet output is INT96 — pyarrow reads that as timestamp[ns], and a
    naive round-trip would WRITE it back as TIMESTAMP(NANOS) while
    preserving Spark's embedded `row.metadata` (which still says
    TimestampType). Spark then trusts the embedded metadata, meets
    nanos-as-INT64 in the column chunks, and fails with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH — but only in queries that
    actually materialize `ts` (column pruning hid it from 7 of the 8
    targets on first run). Coerce ns -> us and drop the stale Spark
    metadata so the fixture is bit-compatible with the testdata layout
    both engines already handle."""
    schema = table.schema
    for i, f in enumerate(schema):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            us = pa.timestamp("us", tz=f.type.tz)
            table = table.set_column(
                i, pa.field(f.name, us), table.column(i).cast(us)
            )
    md = {
        k: v
        for k, v in (table.schema.metadata or {}).items()
        if not k.startswith(b"org.apache.spark")
    }
    return table.replace_schema_metadata(md or None)


def inject_nulls(src_dir: str, dest_dir: str, seed: int = SEED) -> str:
    """Copy `src_dir` into `dest_dir` with 3% NULLs injected into every
    r8-class key column. Reads via pyarrow (handles both single-file
    and directory parquet), writes SINGLE-FILE parquet per table so the
    DuckDB oracle's `FROM '<dir>/<t>.parquet'` view works unchanged.
    Schema is preserved from the source (nullable int64 keys stay
    int64; the events ts vintage rides through untouched)."""
    from tools.fuzz_oracle import _null_keys

    os.makedirs(dest_dir, exist_ok=True)
    marker = os.path.join(dest_dir, "_NULLED")
    stamp = f"seed{seed}-frac{NULL_FRAC}-v2"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return dest_dir
    rng = np.random.default_rng(seed)
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        table = pq.read_table(src)
        table = _canonical_vintage(table)
        cols = NULL_KEY_COLS.get(t)
        if cols:
            df = table.to_pandas()
            df = _null_keys(df, rng, cols, frac=NULL_FRAC)
            table = pa.Table.from_pandas(
                df, schema=table.schema, preserve_index=False
            )
        pq.write_table(table, os.path.join(dest_dir, f"{t}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp + "\n")
    return dest_dir


def build_10x(spark, base_sf: str) -> str:
    """Run the stress10x corpus builder against `base_sf` (it is
    parameterized by module global, set before the call)."""
    from tools import stress10x

    stress10x.BASE_SF = base_sf
    sf_tag = base_sf.rstrip("/").rsplit("/", 1)[-1]
    out_holder = os.path.join(STRESS_DIR, f"base-{sf_tag}")
    os.environ["STRESS_DIR"] = out_holder  # not read post-import; for logs
    stress10x.STRESS_DIR = out_holder
    return stress10x.build_stress_corpus(spark)


def run_oracle(fixture_dir: str, names: list[str]) -> dict:
    from tools.fuzz_oracle import run_seed

    return run_seed(fixture_dir, names)


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
    ap = argparse.ArgumentParser()
    ap.add_argument("--perf-only", action="store_true")
    ap.add_argument("--correct-only", action="store_true")
    ap.add_argument("--out", default="STRESS_NULL10X.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or TARGETS

    from streams_spark.registry import load_all
    from streams_spark.session import get_spark

    registry = load_all()
    names = [n for n in names if n in registry]
    spark = get_spark("pystreams-stress-null10x")
    spark.range(1000).count()

    payload: dict = {
        "metric": "stress_null10x",
        "null_frac": NULL_FRAC,
        "seed": SEED,
        "targets": names,
    }

    if not args.perf_only:
        # Phase 1: contract pins at 10x the grading corpus.
        x10 = build_10x(spark, "/root/testdata/sf0.01")
        x10n = inject_nulls(x10, os.path.join(STRESS_DIR, "null3-sf0.01x10"))
        print(f"correctness fixture: {x10n}; running oracle sweep...")
        res = run_oracle(x10n, names)
        payload["correctness_sf0.01x10"] = res
        print(
            f"sf0.01 x10 + 3% NULL keys: {res['pass']} pass, "
            f"{len(res['fail'])} fail, {len(res['skip'])} no-oracle"
        )
        for d in res.get("detail", []):
            print(f"  {d}")

    if not args.correct_only:
        # Phase 2: scaling exponents with the NULL class present.
        x1n = inject_nulls(
            "/root/testdata/sf0.1", os.path.join(STRESS_DIR, "null3-sf0.1x1")
        )
        x10 = build_10x(spark, "/root/testdata/sf0.1")
        x10n = inject_nulls(x10, os.path.join(STRESS_DIR, "null3-sf0.1x10"))
        from streams_spark import cache

        rows = {}
        for name in names:
            cache.clear()
            t1 = time_query(registry, spark, name, x1n)
            cache.clear()
            t10 = time_query(registry, spark, name, x10n)
            alpha = math.log(t10 / t1) / math.log(10)
            rows[name] = {
                "t1": round(t1, 2),
                "t10": round(t10, 2),
                "alpha": round(alpha, 2),
            }
            print(
                f"{name:20s} 1x={t1:6.2f}s 10x={t10:6.2f}s "
                f"alpha={alpha:5.2f}",
                flush=True,
            )
        payload["perf_sf0.1"] = rows

    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({k: v for k, v in payload.items() if k != "targets"}))
    spark.stop()
    failed = payload.get("correctness_sf0.01x10", {}).get("fail", [])
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
