"""Local stand-in for the driver's correctness gate.

Runs every registered query at sf0.01 via Spark AND its DuckDB oracle,
compares row count, column names, and order-insensitive values (exact for
ints/strings, tiny-tolerance report for floats so near-misses are visible).

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            # NULL markers diverge by conversion path, not by engine:
            # Spark's toPandas yields None where DuckDB's df() yields
            # float NaN (e.g. a BOOLEAN column with NULLs) — canonicalize
            # both to 'None' before string comparison
            df[c] = df[c].map(
                lambda v: "None"
                if v is None
                or (isinstance(v, float) and math.isnan(v))
                or v is pd.NaT
                else str(v)
            )
    sort_cols = list(df.columns)
    try:
        df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    except Exception:
        df = df.reset_index(drop=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    # dtype parity (the driver records schema, not just names): flag
    # int-width / float-vs-int drift that string comparison would hide
    for c in sorted(sdf.columns):
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        if sk != ok and {sk, ok} != {"O"}:
            problems.append(f"col {c}: dtype kind differs spark={sdf[c].dtype} oracle={odf[c].dtype}")
    if problems:
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount differs: spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            bad = 0
            for a, b in zip(sv, ov):
                if (pd.isna(a)) != (pd.isna(b)):
                    bad += 1
                elif not pd.isna(a) and not math.isclose(a, b, rel_tol=0, abs_tol=0):
                    bad += 1
            if bad:
                close = sum(
                    1
                    for a, b in zip(sv, ov)
                    if not pd.isna(a) and not pd.isna(b) and a != b and math.isclose(a, b, rel_tol=1e-9)
                )
                problems.append(f"col {c}: {bad} exact diffs ({close} within 1e-9)")
        else:
            neq = (sv.astype(str) != ov.astype(str)).sum()
            if neq:
                ex = [(a, b) for a, b in zip(sv, ov) if str(a) != str(b)][:3]
                problems.append(f"col {c}: {neq} diffs, e.g. {ex}")
    return problems


def main() -> None:
    from streams_spark.registry import load_all

    registry = load_all()
    only = set(sys.argv[1:])
    # BARE session on purpose — the driver does not use our session
    # factory, so any conf we need must be applied at runtime inside the
    # queries themselves (round-1 lesson: the nanos-timestamp conf lived
    # only in session.py and every events query was red in the harness).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check_oracle_bare")
        .getOrCreate()
    )
    con = duck_connect()
    n_pass = n_fail = n_noracle = 0
    for name, spec in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            odf = con.sql(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"  - {p}")
            n_fail += 1
        else:
            print(f"PASS {name} (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    spark.stop()
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
