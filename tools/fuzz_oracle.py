"""Seeded differential fuzz sweep over every Spark-vs-DuckDB oracle pair.

The three-scale sweep caught the midpoint-rounding and quantile-tie
divergence classes MANUALLY; this harness hunts the next class before
the driver does. From a fixed seed it deterministically perturbs the
fixture parquet — row-order shuffle, 2-dp money jitter, timestamp
jitter across window boundaries, unicode/empty/NULL injection into text
columns, duplicated rows (degenerate groups / broken uniqueness) — and
reruns EVERY registered query on the perturbed data through the same
compare used by tools/check_oracle.py. Spark and DuckDB read the same
perturbed files, so any disagreement is a data-dependent divergence in
an operator/oracle pair, not a data problem.

Usage:
    python tools/fuzz_oracle.py [--seeds 1,2,3] [--sf /root/testdata/sf0.001]
                                [--out FUZZ_r6.json] [name ...]

Each seed runs in a subprocess (fresh bare Spark session, like the
driver); results land in one JSON file:
    {"sf": ..., "seeds": {"1": {"pass": N, "fail": [...], "skip": [...]},
     ...}, "perturbations": [...]}
Exit code 1 if any seed has failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

FUZZ_ROOT = os.path.join(ROOT, ".fuzzdata")

# Unicode stress pool: empties, whitespace, CJK, emoji, combining marks,
# ligatures, control-ish whitespace, quotes, and a long repeat.
TEXT_POOL = [
    "",
    " ",
    "café ☕",
    "中文文本测试",
    "emoji \U0001f680\U0001f31f",
    "line\nbreak\ttab",
    "quote\"quote'",
    "ÅÆØåæø",
    "ﬀ ligature",
    "é combining acute",
    "ab" * 500,
    "   \t   ",
    "x",
    "z" * 4000,
    "1234?!.,;:5678",
]

PERTURBATIONS = [
    "row-order shuffle in every table",
    "lineitem: quantity +/-1, price/discount 2-dp jitter, 0.5% NULL "
    "l_returnflag, 1% duplicated rows",
    "orders/customer/supplier: 2-dp money jitter",
    "events: value 2-dp jitter, ts +/-1s jitter, 0.5% duplicated rows, "
    "unicode/empty JSON prop values, 0.5% NULL props, 0.5% NULL value, "
    "0.3% CONFLICTING duplicates (same event_id/ts, different value), "
    "0.2% ts outliers +/-7 days (window/spine boundary stress)",
    "documents: 2% unicode/empty/whitespace-only/unbroken-4k-token text, "
    "1% NULL text (n_chars kept consistent), 1% duplicated rows, "
    "0.5% CONFLICTING duplicates (same doc_id, different text)",
    "embeddings: 1% of vectors jittered by +/-0.01 per coordinate, "
    "0.3% all-zero vectors (zero-norm cosine guard)",
    "NULL keys (new r7): 0.3% NULL doc_id in documents (identity/dedup "
    "grouping of the NULL-id class), 0.3% NULL user_id in events "
    "(NULL segment derivation, NULL window partitions). NULL ts stays "
    "a documented future class - streaming watermarks DROP "
    "NULL-event-time rows by design where a batch oracle keeps the "
    "NULL group, so that axis needs per-query contracts first.",
    "NULL keys, all-column extension (new r8, VERDICT r7 #3): 0.3% NULL "
    "event_type + event_id (events: groupBy/window/funnel keys, dedup "
    "identity), vec_id + label (embeddings: ANN ids, knn/stratify "
    "labels), lang + source (documents: quality rollups, mix "
    "proportions), and every TPC-H FK - l_orderkey/l_partkey/l_suppkey, "
    "o_custkey, c_nationkey, s_nationkey, n_regionkey (equi-join drops, "
    "outer-join NULL rows, NOT-IN vs anti-join three-valued logic, "
    "nulls-first/last window winners).",
    "LENGTH SKEW (new r7b): ~0.2% of documents become ~20k-token texts "
    "from a 64-word vocabulary - dominating window partitions in the "
    "gram builders, hot repeated shingles in the dedup joins, "
    "long-string regex scans, boilerplate-census doc_freq paths.",
    "NULL EVENT TIME (new r9, --null-ts): 0.3% NULL events.ts - the "
    "formerly-deferred axis. Time-bucket NULL groups, window frames "
    "ordered by a NULL-able ts, session-gap lag() over NULL, spine "
    "builders, as-of ranges, and the streaming watermark-drop contract "
    "(watermarked queries filter ts IS NOT NULL on BOTH sides - a NULL "
    "event time cannot be watermarked, so the batch oracle must model "
    "the drop).",
    "NULL DATES (new r9, --null-dates): 0.3% NULL l_shipdate / "
    "o_orderdate - TPC-H range predicates under three-valued logic, "
    "date group keys, interval arithmetic, window order keys.",
    "NON-FINITE VALUES (new r9, --nonfinite): 0.3% each +Inf/-Inf/NaN "
    "in events.value (TRUE NaN, written from_pandas=False - the pandas "
    "round trip would silently turn NaN into parquet NULL) and 0.3% "
    "of embedding vectors get one corrupt coordinate (NaN/Inf/-Inf "
    "cycling) - ANSI cast overflow crashes, DuckDB stddev "
    "out-of-range, NaN similarities making argmax/top-k "
    "engine-dependent, NULL list elements read engine-dependently. "
    "Contracts: statistics treat non-finite as MISSING (finite_or_null "
    "/ CASE WHEN isfinite); corrupt-coordinate vectors never enter the "
    "vector corpus (operators.vector_hygiene).",
]

# Degenerate fixtures for --degenerate mode: the same schema with zero
# rows (empty spaces/segments are a first-class reference state), with
# exactly one physical row per table (no referential integrity — joins
# legitimately come up empty; windows/lag/sessionize see a single point),
# and with every MEASUREMENT column NULL while identity/key columns are
# kept (a corpus whose payloads all failed extraction: aggregates land in
# the all-NULL regime — SUM/AVG → NULL, COUNT(col) → 0 — where engines
# disagree most readily on conditional counts, ratios, and NULL ordering).
DEGENERATE_KINDS = ["empty", "single", "nullmeas", "nullts"]

# Measurement columns per table for the nullmeas fixture. Identity (keys,
# timestamps, categorical flags) stays; everything a query would SUM/AVG/
# ratio over goes NULL. documents.text drags n_chars with it (the seeded
# perturbation keeps the two consistent; nullmeas must too).
NULLMEAS_COLS = {
    "events": ["value", "props"],
    "documents": ["text", "n_chars"],
    "embeddings": ["embedding"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
}


def _shuffle(df, rng):
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


# scales every _null_keys fraction (and the r7 doc_id/user_id sites):
# --null-frac-mult 10 turns the 0.3% class into a 3% stress probe that
# makes NULL-vs-non-NULL ordering ties actually likely
NULL_FRAC_MULT = 1.0

# r9: the formerly-deferred NULL TIME class. --null-ts injects 0.3%
# NULL event timestamps (events.ts) — the axis the r7 note deferred
# because streaming watermarks DROP NULL-event-time rows where a batch
# oracle keeps the NULL group; the r9 contract work pins each query
# explicitly instead of deferring. --null-dates injects 0.3% NULL
# l_shipdate / o_orderdate (TPC-H range predicates, date group keys,
# interval arithmetic under three-valued logic).
NULL_TS = False
NULL_DATES = False

# r9: non-finite measurement class. --nonfinite injects 0.3% each of
# +Inf / -Inf / NaN into events.value — the "corrupt sensor reading"
# case. Divergence mechanisms this hunts: ANSI integer casts of Inf
# (Spark ARITHMETIC_OVERFLOW crash), DuckDB STDDEV_SAMP out-of-range
# on Inf, NaN/Inf propagation through means vs the floor-rounding
# boundary, and NaN ordering. The pinned contract: statistics
# operators treat non-finite measurements as MISSING
# (operators.finite_or_null; oracle twin CASE WHEN isfinite).
NONFINITE = False


def _null_keys(df, rng, cols, frac=0.003):
    """r8 all-key NULL class: independently NULL `frac` of each named
    key column. Integer keys widen to pandas nullable Int64 so the
    parquet schema (nullable int64) is preserved on write."""
    for col in cols:
        sel = rng.random(len(df)) < frac * NULL_FRAC_MULT
        if not sel.any():
            continue
        if df[col].dtype.kind in "iu":
            df[col] = df[col].astype("Int64")
        df.loc[sel, col] = None
    return df


def _dup(df, rng, frac):
    n = max(1, int(len(df) * frac))
    idx = rng.choice(len(df), size=n, replace=False)
    import pandas as pd

    return pd.concat([df, df.iloc[idx]], ignore_index=True)


def perturb_table(name: str, df, rng):
    if name == "lineitem":
        jit = rng.integers(-1, 2, size=len(df)).astype(float)
        df["l_quantity"] = np.maximum(df["l_quantity"] + jit, 1.0)
        df["l_extendedprice"] = np.round(
            df["l_extendedprice"] * (1 + rng.uniform(-0.05, 0.05, len(df))), 2
        )
        df["l_discount"] = np.round(rng.uniform(0, 0.1, len(df)), 2)
        # NULL group keys: a NULL l_returnflag row must land in the same
        # NULL group (and rollup/cube subtotal rows must stay distinct
        # from it) in both engines
        nul = rng.random(len(df)) < 0.005
        df.loc[nul, "l_returnflag"] = None
        df = _dup(df, rng, 0.01)
        # r8: NULL FKs — rows must drop from equi-joins, survive outer
        # joins as NULL rows, and hit NOT-IN three-valued logic
        # identically in both engines
        df = _null_keys(df, rng, ["l_orderkey", "l_partkey", "l_suppkey"])
        if NULL_DATES:
            import pandas as pd

            sel = rng.random(len(df)) < 0.003 * NULL_FRAC_MULT
            df.loc[sel, "l_shipdate"] = pd.NaT
    elif name == "orders":
        df["o_totalprice"] = np.round(
            df["o_totalprice"] * (1 + rng.uniform(-0.05, 0.05, len(df))), 2
        )
        df = _null_keys(df, rng, ["o_custkey"])
        if NULL_DATES:
            import pandas as pd

            sel = rng.random(len(df)) < 0.003 * NULL_FRAC_MULT
            df.loc[sel, "o_orderdate"] = pd.NaT
    elif name in ("customer", "supplier"):
        col = "c_acctbal" if name == "customer" else "s_acctbal"
        if col in df.columns:
            df[col] = np.round(
                df[col] + rng.uniform(-100, 100, len(df)), 2
            )
        df = _null_keys(
            df, rng, ["c_nationkey" if name == "customer" else "s_nationkey"]
        )
    elif name == "nation":
        df = _null_keys(df, rng, ["n_regionkey"], frac=0.04)  # 25 rows
    elif name == "events":
        df["value"] = np.round(
            df["value"] + rng.uniform(-10, 10, len(df)), 2
        )
        import pandas as pd

        ms = rng.integers(-1000, 1001, size=len(df))
        df["ts"] = df["ts"] + pd.to_timedelta(ms, unit="ms")
        sel = rng.random(len(df)) < 0.005
        df.loc[sel, "props"] = [
            json.dumps({"k": TEXT_POOL[i % len(TEXT_POOL)]})
            for i in range(int(sel.sum()))
        ]
        df = _dup(df, rng, 0.005)
        # NULL payloads/values: the reference permits empty Entry
        # payloads — NULL props/value must null-propagate identically
        nulp = rng.random(len(df)) < 0.005
        df.loc[nulp, "props"] = None
        nulv = rng.random(len(df)) < 0.005
        df.loc[nulv, "value"] = None
        # CONFLICTING duplicates: same (event_id, ts), different value —
        # the log's sequence assignment must stay a TOTAL order
        import pandas as pd

        n_conf = max(1, int(len(df) * 0.003))
        idx = rng.choice(len(df), size=n_conf, replace=False)
        conf = df.iloc[idx].copy()
        conf["value"] = np.round(
            conf["value"].to_numpy() + rng.uniform(1, 50, n_conf), 2
        )
        df = pd.concat([df, conf], ignore_index=True)
        # Timestamp outliers: corrupt ingest clocks land rows days away
        # from the corpus; window buckets, gap-fill spines, and
        # sessionization must not explode or disagree at the far
        # boundaries. +/-7 days keeps any per-entity spine bounded.
        out_sel = np.nonzero(rng.random(len(df)) < 0.002)[0]
        if len(out_sel):
            days = rng.choice([-7, 7], size=len(out_sel))
            ts = df["ts"].copy()
            ts.iloc[out_sel] = ts.iloc[out_sel] + pd.to_timedelta(
                days, unit="D"
            )
            df["ts"] = ts
        # NULL user_id (new r7): the segment derivation ('seg' ||
        # user_id % 8) must NULL-propagate identically, NULL window
        # partitions must stay one group in both engines
        nuluser = rng.random(len(df)) < 0.003 * NULL_FRAC_MULT
        if nuluser.any():
            df["user_id"] = df["user_id"].astype("Int64")
            df.loc[nuluser, "user_id"] = None
        # r8: NULL event_type (groupBy/window/funnel key) and event_id
        # (dedup identity, sequence tie-break).
        df = _null_keys(df, rng, ["event_type", "event_id"])
        if NONFINITE:
            u = rng.random(len(df))
            r = 0.003 * NULL_FRAC_MULT
            df.loc[u < r, "value"] = np.inf
            df.loc[(u >= r) & (u < 2 * r), "value"] = -np.inf
            df.loc[(u >= 2 * r) & (u < 3 * r), "value"] = np.nan
        # r9: NULL event TIME (the formerly-deferred axis). A NULL ts is
        # the "extraction failed to parse the timestamp" production
        # case: time-bucket groups, window frames, session gaps, spine
        # builders, as-of ranges, and streaming watermarks all meet it
        # differently unless each query pins a contract.
        if NULL_TS:
            sel = rng.random(len(df)) < 0.003 * NULL_FRAC_MULT
            if sel.any():
                ts = df["ts"].copy()
                ts[sel] = pd.NaT
                df["ts"] = ts
    elif name == "documents":
        u = rng.random(len(df))
        uni = u < 0.02
        nul = (u >= 0.02) & (u < 0.03)
        picks = rng.integers(0, len(TEXT_POOL), size=len(df))
        new_text = df["text"].copy()
        new_text[uni] = [TEXT_POOL[p] for p in picks[uni]]
        new_text[nul] = None
        df["text"] = new_text
        df["n_chars"] = df["text"].map(
            lambda t: len(t) if t is not None else None
        )
        df = _dup(df, rng, 0.01)
        # CONFLICTING duplicates: same doc_id, DIFFERENT text (corrupt
        # re-ingest) — the identity contract must resolve these
        # deterministically (min text per doc) on both engines
        import pandas as pd

        n_conf = max(1, int(len(df) * 0.005))
        idx = rng.choice(len(df), size=n_conf, replace=False)
        conf = df.iloc[idx].copy()
        donor = df.iloc[
            rng.choice(len(df), size=n_conf, replace=False)
        ]["text"].to_numpy()
        conf["text"] = donor
        conf["n_chars"] = conf["text"].map(
            lambda t: len(t) if t is not None else None
        )
        df = pd.concat([df, conf], ignore_index=True)
        # NULL doc_id (new r7): both engines GROUP BY the NULL id as
        # ONE document; the identity split's null-safe join keys (and
        # every doc_id aggregate/window downstream) must agree
        nulid = rng.random(len(df)) < 0.003 * NULL_FRAC_MULT
        if nulid.any():
            df["doc_id"] = df["doc_id"].astype("Int64")
            df.loc[nulid, "doc_id"] = None
        # r8: NULL lang/source — quality rollups and mix proportions
        # must keep the NULL group as ONE group on both sides
        df = _null_keys(df, rng, ["lang", "source"])
        # LENGTH SKEW (new r7b): ~0.2% of docs become ~20k-token texts
        # drawn from a 64-word vocabulary — one window partition
        # dominating the exploded token/gram stream (gram_rows /
        # hashed_gram_rows skew), hot repeated shingles in every dedup
        # join, long-string regex scans (BPE token counts), and
        # boilerplate-census paths (t_ngram_freq doc_freq) all at once
        n_long = max(1, len(df) // 500)
        long_idx = rng.choice(len(df), size=n_long, replace=False)
        long_text = df["text"].copy()
        for i in long_idx:
            words = rng.integers(0, 64, size=20_000)
            long_text.iloc[i] = " ".join(f"w{int(x)}" for x in words)
        df["text"] = long_text
        df["n_chars"] = df["text"].map(
            lambda t: len(t) if t is not None else None
        )
    elif name == "embeddings":
        sel = np.nonzero(rng.random(len(df)) < 0.01)[0]
        emb = df["embedding"].to_numpy(copy=False)
        for i in sel:
            v = np.asarray(emb[i], dtype=np.float32)
            emb[i] = v + rng.uniform(-0.01, 0.01, v.shape).astype(np.float32)
        # Zero-norm vectors: an empty document embeds to the zero vector
        # in practice; cosine against it divides by zero, and Spark-ANSI
        # and DuckDB need not agree on double x/0. Operators must guard.
        zsel = np.nonzero(rng.random(len(df)) < 0.003)[0]
        for i in zsel:
            v = np.asarray(emb[i], dtype=np.float32)
            emb[i] = np.zeros_like(v)
        # r8: NULL vec_id (ANN result identity / join key) and label
        # (knn vote, stratified sampling stratum)
        df = _null_keys(df, rng, ["vec_id", "label"])
    return _shuffle(df, rng)


def build_seed_dir(sf_src: str, seed: int) -> str:
    # the fixture dir is keyed on (seed, source sf, flag set): two runs
    # with the same seed but different scales or flags previously shared
    # one dir, so a concurrent build could clobber a sweep mid-run and
    # manufacture phantom Spark-vs-oracle mismatches (observed r9: an
    # interactive sf0.01 build overwrote a running sf0.001 sweep's
    # fixture and "failed" 10 dedup/text queries that re-verify green)
    tag = sf_src.rstrip("/").rsplit("/", 1)[-1]
    flags = (
        f"m{NULL_FRAC_MULT:g}"
        + ("t" if NULL_TS else "")
        + ("d" if NULL_DATES else "")
        + ("f" if NONFINITE else "")
    )
    dest = os.path.join(FUZZ_ROOT, f"seed{seed}-{tag}-{flags}")
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        src = os.path.join(sf_src, f"{t}.parquet")
        table = pq.read_table(src)
        df = table.to_pandas()
        df = perturb_table(t, df, rng)
        out = pa.Table.from_pandas(df, schema=table.schema, preserve_index=False)
        if NONFINITE and t == "events":
            # pandas->arrow converts NaN to parquet NULL (NaN is the
            # pandas missing marker), so the in-df NaN injection above
            # would silently degrade to the NULL-value class — rebuild
            # the column from the raw float64 buffer with
            # from_pandas=False so TRUE NaN reaches the file (the
            # intended-NULL value rows become NaN under this flag; the
            # missing-value axis is covered by the other classes)
            idx = out.schema.get_field_index("value")
            arr = pa.array(
                df["value"].to_numpy(dtype="float64"),
                type=out.schema.field(idx).type,
                from_pandas=False,
            )
            out = out.set_column(idx, out.schema.field(idx), arr)
        if NONFINITE and t == "embeddings":
            # corrupt COORDINATES (one NaN/Inf/-Inf per hit vector),
            # written at arrow level for the same true-NaN reason
            vecs = [
                None if v is None else np.asarray(v, np.float32).copy()
                for v in df["embedding"]
            ]
            sel = np.nonzero(
                rng.random(len(vecs)) < 0.003 * NULL_FRAC_MULT
            )[0]
            for j, i in enumerate(sel):
                if vecs[i] is None or len(vecs[i]) == 0:
                    continue
                k = int(rng.integers(0, len(vecs[i])))
                vecs[i][k] = [np.nan, np.inf, -np.inf][j % 3]
            idx = out.schema.get_field_index("embedding")
            arr = pa.array(
                [None if v is None else v.tolist() for v in vecs],
                type=out.schema.field(idx).type,
                from_pandas=False,
            )
            out = out.set_column(idx, out.schema.field(idx), arr)
        pq.write_table(out, os.path.join(dest, f"{t}.parquet"))
    return dest


def build_degenerate_dir(sf_src: str, kind: str) -> str:
    """Write the fixture with zero rows (kind='empty'), exactly one
    physical row per table (kind='single'), or all measurement columns
    NULL (kind='nullmeas'), schema preserved bit-for-bit. Zero-row
    spaces/segments are a first-class state in the reference (a freshly
    created space is empty); single-row tables exercise every
    lag/lead/spine/sessionize path at its n=1 boundary; nullmeas drives
    every aggregate into the all-NULL regime at full row count; nullts
    (r9) NULLs EVERY event timestamp — the extreme of the
    NULL-event-time exclusion contract, where time-ordered queries must
    agree on an empty (or NULL-grouped) result rather than diverge on
    where an un-timestamped corpus sorts."""
    import pyarrow as pa

    dest = os.path.join(FUZZ_ROOT, kind)
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        table = pq.read_table(os.path.join(sf_src, f"{t}.parquet"))
        if kind == "nullmeas":
            for col in NULLMEAS_COLS.get(t, []):
                i = table.schema.get_field_index(col)
                nulls = pa.nulls(len(table), type=table.schema.field(i).type)
                table = table.set_column(i, table.schema.field(i), nulls)
        elif kind == "nullts":
            if t == "events":
                i = table.schema.get_field_index("ts")
                nulls = pa.nulls(len(table), type=table.schema.field(i).type)
                table = table.set_column(i, table.schema.field(i), nulls)
        else:
            table = table.slice(0, 0 if kind == "empty" else 1)
        pq.write_table(table, os.path.join(dest, f"{t}.parquet"))
    return dest


def run_seed(dest: str, only: list[str]) -> dict:
    env = dict(os.environ, CHECK_SF_DIR=dest)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), *only],
        env=env,
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    passed, failed, skipped = [], [], []
    detail = []
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            passed.append(line.split()[1])
        elif line.startswith("FAIL "):
            failed.append(line.split()[1].rstrip(":"))
        elif line.startswith("SKIP "):
            skipped.append(line.split()[1].rstrip(":"))
        elif line.startswith("  - "):
            detail.append(f"{failed[-1] if failed else '?'}: {line[4:]}")
        elif (
            failed
            and not line.startswith(" ")
            and ("Error" in line or "Exception" in line)
        ):
            # terminal line of a spark/oracle error traceback — without
            # this, error-class failures carry no detail at all
            detail.append(f"{failed[-1]}: {line[:300]}")
    if proc.returncode not in (0, 1):
        detail.append(f"runner crashed rc={proc.returncode}: {proc.stderr[-2000:]}")
    return {
        "pass": len(passed),
        "fail": sorted(set(failed)),
        "skip": sorted(set(skipped)),
        "detail": detail[:80],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="FUZZ_r6.json")
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument(
        "--degenerate",
        action="store_true",
        help="run the empty/single-row fixtures instead of seeded perturbations",
    )
    ap.add_argument(
        "--null-frac-mult",
        type=float,
        default=1.0,
        help="scale every NULL-key injection rate (10 -> 3%% stress probe)",
    )
    ap.add_argument(
        "--null-ts",
        action="store_true",
        help="inject 0.3%% NULL events.ts (the r9 NULL-event-time class)",
    )
    ap.add_argument(
        "--null-dates",
        action="store_true",
        help="inject 0.3%% NULL l_shipdate/o_orderdate",
    )
    ap.add_argument(
        "--nonfinite",
        action="store_true",
        help="inject 0.3%% each +Inf/-Inf/NaN into events.value",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    global NULL_FRAC_MULT, NULL_TS, NULL_DATES, NONFINITE
    NULL_FRAC_MULT = args.null_frac_mult
    NULL_TS = args.null_ts
    NULL_DATES = args.null_dates
    NONFINITE = args.nonfinite
    if args.degenerate:
        runs = [(k, lambda k=k: build_degenerate_dir(args.sf, k)) for k in DEGENERATE_KINDS]
    else:
        runs = [
            (str(s), lambda s=s: build_seed_dir(args.sf, int(s)))
            for s in args.seeds.split(",")
        ]
    results = {}
    any_fail = False
    for key, build in runs:
        dest = build()
        print(f"{key}: fixture at {dest}; running sweep...")
        res = run_seed(dest, args.names)
        results[key] = res
        any_fail = any_fail or bool(res["fail"])
        print(
            f"{key}: {res['pass']} pass, {len(res['fail'])} fail, "
            f"{len(res['skip'])} no-oracle"
        )
        for d in res["detail"]:
            print(f"  {d}")
        if not args.keep_data:
            shutil.rmtree(dest, ignore_errors=True)
    payload = {
        "sf": args.sf,
        "seeds": results,
        "perturbations": (
            ["degenerate fixtures: zero rows / one row per table"]
            if args.degenerate
            else PERTURBATIONS
        ),
    }
    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(payload, f, indent=2)
    print(f"wrote {args.out}")
    if any_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
