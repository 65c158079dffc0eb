"""Streaming state-growth stress: prove per-batch latency and state
size stay FLAT as micro-batch count and history scale x10/x100.

SCALING.md's batch decades stress data volume; this harness stresses
the other axis a long-running stream faces — the NUMBER of micro-
batches already folded — for the repo's four stateful shapes:

  session   : watermarked session_window agg (st_session_stream shape);
              the watermark must EVICT closed sessions, so
              stateOperators.numRowsTotal stays ~O(open keys) instead
              of growing with history.
  run_stats : applyInPandasWithState integer moments
              (st_running_stats shape); state is O(keys) by
              construction — verify rows == keys, batch time flat.
  ingest    : first-seen-wins store (st_ingest_dedup shape), folded
              by the engine's foreachBatch runner
              (streaming_queries._fold); store rows bounded by
              |distinct keys|; the runner's localCheckpoint per batch
              must keep lineage (and thus per-batch time) flat instead
              of growing linearly.
  cdc       : last-writer-wins merge (st_cdc_apply shape), same runner;
              same flatness contract.

Method: generate NB single-file micro-batches (ROWS_PER_BATCH rows,
KEYS distinct keys, event time advancing one step per batch), drive
each shape with maxFilesPerTrigger=1, and compare the mean per-batch
wall time of the FIRST half vs the LAST half (ratio ~1 = flat; a
lineage/state leak shows as last/first >> 1), plus the final state
rows. Usage:

    python tools/stress_streaming_state.py [--batches 10,100] [--keys 1000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gen_batches(spark, root: str, nb: int, keys: int, rows: int) -> str:
    """nb single-file batches; batch i spans [i*60s, i*60s+59s]."""
    from pyspark.sql import functions as F

    out = f"{root}/feed"
    for i in range(nb):
        (
            spark.range(rows)
            .select(
                (F.lit(i) * rows + F.col("id")).alias("event_id"),
                F.timestamp_seconds(
                    F.lit(1_700_000_000 + i * 60)
                    + (F.col("id") % 60)
                ).alias("ts"),
                F.pmod(
                    F.xxhash64(F.col("id") + F.lit(i * rows)), F.lit(keys)
                ).alias("user_id"),
                (F.col("id") % 97).cast("double").alias("value"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )
    return out


def _halves(times: list[float]) -> tuple[float, float]:
    h = len(times) // 2
    first = sum(times[:h]) / max(h, 1)
    last = sum(times[h:]) / max(len(times) - h, 1)
    return first, last


def run_session(spark, feed: str) -> dict:
    """Watermarked session-window agg; per-batch times + state rows
    from recentProgress."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.session_window("ts", "90 seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = q.recentProgress
    times = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog if p["numInputRows"]]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in prog
        if p.get("stateOperators")
    ]
    first, last = _halves(times)
    return {
        "batches": len(times),
        "first_half_sec": round(first, 3),
        "last_half_sec": round(last, 3),
        "ratio": round(last / first, 2) if first else None,
        "state_rows_mid": state_rows[len(state_rows) // 2] if state_rows else None,
        "state_rows_final": state_rows[-1] if state_rows else None,
        "state_rows_max": max(state_rows) if state_rows else None,
    }


def run_run_stats(spark, feed: str, keys: int) -> dict:
    """applyInPandasWithState integer moments (st_running_stats)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )

    def upd(key, pdfs, state):
        import math

        (user,) = key
        n, s, ss = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            for v in pdf["value"]:
                c = int(math.floor(v * 100 + 0.5))
                n += 1
                s += c
                ss += c * c
        state.update((n, s, ss))
        yield pd.DataFrame([{"user_id": user, "n": n}])

    out = stream.groupBy("user_id").applyInPandasWithState(
        upd,
        "user_id long, n long",
        "n long, s long, ss long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    name = f"rs_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    prog = q.recentProgress
    times = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog if p["numInputRows"]]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in prog
        if p.get("stateOperators")
    ]
    first, last = _halves(times)
    return {
        "batches": len(times),
        "first_half_sec": round(first, 3),
        "last_half_sec": round(last, 3),
        "ratio": round(last / first, 2) if first else None,
        "state_rows_final": state_rows[-1] if state_rows else None,
        "keys": keys,
    }


def run_fold(spark, feed: str, mode: str) -> dict:
    """Store folds through the engine's foreachBatch runner
    (operators.streaming_queries._fold): 'ingest' (first-seen) or 'cdc'
    (last-writer-wins). Each batch's time runs from one step call to the
    next (the last to the fold's return), so it covers the runner's
    per-batch materialization of the step's result; `lineage_max` is the
    largest logical plan, in nodes, of a state the runner hands back to
    a step, which stays at one node while the runner cuts lineage."""
    from pyspark.sql import DataFrame, functions as F
    from pyspark.sql.window import Window

    from streams_spark.operators.streaming_queries import _fold

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    calls: list[float] = []
    lineage: list[int] = []
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def step(cur: DataFrame | None, bdf: DataFrame) -> DataFrame:
        calls.append(time.time())
        if cur is not None:
            plan = cur._jdf.queryExecution().logical().treeString()
            lineage.append(len(plan.splitlines()))
        if mode == "ingest":
            batch = bdf.groupBy("user_id").agg(
                F.min("event_id").alias("survivor"),
                F.count(F.lit(1)).alias("n_seen"),
            )
            if cur is None:
                return batch
            return (
                cur.unionByName(batch)
                .groupBy("user_id")
                .agg(
                    F.min("survivor").alias("survivor"),
                    F.sum("n_seen").alias("n_seen"),
                )
            )
        # cdc last-writer-wins
        last = (
            bdf.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        if cur is None:
            return last
        return (
            cur.unionByName(last)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    empty = (
        "user_id long, survivor long, n_seen long"
        if mode == "ingest"
        else stream.schema
    )
    state = _fold(stream, step, empty)
    calls.append(time.time())
    times = [b - a for a, b in zip(calls, calls[1:])]
    first, last = _halves(times)
    return {
        "batches": len(times),
        "first_half_sec": round(first, 3),
        "last_half_sec": round(last, 3),
        "ratio": round(last / first, 2) if first else None,
        "lineage_max": max(lineage, default=0),
        "state_rows_final": state.count(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", default="10,100")
    ap.add_argument("--keys", type=int, default=1000)
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--shapes", default="session,run_stats,ingest,cdc")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("stress_streaming_state")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    for nb in [int(x) for x in args.batches.split(",")]:
        root = tempfile.mkdtemp(prefix="pystreams_state_stress_")
        try:
            feed = gen_batches(spark, root, nb, args.keys, args.rows)
            for shape in args.shapes.split(","):
                t0 = time.time()
                if shape == "session":
                    r = run_session(spark, feed)
                elif shape == "run_stats":
                    r = run_run_stats(spark, feed, args.keys)
                else:
                    r = run_fold(spark, feed, shape)
                r["wall_sec"] = round(time.time() - t0, 1)
                results[f"{shape}@{nb}"] = r
                print(f"{shape}@{nb}: {json.dumps(r)}", flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(results, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
