"""Parquet table source for the driver's synthetic star schema.

Reads are plain `spark.read.parquet` so Catalyst predicate pushdown and
column pruning reach the scan (the reference hand-codes key-range pruning
into its LSM iterator — /root/reference/server/pebble/service.go:270-280;
here the same job is done by Parquet row-group stats + pushed filters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from streams_spark.schema import TABLE_NAMES


def _normalize_event_ts(dtype):
    """Column expression turning the events `ts` column — whatever the
    file vintage stored — into a micro-precision TIMESTAMP (LTZ) holding
    the same instant the file recorded:

    - TIMESTAMP(NANOS) vintage: read as epoch-nanos BIGINT under the
      legacy conf; data is micro-precision (ns % 1000 == 0), so the
      integer division is lossless and matches DuckDB.
    - TIMESTAMP(MICROS) vintage: read as TIMESTAMP_NTZ; the stored wall
      clock is a UTC instant, so interpret it as UTC regardless of the
      session timezone (event-time ops — withWatermark, unix_micros —
      require the LTZ TIMESTAMP type). A bare cast (or to_utc_timestamp)
      would first interpret the NTZ wall clock in the SESSION zone,
      shifting the instant by the session offset under non-UTC sessions;
      convert_timezone('UTC', session, ntz) re-renders the UTC wall
      clock into the session zone so the subsequent LTZ cast lands on
      the original instant under any session timezone.
    - Already TIMESTAMP (LTZ): pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(dtype, LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, TimestampNTZType):
        return F.convert_timezone(
            F.lit("UTC"), F.current_timezone(), F.col("ts")
        ).cast("timestamp")
    return F.col("ts")


# Analyzed-plan memo for parquet sources: one driver-side schema
# inference + source resolution per (session, path, file identity).
# Nothing row-side is cached — the memoized DataFrame is a plain lazy
# scan recomputed from the parquet file on every action; the memo only
# removes the repeated DRIVER-side footer read + DataSource resolution
# (measured ~0.11 s per spark.read.parquet call on this harness, paid
# 6x per query per bench run before this) — the same planning-time
# cost class as Spark's own file-listing cache (guide: repeated
# multi-minute listings at scale). One entry per (session, path),
# holding the source identity it was resolved against (see
# _source_identity): a changed identity replaces the entry, so an
# in-place rewrite invalidates and the memo stays bounded by the number
# of distinct paths. Cleared by bench.py's _clear_session_caches
# alongside the other module-level memos so the cold pass stays
# attributable.
_READ_MEMO: dict = {}


def _source_identity(path: str) -> tuple:
    """(mtime, size) of a parquet file; for a directory also the
    (name, mtime, size) of its newest file. A directory's own mtime
    moves only when an entry is added, removed or renamed, so a part
    file rewritten in place would otherwise keep serving the old
    resolution (and its stale footer schema)."""
    st = os.stat(path)
    ident = (st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        newest = max(
            (
                (e.stat().st_mtime_ns, e.name, e.stat().st_size)
                for e in os.scandir(path) if e.is_file()
            ),
            default=None,
        )
        ident += (newest,)
    return ident


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    try:
        ident = _source_identity(path)
    except OSError:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    hit = _READ_MEMO.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    df = spark.read.parquet(path)
    _READ_MEMO[key] = (ident, df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Generated events files have shipped with ts as TIMESTAMP(NANOS)
        # (which Spark 4 rejects outright unless the legacy conf maps it
        # to epoch-nanos long) and as TIMESTAMP(MICROS) (read natively).
        # Set the conf unconditionally — runtime-settable, harmless for
        # micros files — then convert based on what the read produced, so
        # either vintage of the file yields a micro-precision timestamp.
        # The conf stays set for the SESSION deliberately: frames built
        # here are lazy, and flipping it back before they execute would
        # change how their scans decode. Side effect to know about: any
        # LATER raw spark.read.parquet of an unrelated nanos-timestamp
        # file in the same session decodes that column as epoch-nanos
        # BIGINT instead of erroring — route such reads through
        # _normalize_event_ts (or a fresh session) if that matters.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = df.withColumn("ts", _normalize_event_ts(df.schema["ts"].dataType))
    # NOTE on partitioning: each testdata file is one unsplittable row
    # group, so scans are single-task at harness scale. A measured A/B of
    # an eager round-robin fan-out (repartition(cores) after read) made
    # the bench ~2x SLOWER overall: the shuffle of raw rows plus the loss
    # of partial-aggregation locality (32 partitions each holding agg
    # state for every key instead of one perfect-locality pass) outweigh
    # the extra scan parallelism at MB-scale inputs. On a real cluster the
    # many splittable files parallelize the scan without any of this.
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (name == table name).

    Routed through ``load_table`` so the `events` view carries the same
    converted micro-precision timestamp column as the DataFrame path —
    a raw view would silently expose `ts` as epoch-nanos BIGINT.
    """
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
