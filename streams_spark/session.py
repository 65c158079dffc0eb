"""SparkSession factory tuned for the harness (local[N]) but scale-minded.

Every config here is also correct on a multi-executor cluster: AQE handles
runtime re-planning (skew joins, partition coalescing), shuffle partitions
default to the local core count but should be ~2-3x total cores on a real
cluster, and the session timezone is pinned to UTC so results are comparable
with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(app_name: str = "pystreams", shuffle_partitions: int | None = None) -> SparkSession:
    n = default_parallelism()
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in the source layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value):
    """Set session conf `key` to `value` for the body of a `with` block.
    On exit, also when the body raises, the previous value comes back,
    or the key is unset again if the session never set it (so a later
    read still sees Spark's default, not a pinned copy of it)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
