"""Event-log storage layout: canonical write, read, and maintenance.

SURVEY.md §1.2's Spark mapping of the reference's dual-indexed LSM: one
Parquet table partitioned by `space`, sorted within files by
(`segment`, `sequence`) so Parquet row-group min/max stats prune both
query shapes (per-segment sequence scans and per-space time scans)
without a second physical copy of the data.

Maintenance: an append-heavy produce path (one file per micro-batch per
partition) accumulates small files — the classic streaming-sink problem
the reference never has (its LSM compacts internally). `compact()` is
the explicit analog of LSM compaction: rewrite each space partition into
few large sorted files. At 100 TB this runs per-partition (space) as an
independent job, so compaction parallelism == partition count and a
failed compaction affects one partition only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_spark.session import scoped_conf


def write_event_log(df: DataFrame, log_dir: str, mode: str = "append") -> None:
    """Canonical layout: partitioned by space, files sorted by
    (segment, sequence) so row-group stats serve both sort orders."""
    # the sort leads with the partition column: the file writer requires
    # rows ordered by partition cols and would otherwise insert its own
    # (non-stable) sort, destroying the (segment, sequence) order
    (
        df.repartition("space")
        .sortWithinPartitions("space", "segment", "sequence")
        .write.mode(mode)
        .partitionBy("space")
        .parquet(log_dir)
    )


def read_event_log(spark: SparkSession, log_dir: str) -> DataFrame:
    return spark.read.parquet(log_dir)


def _log_partition_cols(log_dir: str) -> list[str]:
    """Partition scheme of an existing log dir: the plain store layout
    (`space=`) or the idempotent produce sink's two-level layout
    (`commit_batch=<id>/space=`, streaming/produce.py). Maintenance ops
    must write the SAME scheme — mixing them in one directory makes
    every subsequent read fail with CONFLICTING_PARTITION_COLUMN_NAMES
    and the sink's per-batch replay filter depends on commit_batch
    surviving compaction."""
    for entry in os.listdir(log_dir):
        if entry.startswith("commit_batch="):
            return ["commit_batch", "space"]
    return ["space"]


def log_file_stats(spark: SparkSession, log_dir: str) -> dict[str, int]:
    """Files per space (the small-file pressure gauge), aggregated
    across commit_batch= dirs when the log uses the sink layout."""
    out: dict[str, int] = {}

    def count_space_dirs(root: str) -> None:
        for entry in sorted(os.listdir(root)):
            if entry.startswith("space="):
                space = entry.split("=", 1)[1]
                part_dir = os.path.join(root, entry)
                out[space] = out.get(space, 0) + sum(
                    1 for f in os.listdir(part_dir) if f.endswith(".parquet")
                )

    count_space_dirs(log_dir)
    for entry in sorted(os.listdir(log_dir)):
        if entry.startswith("commit_batch="):
            count_space_dirs(os.path.join(log_dir, entry))
    return out


def compact(
    spark: SparkSession,
    log_dir: str,
    spaces: list[str] | None = None,
    files_per_space: int = 1,
) -> None:
    """Rewrite each partition into `files_per_space` sorted files,
    PRESERVING the log's partition scheme (plain `space=` or the
    produce sink's `commit_batch=/space=` — see _log_partition_cols;
    commit_batch must survive so the sink's committed-batch filter and
    replay idempotence keep working on compacted logs).

    Per-partition dynamic overwrite (`replaceWhere`-style via
    partitionOverwriteMode=dynamic) so untouched partitions keep their
    files; readers see the old files until the atomic directory swap.
    Sequence order within the new files is restored by
    sortWithinPartitions, so compaction preserves the layout contract
    of write_event_log.
    """
    cols = _log_partition_cols(log_dir)
    df = read_event_log(spark, log_dir)
    if spaces is not None:
        df = df.where(F.col("space").isin(spaces))
    # Bucket by SEGMENT hash within each partition: a plain
    # repartition(files_per_space, *cols) would hash every row of a
    # space onto one task (one file per space, files_per_space a no-op,
    # and the whole rewrite serialized through files_per_space tasks).
    # Salting on segment spreads partitions across tasks while keeping
    # whole segments together, so each output file stays sorted by
    # (segment, sequence) with tight row-group min/max stats — hashing
    # on sequence too would interleave sequences across files and
    # destroy the pruning the layout exists for.
    salt = F.pmod(F.xxhash64("segment"), F.lit(files_per_space))
    # explicit partition count: AQE would otherwise coalesce the small
    # shuffle back into one task and re-collapse the file count.
    # Sized from the distinct count over ALL partition cols (not just
    # space) so a commit_batch/space layout provisions per (batch,
    # space) group, and distributed by RANGE on (cols, __bucket): with
    # n_parts == number of distinct (group, bucket) cells, range
    # boundaries land between cells, giving a near-bijective
    # cell-to-task mapping — hash repartition can collide several cells
    # into one task and silently merge their output files.
    n_groups = df.select(*cols).distinct().count()
    n_parts = max(1, n_groups * files_per_space)
    overwrite_mode = "spark.sql.sources.partitionOverwriteMode"
    with scoped_conf(spark, overwrite_mode, "dynamic"):
        (
            df.withColumn("__bucket", salt)
            .repartitionByRange(n_parts, *cols, "__bucket")
            .sortWithinPartitions(*cols, "segment", "sequence")
            .drop("__bucket")
            .write.mode("overwrite")
            .partitionBy(*cols)
            .parquet(log_dir)
        )


# ---------------------------------------------------------------------------
# Bucketed tables: shuffle-free co-located joins
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Persist as a bucketed+sorted managed table. Two tables bucketed the
    same way join WITHOUT any exchange — the pre-shuffled layout is the
    Spark analog of co-locating related segments on one node, and the
    right call for repeatedly-joined 100 TB fact tables (pay the shuffle
    once at write time, never at read time)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


# ---------------------------------------------------------------------------
# Z-order clustering: multi-dimensional data skipping in one layout
# ---------------------------------------------------------------------------

ZORDER_BITS = 16


def zorder_value(c1, c2, bits: int = ZORDER_BITS):
    """Morton (Z-order) key of two already-quantized non-negative int
    columns: interleave the low `bits` bits of each. Pure bitwise
    column expressions — whole-stage-codegen'd, no UDF.

    Bit i of c1 lands at position 2i+1, bit i of c2 at position 2i, so
    proximity in EITHER dimension keeps keys near each other — the
    property that lets one sort order serve min/max pruning on both
    columns at once (the single-sort layout serves only its leading
    column)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(b1, 2 * i + 1))
            .bitwiseOR(F.shiftleft(b2, 2 * i))
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
    n_files: int = 8,
) -> None:
    """Write `df` clustered by the Z-order of (col1, col2) — the
    lakehouse OPTIMIZE ZORDER capability (Delta/Iceberg) expressed in
    plain Spark: range-partition on the Morton key, sort within
    partitions by it, and let Parquet row-group min/max stats on BOTH
    source columns become tight, so point/range predicates on either
    dimension skip most row groups. A single-column sort gives perfect
    stats on its leading column and useless ones on the other; Z-order
    trades a little of each for skipping on both (tested:
    `test_zorder_prunes_both_dimensions` counts overlapping row groups
    straight from the Parquet footers).

    Scale: one range-exchange on the z key (sampled bounds, no global
    sort bottleneck), codegen'd bit math, no UDF, no extra copy of the
    data. Quantization to `bits` buckets per dimension caps key width;
    ties inside a bucket are irrelevant to pruning."""
    z = zorder_value(F.col(col1), F.col(col2), bits).alias("__z")
    (
        df.select("*", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_zordered(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    col1: str,
    col2: str,
    n_files: int = 8,
) -> None:
    """OPTIMIZE-with-ZORDER analog: compact the event log into a
    clustered copy laid out by the Morton key of (col1, col2) — the
    maintenance command a lakehouse runs when the read pattern is
    two-dimensional (e.g. per-user time slices over a time-partitioned
    log). Writes to `out_dir` (swap-in is the caller's atomic rename,
    mirroring how compact() relies on the directory swap).

    Scale: one range-exchange on the z key; each output file covers a
    z-range ≈ a rectangle in (col1, col2) space, so row-group stats
    prune BOTH per-user scans and time scans in the same copy of the
    data."""
    write_zordered(
        read_event_log(spark, log_dir), out_dir, col1, col2,
        n_files=n_files,
    )
