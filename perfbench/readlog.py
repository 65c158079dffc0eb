"""The canonical log that log_read queries, and what every read must return.

The log is a pure function of (space, segment, sequence): 8 spaces x 16
segments x 16,384 entries (~2.1 M entries, 64-byte payloads). Within a
space the entry at (segment g, sequence q) has timestamp
`BASE_MS + q * SEGMENTS + g` milliseconds, so every millisecond of a
space holds exactly one entry and a time window of W ms holds W entries.
Its content is fixed; the workload seed only picks the op mix.
"""

from __future__ import annotations

import datetime as dt
import hashlib

SPACES = 8
SEGMENTS = 16
ENTRIES = 16_384
BASE_MS = 1_700_000_000_000
FIRST_TICK = SEGMENTS  # (segment 0, sequence 1)
LAST_TICK = ENTRIES * SEGMENTS + SEGMENTS - 1


def space(i: int) -> str:
    return f"sp{i:02d}"


def segment(i: int) -> str:
    return f"seg{i:02d}"


def tick(seg: int, seq: int) -> int:
    return seq * SEGMENTS + seg


def entry_at(t: int) -> tuple[int, int]:
    """(segment index, sequence) of the entry at tick `t`."""
    return t % SEGMENTS, t // SEGMENTS


def timestamp(t: int) -> dt.datetime:
    return dt.datetime.fromtimestamp((BASE_MS + t) / 1000, tz=dt.timezone.utc)


def payload(*parts) -> bytes:
    """64 payload bytes derived from the entry's key parts."""
    key = ":".join(map(str, parts))
    return (
        hashlib.sha256(f"{key}:a".encode()).digest()
        + hashlib.sha256(f"{key}:b".encode()).digest()
    )


def payload_col(*parts):
    """`payload` as a Spark column over string columns."""
    from pyspark.sql import functions as F

    key = F.concat_ws(":", *parts)
    return F.concat(
        F.unhex(F.sha2(F.concat(key, F.lit(":a")), 256)),
        F.unhex(F.sha2(F.concat(key, F.lit(":b")), 256)),
    )


def build(spark):
    """The whole log as a DataFrame in the event-log schema, generated on
    the executors (the same formulas as above, in Spark SQL)."""
    from pyspark.sql import functions as F

    per_space = SEGMENTS * ENTRIES
    ids = spark.range(0, SPACES * per_space, numPartitions=SPACES * 4)
    sp = (F.col("id") / per_space).cast("long")
    seg = ((F.col("id") % per_space) / ENTRIES).cast("long")
    seq = F.col("id") % ENTRIES + 1
    trx = ((seq - 1) / 1024).cast("long")
    return ids.select(
        F.format_string("sp%02d", sp).alias("space"),
        F.format_string("seg%02d", seg).alias("segment"),
        seq.alias("sequence"),
        F.timestamp_millis(F.lit(BASE_MS) + seq * SEGMENTS + seg).alias("timestamp"),
        F.format_string("trx-%d-%d-%d", sp, seg, trx).alias("trx_id"),
        F.lit("node-0").alias("trx_node"),
        (trx + 1).alias("trx_number"),
        payload_col(sp.cast("string"), seg.cast("string"), seq.cast("string")).alias("payload"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
