"""The verb surface of the reference, as pure DataFrame transformations.

Mirrors /root/reference/client.go:24-58 (Produce, Publish, Peek, Consume,
ConsumeSpace, ConsumeSegment, GetSpaces, GetSegments) with the bounds
semantics of SURVEY.md §2.2: every declared bound is `(min, max]` —
exclusive lower, inclusive upper (the intended AND-joined semantics of
/root/reference/server/azure/service.go:197-202). Offsets are exclusive
resume points over the space order (timestamp, segment, sequence)
(/root/reference/server/messages.go:119-123).

All functions take an event-log DataFrame (schema of
`streams_spark.sources.event_log`) and return DataFrames — Catalyst does
the key-range pruning the reference hand-codes into LSM iterator bounds
(/root/reference/server/pebble/service.go:270-280).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Inventory verbs (GetSpaces / GetSegments)
# ---------------------------------------------------------------------------


def get_spaces(log: DataFrame) -> DataFrame:
    """Ordered list of space names.

    Reference: materialized inventory scan (INV, SPACES, space) —
    /root/reference/server/pebble/service.go:143-146,858-864.
    """
    return log.select("space").distinct().orderBy("space")


def get_segments(log: DataFrame, space: str) -> DataFrame:
    """Ordered segment names of one space.

    Reference: /root/reference/server/pebble/service.go:201-207.
    """
    return (
        log.where(F.col("space") == space)
        .select("segment")
        .distinct()
        .orderBy("segment")
    )


def get_cluster_status(spark) -> DataFrame:
    """Informational node count — GetClusterStatus
    (/root/reference/server/pebble/service.go:136-140,
    messages.go:89: `ClusterStatus{NodeCount}`).

    The Spark analog of "active nodes" is the set of distinct executor
    hosts; in local mode that is exactly 1 (the driver), matching a
    single-node reference deployment.
    """
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    hosts = {info.host() for info in tracker.getExecutorInfos()}
    return spark.createDataFrame([(len(hosts),)], "node_count int")


# ---------------------------------------------------------------------------
# Point lookups (Peek / offsets)
# ---------------------------------------------------------------------------


def _peek_key(log: DataFrame, cols: list[str]):
    """TOTAL ordering key for peek winners: sequence first, then every
    remaining entry column with NULLs coalesced to type-minimum
    sentinels. A duplicated max sequence (corrupt re-ingest whose copies
    DISAGREE on payload — seeded-fuzz class) must resolve to the SAME
    winner in Spark and the SQL oracle; a bare max_by(…, sequence) lets
    each engine break the tie arbitrarily, and NULL fields inside a raw
    struct comparison order differently per engine, so the key is
    NULL-free by construction. Fully-identical duplicate rows still tie,
    harmlessly — every pick is the same row.

    Width (r7): string/binary fields enter the key as a 33-byte
    'v'+md5 digest, not the raw value, so the max_by agg payload stays
    fixed-size no matter how wide the payload column is (the r6
    whole-row struct roughly doubled v_peek_all's agg cost). Any
    deterministic total order works as long as BOTH engines use the
    same one — the oracle orders by the identical md5 expression. The
    'v' prefix keeps a NULL ('' after the CASE) strictly below an
    EMPTY value, a distinction the old coalesce-to-'' sentinel
    collapsed. Numeric/timestamp fields stay native: 8 bytes, exact,
    no cross-engine float-formatting hazard."""
    dtypes = dict(log.dtypes)
    fields = [F.col("sequence")]
    for c in cols:
        if c == "sequence":
            continue
        col, dt = F.col(c), dtypes[c]
        if dt in ("string", "binary"):
            fields.append(
                F.when(col.isNull(), F.lit("")).otherwise(
                    F.concat(F.lit("v"), F.md5(col))
                )
            )
        elif dt in ("double", "float"):
            fields.append(F.coalesce(col, F.lit(float("-inf"))))
        elif dt == "timestamp":
            fields.append(
                F.coalesce(col, F.to_timestamp(F.lit("1970-01-01")))
            )
        elif dt in ("bigint", "int", "smallint", "tinyint"):
            fields.append(F.coalesce(col, F.lit(-(2**62))))
        # anything unorderable (map, array-of-map, …) is left OUT of the
        # key: max_by rejects it, and the orderable prefix already
        # separates any two rows that differ in an orderable field
    return F.struct(*fields)


def peek(
    log: DataFrame, space: str, segment: str, strict: bool = False
) -> DataFrame:
    """Last entry of a segment (reverse seek to max key, decode one row).

    Reference: /root/reference/server/pebble/service.go:214-219,820-840.
    An empty/new segment yields the reference's zero-value Entry
    (`&Entry{}` at service.go:832 — sequence 0, null timestamp/payload).
    By default we keep the queried space/segment keys in the row rather
    than the zero-value's empty strings — more useful to a caller
    fanning peek over many segments, and the only divergence
    (documented in SURVEY §8.1). `strict=True` reproduces `&Entry{}`
    exactly: empty-string keys when the segment has no entries.
    Implemented as a max_by aggregation so the "no rows" case still
    produces exactly one (all-null) row to coalesce defaults onto.
    """
    cols = [c for c in log.columns if c not in ("space", "segment")]
    # ONE max_by over the packed struct, not one per column: independent
    # per-column max_by calls may break a duplicated-max-sequence tie
    # differently per column and stitch together a row that never
    # existed; the struct form always returns one coherent entry, and
    # the _peek_key total order makes WHICH entry deterministic.
    agg = (
        log.where((F.col("space") == space) & (F.col("segment") == segment))
        .agg(F.max_by(F.struct(*cols), _peek_key(log, cols)).alias("e"))
    )
    if strict:
        hit = F.col("e.sequence").isNotNull()
        key_cols = [
            F.when(hit, F.lit(space)).otherwise(F.lit("")).alias("space"),
            F.when(hit, F.lit(segment)).otherwise(F.lit("")).alias("segment"),
        ]
    else:
        key_cols = [
            F.lit(space).alias("space"),
            F.lit(segment).alias("segment"),
        ]
    return agg.select(
        *key_cols,
        *[
            F.coalesce(F.col(f"e.{c}"), F.lit(0)).alias(c)
            if c == "sequence"
            else F.col(f"e.{c}").alias(c)
            for c in cols
        ],
    )


def peek_all(log: DataFrame) -> DataFrame:
    """Last entry of every (space, segment) — the Azure backend's
    denormalized LAST_ENTRY rows (/root/reference/server/azure/service.go:399-413)
    as one aggregation: max_by over the _peek_key total order, no window
    shuffle needed.

    `sequence` is its own `F.max` beside the max_by struct of the other
    columns. It is the same value (the key's leading field is sequence),
    but as a separate aggregate it lets Catalyst's column pruning drop
    the max_by when a caller reads only (space, segment, sequence), as
    produce's tail lookup does: that scan reads segment and sequence
    alone and computes no md5 digest, instead of every column of the
    whole log."""
    cols = [c for c in log.columns if c not in ("space", "segment")]
    # single struct max_by: one coherent last entry per segment even
    # when the max sequence is duplicated, deterministic via the
    # _peek_key total order (see peek)
    rest = [c for c in cols if c != "sequence"]
    return (
        log.groupBy("space", "segment")
        .agg(
            F.max("sequence").alias("sequence"),
            F.max_by(F.struct(*rest), _peek_key(log, cols)).alias("e"),
        )
        .select("space", "segment", *[f"e.{c}" if c in rest else c for c in cols])
    )


def peek_all_tail(unnumbered: DataFrame) -> DataFrame:
    """peek_all FUSED with sequence assignment: given the event-log
    mapping WITHOUT the row_number window (event_log(numbered=False)),
    the last entry per (space, segment) is the max row under the
    numbering order, and its sequence is simply the partition row
    count — so the whole per-partition sort the window needs collapses
    into ONE partial-aggregable groupBy (count + max_by). This is the
    Spark analog of the reference's SeekLT tail read
    (/root/reference/server/pebble/service.go:820-840): O(1)-ish work
    per segment instead of materializing a numbering nobody consumes.
    At 100 TB the win is structural — no sort, and the shuffle carries
    one partial (count, argmax-struct) pair per (space, segment) per
    map task instead of every event.

    The argmax key replicates the numbering order's asc_nulls_last
    exactly: each column is (is-null flag, coalesced value), so a NULL
    sorts ABOVE every value — the position nulls-last gives it — while
    the struct comparison itself never sees a NULL field. payload stays
    RAW (not digested) because the numbering order is lexicographic on
    it; the key travels only in the per-group agg state, never row-wise
    through a shuffle, so width is harmless here."""
    null_high = [
        (
            F.col("timestamp").isNull().cast("int"),
            F.coalesce(F.col("timestamp"), F.to_timestamp(F.lit("1970-01-01"))),
        ),
        (
            F.col("event_id").isNull().cast("int"),
            F.coalesce(F.col("event_id"), F.lit(0)),
        ),
        (
            F.col("value").isNull().cast("int"),
            F.coalesce(F.col("value"), F.lit(0.0)),
        ),
        (
            F.col("payload").isNull().cast("int"),
            F.coalesce(F.col("payload"), F.lit("")),
        ),
    ]
    key = F.struct(
        *[
            e.alias(f"k{i}")
            for i, pair in enumerate(null_high)
            for e in pair
        ]
    )
    entry = F.struct("timestamp", "event_id", "user_id", "value", "payload")
    return (
        unnumbered.groupBy("space", "segment")
        .agg(
            F.count(F.lit(1)).cast("int").alias("sequence"),
            F.max_by(entry, key).alias("e"),
        )
        .select(
            "space",
            "segment",
            "sequence",
            F.col("e.timestamp").alias("timestamp"),
            F.col("e.event_id").alias("event_id"),
            F.col("e.user_id").alias("user_id"),
            F.col("e.value").alias("value"),
            F.col("e.payload").alias("payload"),
        )
    )


def get_segment_offset(log: DataFrame, space: str, segment: str) -> DataFrame:
    """Max sequence in a segment (offset key, not row) —
    /root/reference/server/pebble/service.go:209-212. An empty or
    unknown segment yields the zero-value offset 0 (the reference
    returns `&Offset{}`, and consumption then starts at sequence 1),
    not a NULL row — degenerate-fixture fuzz class."""
    return (
        log.where((F.col("space") == space) & (F.col("segment") == segment))
        .agg(
            F.coalesce(F.max("sequence"), F.lit(0)).alias("offset_sequence")
        )
    )


def get_space_offset(log: DataFrame, space: str) -> DataFrame:
    """Max (timestamp, segment, sequence) key of a space —
    /root/reference/server/pebble/service.go:148-151,842-856. An empty
    or unknown space yields the zero-value offset (epoch timestamp,
    empty segment, sequence 0) exactly as the reference's `&Offset{}`,
    rather than a NULL-field row — degenerate-fixture fuzz class."""
    m = (
        log.where(F.col("space") == space)
        .agg(
            F.max(F.struct("timestamp", "segment", "sequence")).alias("k")
        )
    )
    zero = F.struct(
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("timestamp"),
        F.lit("").alias("segment"),
        F.lit(0).alias("sequence"),
    )
    return m.select(F.coalesce(F.col("k"), zero).alias("k")).select(
        F.col("k.timestamp").alias("offset_timestamp"),
        F.col("k.segment").alias("offset_segment"),
        F.col("k.sequence").alias("offset_sequence"),
    )


# ---------------------------------------------------------------------------
# Range scans (ConsumeSegment / ConsumeSpace / Consume)
# ---------------------------------------------------------------------------


def _ts_bounds(col: str, min_ts, max_ts):
    pred = F.lit(True)
    if min_ts is not None:
        pred = pred & (F.col(col) > F.lit(min_ts))
    if max_ts is not None:
        pred = pred & (F.col(col) <= F.lit(max_ts))
    return pred


def consume_segment(
    log: DataFrame,
    space: str,
    segment: str,
    min_sequence: int | None = None,
    max_sequence: int | None = None,
    min_timestamp: _dt.datetime | None = None,
    max_timestamp: _dt.datetime | None = None,
) -> DataFrame:
    """Ordered scan of one segment, sequence & ts bounds `(min, max]`.

    Reference: EnumerateSegment — /root/reference/server/pebble/service.go:235-294
    (seq bounds become LSM key range, ts bounds are the residual TakeWhile
    filter; here both are one pushed-down predicate).
    """
    pred = (F.col("space") == space) & (F.col("segment") == segment)
    if min_sequence is not None:
        pred = pred & (F.col("sequence") > min_sequence)
    if max_sequence is not None:
        pred = pred & (F.col("sequence") <= max_sequence)
    pred = pred & _ts_bounds("timestamp", min_timestamp, max_timestamp)
    return log.where(pred).orderBy("sequence")


def consume_space(
    log: DataFrame,
    space: str,
    min_timestamp: _dt.datetime | None = None,
    max_timestamp: _dt.datetime | None = None,
    offset: tuple | None = None,
) -> DataFrame:
    """All entries of a space in (timestamp, segment, sequence) order,
    optionally resuming exclusively after `offset`.

    Reference: EnumerateSpace — /root/reference/server/pebble/service.go:165-198;
    offset resume via EncodeFirst(offset) at :185-190 becomes a tuple
    comparison predicate.
    """
    pred = (F.col("space") == space) & _ts_bounds(
        "timestamp", min_timestamp, max_timestamp
    )
    df = log.where(pred)
    if offset is not None:
        ts, seg, seq = offset
        df = df.where(
            F.struct("timestamp", "segment", "sequence")
            > F.struct(
                F.lit(ts).alias("timestamp"),
                F.lit(seg).alias("segment"),
                F.lit(seq).cast("long").alias("sequence"),
            )
        )
    return df.orderBy("timestamp", "segment", "sequence")


def consume(
    log: DataFrame,
    offsets: dict[str, tuple | None],
    min_timestamp: _dt.datetime | None = None,
    max_timestamp: _dt.datetime | None = None,
) -> DataFrame:
    """K-way time-interleaved merge of several spaces — the reference's only
    join-like operator (enumerators.Interleave by Timestamp —
    /root/reference/server/pebble/service.go:394-407).

    In Spark the per-space scans union and a single sort produces the
    interleaved order; Catalyst turns the OR-of-space-predicates into one
    scan with partition pruning.
    """
    pred = F.lit(False)
    for space, offset in offsets.items():
        p = F.col("space") == space
        if offset is not None:
            ts, seg, seq = offset
            p = p & (
                F.struct("timestamp", "segment", "sequence")
                > F.struct(
                    F.lit(ts).alias("timestamp"),
                    F.lit(seg).alias("segment"),
                    F.lit(seq).cast("long").alias("sequence"),
                )
            )
        pred = pred | p
    df = log.where(pred & _ts_bounds("timestamp", min_timestamp, max_timestamp))
    return df.orderBy("timestamp", "space", "segment", "sequence")


# ---------------------------------------------------------------------------
# Produce-path validation
# ---------------------------------------------------------------------------


def sequence_violations(log: DataFrame) -> DataFrame:
    """Per-segment gapless-sequence conformance (batch form of the produce
    validation `record.Sequence == lastSequence+1` —
    /root/reference/server/pebble/service.go:345-363).

    Returns one row per (space, segment) with the max sequence, entry count
    and number of contiguity violations (0 == valid gapless stream starting
    at 1).
    """
    w = Window.partitionBy("space", "segment").orderBy("sequence")
    lagged = log.withColumn("prev_seq", F.lag("sequence").over(w))
    return lagged.groupBy("space", "segment").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.max("sequence").alias("max_sequence"),
        F.sum(
            F.when(
                F.col("sequence")
                != F.coalesce(F.col("prev_seq"), F.lit(0)) + F.lit(1),
                1,
            ).otherwise(0)
        ).alias("violations"),
    )


# ---------------------------------------------------------------------------
# Write verbs (Produce / Publish)
# ---------------------------------------------------------------------------


def produce(
    records: DataFrame,
    log_dir: str,
    last_sequences: DataFrame | None = None,
    hub=None,
) -> list:
    """Validated, transactional bulk append; returns SegmentStatus rows.

    Reference: Produce — /root/reference/client.go:126-147 with the server
    pipeline of server/pebble/service.go:296-335 (peek tails → validate
    `seq == last+1` → commit batch → notify). Here: ONE checkpoint of the
    records, so validation and the write read the same rows; ONE
    validation aggregate (`validate_batch`), whose collect is also the
    SegmentStatus; ONE atomic `partitionBy('space')` parquet append of
    the stamped checkpoint (`stamp_records`: current_timestamp(),
    trx_id, trx_node, and trx_number from the sorted status rows) — the
    durable commit; then post-commit hub notification. Rejects the WHOLE
    batch on any contiguity violation, NULL sequences included, like
    ERR_SEQUENCE_MISMATCH aborts the reference's transaction.

    records: (space, segment, sequence, payload). last_sequences:
    (space, segment, last_sequence) — pass `peek_all` output of the
    current log, or None for an empty log.
    """
    from streams_spark.store import write_event_log
    from streams_spark.streaming.produce import stamp_records, validate_batch

    batch = records.localCheckpoint()
    status = validate_batch(batch, last_sequences)
    # canonical layout by contract (partitioned by space, files sorted
    # by segment/sequence), not incidentally via upstream sort order
    write_event_log(stamp_records(batch, status), log_dir)
    if hub is not None:
        hub.notify_batch(-1, [r.asDict() for r in status])
    return status


def publish(
    spark,
    log_dir: str,
    space: str,
    segment: str,
    payload: bytes,
    log: DataFrame | None = None,
    hub=None,
) -> list:
    """Single-event append with auto-assigned next sequence.

    Reference: Publish — /root/reference/client.go:149-178 (peek last →
    Sequence+1 → one-record Produce). Both one-row frames plan as
    LocalRelations (`local_frame`), so a publish starts no Python workers.
    """
    from streams_spark.streaming.produce import local_frame

    last = 0
    if log is not None:
        last = get_segment_offset(log, space, segment).collect()[0].offset_sequence
    rec = local_frame(
        spark,
        [(space, segment, last + 1, payload)],
        "space string, segment string, sequence long, payload binary",
    )
    tails = local_frame(
        spark,
        [(space, segment, last)],
        "space string, segment string, last_sequence long",
    )
    return produce(rec, log_dir, last_sequences=tails, hub=hub)
