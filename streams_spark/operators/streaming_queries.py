"""Streaming operators surfaced as driver-checkable queries.

Every streaming row is a Structured Streaming query over bounded input,
run to completion under Trigger.AvailableNow: the reference's
ConsumerContext loop "enumerate from offset, drain, stop" (SURVEY.md
§2.5). Two runners own that primitive, and no row writes it out itself:

- `_drain(df, output_mode)` runs the query into a memory sink and
  returns the sink's rows;
- `_fold(stream, step, empty_schema)` folds the micro-batches through
  foreachBatch, `state = step(state, batch).localCheckpoint()`.

Both hold the state-store shuffle cap (`_STATE_SHUFFLE_CAP`) from
start() to awaitTermination() only. The oracle is plain SQL: batch and
streaming must agree on AvailableNow (bounded input ⇒ identical
results).

st_session_window / st_sliding_window use the event-time window operators
Structured Streaming shares with batch (F.session_window / F.window with
slide), verified against explicit SQL formulations.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_spark.operators import finite_or_null
from streams_spark.registry import register
from streams_spark.session import scoped_conf
from streams_spark.sources.feed_cache import cached_feed as _cached_feed
from streams_spark.sources.tables import load_table

_SHUFFLE_CONF = "spark.sql.shuffle.partitions"
_STATE_SHUFFLE_CAP = 8
_sink_ids = itertools.count()


def _run_available_now(spark: SparkSession, writer) -> None:
    """Start `writer` under Trigger.AvailableNow and wait for it to
    finish, with the shuffle width lowered to at most _STATE_SHUFFLE_CAP
    for exactly that span. Stateful streaming ops disable AQE and keep
    one state store per shuffle partition, fixed at query start: under
    a bare session's default 200 partitions that is 200 stores per
    stateful op for MB-scale micro-batches. st_tumbling_stream at sf0.1
    measured 1.40 s at 32 partitions vs 0.81 s at 8 (0.73 s at 4; 8
    keeps headroom for state growth); a stream-stream join keeps four
    stores per partition and measured 13.4 s at 32 vs 2.8 s at 8 for
    the same 9-row sf0.01 result. foreachBatch steps run inside the
    await, so they see the cap too. The cap must not outlive the query:
    the conf also seeds AQE's initial partition count for every later
    batch query. A real deployment sizes it to event rate x watermark
    horizon instead."""
    width = min(_STATE_SHUFFLE_CAP, int(spark.conf.get(_SHUFFLE_CONF)))
    with scoped_conf(spark, _SHUFFLE_CONF, width):
        writer.trigger(availableNow=True).start().awaitTermination()


def _drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Run streaming `df` to completion into a memory sink and return
    the sink's rows. The sink's temp view is dropped on the way out: the
    returned frame reads the sink directly, so its rows live as long as
    the frame does, not for the rest of the session."""
    spark = df.sparkSession
    sink = f"drain_{next(_sink_ids)}"
    writer = (
        df.writeStream.outputMode(output_mode).format("memory").queryName(sink)
    )
    try:
        _run_available_now(spark, writer)
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def _fold(
    stream: DataFrame, step, empty_schema, output_mode: str = "append"
) -> DataFrame:
    """Fold the micro-batches of streaming `stream` through foreachBatch:
    `state = step(state, batch).localCheckpoint()` per batch, with state
    None before the first. The checkpoint runs each step NOW, while its
    batch exists (a lazy plan would re-read the feed after later batches
    land), and cuts lineage between batches. Returns the final state, or
    an empty frame of `empty_schema` when the source produced no batch."""
    spark = stream.sparkSession
    state = None

    def apply(batch: DataFrame, batch_id: int) -> None:
        nonlocal state
        state = step(state, batch).localCheckpoint()

    writer = stream.writeStream.outputMode(output_mode).foreachBatch(apply)
    _run_available_now(spark, writer)
    if state is None:
        return spark.createDataFrame([], empty_schema)
    return state


def _ranged_stream(df: DataFrame, col: str, sf_dir: str, op: str, key: str):
    """Stage `df` once as three files range-partitioned on `col` (cached
    per (sf_dir, op, key) and source vintage) and stream it one file per
    trigger: three micro-batches in `col` order, so fold state genuinely
    evolves batch over batch."""
    feed = _cached_feed(
        sf_dir,
        op,
        key,
        lambda d: df.repartitionByRange(3, col).write.mode("overwrite").parquet(d),
    )
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )


def _events_schema(spark: SparkSession, sf_dir: str):
    """Raw events schema for building a readStream, safe in a BARE
    session: nanos-vintage events.parquet is TIMESTAMP(NANOS), which
    Spark rejects unless the nanosAsLong conf is set before the first
    raw read (the round-1 lesson from sources/tables.py — do not rely
    on an earlier load_table call having set it session-wide)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from streams_spark.sources.tables import read_parquet_memo

    return read_parquet_memo(spark, f"{sf_dir}/events.parquet").schema


def _events_stream(spark: SparkSession, sf_dir: str, schema=None) -> DataFrame:
    """File-streamed events table with `ts` normalized to a
    micro-precision LTZ timestamp regardless of the file's vintage
    (TIMESTAMP(NANOS) read as epoch-nanos long under the legacy conf,
    or TIMESTAMP(MICROS) read as NTZ — see sources/tables.py; watermarks
    and unix_micros require the LTZ TIMESTAMP type).

    Layout-robust: `events.parquet` may be a single FILE (the testdata
    layout — streamed from its parent dir under a glob, since
    FileStreamSource wants a directory) or a DIRECTORY of part files (a
    real table layout — streamed directly). The glob-only form reads a
    directory-shaped table as silently EMPTY (pathGlobFilter matches
    leaf file names, never `part-*` inside the dir), which is how a
    stress-harness bug once timed zero-row streaming queries."""
    import os

    from streams_spark.sources.tables import _normalize_event_ts

    if schema is None:
        schema = _events_schema(spark, sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return stream.withColumn("ts", _normalize_event_ts(schema["ts"].dataType))


_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum("value"), 2) AS total_value
FROM events WHERE ts IS NOT NULL
GROUP BY window_start, event_type
"""


@register("st_tumbling_stream", oracle=_TUMBLING_ORACLE)
def st_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts computed by an actual streaming query
    (Trigger.AvailableNow, complete mode, memory sink)."""
    # FileStreamSource needs a directory: stream the sf dir with a glob
    # filter selecting only the events table.
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _drain(agg, "complete").select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST)
), numbered AS (
  -- ordering key (ts, event_id), same tie-break as `flagged`: with duplicate
  -- (user_id, ts) rows a ts-only ROWS frame is nondeterministic and could
  -- split sessions differently from F.session_window
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


@register("st_session_window", oracle=_SESSION_ORACLE)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (30 min gap) — Spark's native session operator;
    session end = last event + gap, matching the SQL formulation.

    Batch twin (no .start(), no state store): the genuinely streaming
    stateful session op is st_session_stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


_SLIDING_ORACLE = """
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL 1 HOUR, ts),
                 time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR])
             AS window_start,
         event_type, "value"
  FROM events WHERE ts IS NOT NULL
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(sum("value"), 2) AS total_value
FROM expanded
GROUP BY window_start, event_type
"""


@register("st_sliding_window", oracle=_SLIDING_ORACLE)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour (each event lands in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_WATERMARK_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       count(*) AS n_events,
       floor(avg(CASE WHEN isfinite("value") THEN "value" END)
             * 10000 + 0.5) / 10000 AS avg_value
FROM events
GROUP BY window_start
HAVING window_start + INTERVAL 1 HOUR
       <= (SELECT max(ts) - INTERVAL 15 MINUTE FROM events)
"""


@register("st_watermark_late", oracle=_WATERMARK_ORACLE)
def st_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time aggregation (withWatermark + append mode) —
    the late-data semantics the reference lacks entirely (SURVEY.md §2.5:
    its space index keys on server-assigned arrival time; disorder is
    bounded only by write latency).

    With Trigger.AvailableNow over one bounded input, no row arrives
    late, and append mode emits exactly the windows the final watermark
    (max event time - 15 min) has closed — the last open window stays in
    state. The oracle asserts precisely that: batch aggregation minus
    windows ending after max(ts) - 15 min. In continuous operation the
    same query drops rows later than the watermark and evicts state for
    closed windows, keeping the state store bounded regardless of stream
    length (the 100 TB concern for any infinite aggregation).
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor rule: value is exactly 2dp, so the average is an
            # integer-cents ratio with possible exact 4dp midpoints;
            # finite_or_null: non-finite readings are missing (r9 class)
            (
                F.floor(
                    F.avg(finite_or_null(F.col("value"))) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("avg_value"),
        )
    )
    return _drain(agg, "append").select(
        F.col("win.start").alias("window_start"), "n_events", "avg_value"
    )


_STREAM_JOIN_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
"""


@register("st_stream_join", oracle=_STREAM_JOIN_ORACLE)
def st_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks within 10 min before a purchase by
    the same user), both sides watermarked — Structured Streaming buffers
    each side in the state store and the time-interval condition bounds
    how long: click state older than (watermark - 10 min) is evicted, so
    state stays proportional to the interval x rate, not the stream
    length. With AvailableNow over bounded input nothing is late, so the
    result equals the batch interval join the oracle states.
    """
    schema = _events_schema(spark, sf_dir)

    def side(event_type: str, prefix: str):
        return (
            _events_stream(spark, sf_dir, schema)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    return _drain(joined, "append").select(
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("p_user").alias("user_id"),
        F.col("c_ts").alias("click_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )


from streams_spark.sources.event_log import EVENT_LOG_CTE, event_log  # noqa: E402

_SEQ_STATE_ORACLE = (
    EVENT_LOG_CTE
    + """
SELECT space, segment,
       count(*) AS n_ok,
       CAST(0 AS BIGINT) AS n_violations,
       max(sequence) AS last_sequence
FROM events_log
GROUP BY space, segment
"""
)


@register("st_sequence_state", oracle=_SEQ_STATE_ORACLE)
def st_sequence_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming: per-segment gapless-sequence
    validation with applyInPandasWithState (the reference's produce-time
    `seq == last+1` check, with last_sequence living in the state store
    across micro-batches — SURVEY.md §2.5 'Stateful ops').

    The event log (gapless by construction) is staged to parquet, then
    re-read as a stream and validated under AvailableNow: every row must
    be accepted (n_ok == segment count, zero violations, last == max) —
    which is what the oracle asserts relationally.
    """
    from streams_spark.streaming.state import streaming_sequence_validation

    log = event_log(spark, sf_dir).select(
        "space", "segment", "sequence", "timestamp"
    )
    # staged through the shared feed cache (built once per source
    # vintage) — a fresh mkdtemp per call would leak one parquet copy
    # of the log per invocation and re-pay the staging write every run
    stage_dir = _cached_feed(
        sf_dir,
        "seqstate",
        "v1|space,segment,sequence,timestamp",
        lambda d: log.write.mode("overwrite").parquet(d),
    )
    stream = spark.readStream.schema(log.schema).parquet(stage_dir)
    return _drain(streaming_sequence_validation(stream), "append")


_STREAM_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
       round(e."value", 4) AS value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id % 1000
WHERE e.event_type = 'purchase'
"""


@register("st_stream_enrich", oracle=_STREAM_ENRICH_ORACLE)
def st_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming side joins a static
    dimension snapshot per micro-batch — no state store involved (only
    stream-stream joins buffer), so this scales as a plain broadcast/
    shuffle join per batch. The canonical 'attach user profile to each
    event' pipeline stage.
    """
    # layout-robust helper, not the raw glob form: pathGlobFilter
    # matches leaf file names only, so a directory-shaped events.parquet
    # would read as silently EMPTY (see _events_stream's docstring)
    stream = _events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        customer, customer.c_custkey == stream.user_id % 1000
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "c_mktsegment",
        F.round("value", 4).alias("value"),
    )
    return _drain(joined, "append")


_STREAM_DEDUP_ORACLE = """
-- || not concat: DuckDB's concat SKIPS NULLs where Spark's
-- null-propagates, so a NULL user_id must hash to NULL on both sides
-- and dedup to ONE null-key row (null-key fuzz class r7)
SELECT DISTINCT md5(CAST(user_id AS VARCHAR) || ':' || event_type)
    AS content_hash
FROM events
"""


@register("st_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on a content hash — the
    exactly-once ingestion gate of a training-data pipeline. Output is
    the distinct key set, order-independent, equal to the batch
    DISTINCT the oracle states.

    State honesty: because the dedup key does NOT include the event-time
    column, dropDuplicates keeps every seen key forever — the watermark
    here bounds late input, not this operator's state (the documented
    Spark gotcha). That is exactly what makes the output equal global
    DISTINCT. The bounded-state variant is dropDuplicatesWithinWatermark
    (state evicted at firstSeen + delay), which a 100 TB deployment
    would use — accepting that a key recurring AFTER expiry re-emits,
    so its output is only horizon-distinct, not global-distinct. For
    unbounded streams where global exactness matters, the right shape is
    the idempotent ledger sink (streaming/produce.py) keyed on content
    hash in the store itself.
    """
    schema = _events_schema(spark, sf_dir)
    stream = (
        _events_stream(spark, sf_dir, schema)
        .withColumn(
            "content_hash",
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":"), "event_type")),
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["content_hash"])
        .select("content_hash")
    )
    return _drain(stream, "append")


_STREAM_TOPK_ORACLE = """
WITH agg AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
         count(*) AS n_events, round(sum("value"), 2) AS total_value
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, total_value,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY total_value DESC, event_type NULLS LAST) AS rnk
  FROM agg
) WHERE rnk <= 3
"""


@register("st_stream_topk", oracle=_STREAM_TOPK_ORACLE)
def st_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hour by revenue, computed by a streaming
    query. Ranking windows are UNSUPPORTED on streaming DataFrames
    (Spark raises on row_number over a stream), so this demonstrates the
    canonical pattern: stream the aggregation (complete mode), rank
    inside the foreachBatch sink where the micro-batch is a plain batch
    DataFrame. The reference's closest relative is Peek's per-segment
    top-1 (/root/reference/server/pebble/service.go:820-840) recomputed
    on every notification; here the incremental engine maintains the agg
    state and the sink re-ranks the (windows x event_types)-sized
    aggregate — NOT the event stream — each trigger.

    Scale: state is bounded by (n_windows x n_event_types); the ranked
    frame the sink sorts is aggregate-sized, and the checkpointed top-k
    it keeps is k rows per window, not data. total_value is rounded
    BEFORE ranking so the (value DESC, event_type) order is
    engine-stable.
    """
    from pyspark.sql.window import Window

    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # NULL event_type pin (r8 fuzz): the ASC tie-break diverges on the
    # NULL-type group (Spark nulls-first vs DuckDB nulls-last); pin to
    # nulls-last, matching the oracle's default.
    w = Window.partitionBy("window_start").orderBy(
        F.desc("total_value"), F.col("event_type").asc_nulls_last()
    )

    def rank(_prev, batch: DataFrame) -> DataFrame:
        # complete mode: each trigger carries the full aggregate, so the
        # last batch's ranking IS the answer; rows are k-bounded.
        return (
            batch.select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
        )

    return _fold(
        agg,
        rank,
        "window_start timestamp, event_type string, n_events long, "
        "total_value double, rnk int",
        output_mode="complete",
    )


# ---------------------------------------------------------------------------
# Custom stateful op: streaming running stats per user (integer moments)
# ---------------------------------------------------------------------------

_RUNNING_STATS_ORACLE = """
WITH c AS (
  -- NULL/NaN/Inf value = no measurement: skipped entirely, not counted
  -- (fuzz finding r6; isfinite mirrors the engine's math.isfinite skip
  -- so a NaN row cannot error the CAST here while the engine drops it,
  -- ADVICE r6) — isfinite(NULL) is NULL, so it subsumes IS NOT NULL
  SELECT user_id, CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE isfinite("value")
), a AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM c GROUP BY user_id
)
SELECT user_id, n_events,
       floor(CAST(s AS DOUBLE) / n_events / 100 * 10000 + 0.5) / 10000
           AS mean_value,
       floor((CAST(ss AS DOUBLE) / n_events
              - (CAST(s AS DOUBLE) / n_events) * (CAST(s AS DOUBLE) / n_events))
             / 10000 * 10000 + 0.5) / 10000
           AS var_value
FROM a
"""


@register("st_running_stats", oracle=_RUNNING_STATS_ORACLE)
def st_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running mean/variance maintained ACROSS micro-batches in
    the state store via applyInPandasWithState — the custom-stateful-op
    shape for online feature stats. State per key is three INTEGER
    moments (n, Σcents, Σcents²) over the value quantized to cents with
    the identical floor(v*100+0.5) both engines compute: integer
    accumulation is exact and ORDER-FREE, so the streaming fold (stream
    arrival order) and the oracle's batch aggregate (scan order) cannot
    drift by a single ulp — a float accumulator (Welford or naive) is
    order-sensitive and was measured flipping a 4dp rounding boundary
    for one user on this very corpus. Mean/variance derive from the
    exact moments through the same IEEE op sequence in both engines.

    Scale: state is O(keys), not O(events); the shuffle is the one
    groupBy(user) the stateful operator requires, capped per the
    state-store sizing note in SCALING.md. Integer moments also make
    state MERGEABLE (add the tuples) — the same property q_hll_union
    exploits for cardinality.
    """
    import pandas as pd  # noqa: F811 — worker-side import parity
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, sf_dir)

    def upd(key, pdfs, state: GroupState):
        import math

        (user,) = key
        n, s, ss = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            for v in pdf["value"]:
                if v is None or not math.isfinite(v):
                    # NULL/NaN/Inf = no measurement (fuzz finding r6;
                    # Inf added ADVICE r6 to mirror the oracle isfinite)
                    continue
                c = int(math.floor(v * 100 + 0.5))
                n += 1
                s += c
                ss += c * c
        state.update((n, s, ss))
        if n == 0:
            # every value so far was NULL: no measurements, no row —
            # matching the oracle's WHERE-filtered aggregate
            return
        mc = float(s) / n
        yield pd.DataFrame(
            [
                {
                    "user_id": user,
                    "n_events": n,
                    "mean_raw": mc / 100,
                    "var_raw": (float(ss) / n - mc * mc) / 10000,
                }
            ]
        )

    out = stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType=(
            "user_id long, n_events long, mean_raw double, var_raw double"
        ),
        stateStructType="n long, s long, ss long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from pyspark.sql.window import Window

    snap = _drain(out, "append")
    # one snapshot row per (user, micro-batch): keep the LAST (= final
    # running value; with one bounded batch this is the only row)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.floor(F.col("mean_raw") * 10000 + F.lit(0.5)) / 10000).alias(
                "mean_value"
            ),
            (F.floor(F.col("var_raw") * 10000 + F.lit(0.5)) / 10000).alias(
                "var_value"
            ),
        )
    )


_FLAGSHIP_STREAM_ORACLE = """
SELECT date_trunc('hour', e.ts) AS window_start,
       e.event_type AS space,
       c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e."value"), 2) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id % 1000
WHERE e.event_type IN ('click', 'purchase', 'error')
  AND e.ts <= TIMESTAMP '2024-01-22 00:00:00'
GROUP BY 1, 2, 3
"""


@register("st_flagship_stream", oracle=_FLAGSHIP_STREAM_ORACLE)
def st_flagship_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the flagship (`v_flagship_consume_enrich`):
    the same space filter + time clamp + dimension enrich + hourly
    revenue rollup, but as an actual Structured Streaming query
    (AvailableNow, complete mode) — stream-static broadcast join per
    micro-batch feeding a windowed stateful aggregate. Divergence from
    the batch flagship, stated: per-segment sequence numbers need a
    global row_number over the log mapping and are not streamable, so
    the streaming twin rolls up (space, hour, segment) WITHOUT
    max_sequence — the exact trade a live dashboard makes vs a batch
    replay.

    Scale: the dimension joins map-side (broadcast snapshot per batch,
    no state); only the hourly aggregate holds state, bounded by
    |spaces| x |segments| x open windows."""
    stream = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type").isin("click", "purchase", "error"))
        .where(F.col("ts") <= F.lit("2024-01-22 00:00:00").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(customer), customer.c_custkey == stream.user_id % 1000
    )
    agg = joined.groupBy(
        F.window("ts", "1 hour").alias("win"),
        F.col("event_type").alias("space"),
        "c_mktsegment",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return _drain(agg, "complete").select(
        F.col("win.start").alias("window_start"),
        "space",
        "c_mktsegment",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Spark 4 transformWithState: per-user event-type profile via MapState
# ---------------------------------------------------------------------------

_TWS_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(n) AS BIGINT) AS n_events
  FROM c GROUP BY user_id
), t AS (
  SELECT user_id, event_type AS top_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type NULLS LAST) AS rn
  FROM c
)
SELECT a.user_id, a.n_types, a.n_events, t.top_type
-- IS NOT DISTINCT FROM: the NULL user is a real state key in the
-- engine's keyed fold; a plain equi-join would drop its profile row
-- here (null-key fuzz class r7)
FROM a JOIN t ON t.user_id IS NOT DISTINCT FROM a.user_id AND t.rn = 1
"""

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


_TWS_OUT = "user_id long, n_types long, n_events long, top_type string"


def has_transform_with_state() -> bool:
    """Spark 4's transformWithState drives its Python<->JVM state server
    over protobuf; this container ships pyspark without the `protobuf`
    package (the API crashes in StateMessage_pb2 import), so the real
    path is guarded exactly like the multimodal Pillow codec
    (multimodal.py): activated when the dependency exists, with a
    semantics-identical fallback otherwise.

    Why the dependency is genuinely unreachable in this sandbox (and a
    stdlib shim is not honest to attempt): pyspark's generated
    `sql/streaming/proto/StateMessage_pb2.py` is not a self-contained
    codec — it (1) calls `runtime_version.ValidateProtobufRuntimeVersion`
    pinning protobuf gencode 6.33.0 against the installed runtime, then
    (2) feeds a serialized FileDescriptorProto into
    `descriptor_pool`/`internal.builder` to MANUFACTURE the message
    classes at import time, and (3) the worker-side state client then
    round-trips those messages over a socket to the JVM, which parses
    them with the Java protobuf runtime — so the Python side must be
    wire-format complete (varint/zigzag/length-delimited submessages,
    field presence, enum semantics), i.e. the full ~15 kLoC pure-Python
    protobuf runtime, not a varint encoder. Vendoring a fake
    `google.protobuf` that imports cleanly would convert an honest skip
    into a runtime wire-protocol crash inside the streaming worker.
    The fallback (`applyInPandasWithState` fold) is asserted
    semantics-identical in tests/test_streaming.py.

    CLOSED (r9): every closure route is exhausted and recorded in
    TWS_IMPOSSIBILITY.md — no installed runtime anywhere on the box
    (typeshed stubs only), installs forbidden AND the pip index
    unreachable (verified DNS failure), shim dishonest per the wire
    analysis above. On any real Spark 4 deployment the dependency
    exists and this gate activates the real path unchanged."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


# NULL event_type contract (r8 fuzz): the SQL oracle's GROUP BY keeps
# the NULL type as a real class, but (a) pandas groupby drops NaN keys
# by default and (b) Spark map state forbids NULL map keys — so both
# state folds count the NULL class under a sentinel key and translate
# back on emit. The modal tie-break ranks the NULL class AFTER every
# real type at equal count, matching the oracle's `ORDER BY n DESC,
# event_type` under DuckDB's nulls-last default.
_NULL_TYPE = "\x00<null>"


def _count_types(pdf) -> list[tuple[str, int]]:
    import pandas as pd

    return [
        (_NULL_TYPE if pd.isna(et) else et, int(n))
        for et, n in pdf.groupby("event_type", dropna=False).size().items()
    ]


def _modal_type(pairs) -> str | None:
    top = min(pairs, key=lambda p: (-p[1], p[0] == _NULL_TYPE, p[0]))[0]
    return None if top == _NULL_TYPE else top


def _type_profile_tws(stream: DataFrame, spark: SparkSession) -> DataFrame:
    """Real path: keyed MapState via Spark 4 StatefulProcessor. Requires
    the RocksDB state-store provider (mandated by transformWithState);
    the caller scopes-and-restores the provider conf."""
    import pandas as pd  # noqa: F811 — worker-side import parity
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user,) = key
            for pdf in rows:
                for et, n in _count_types(pdf):
                    cur = (
                        self._counts.getValue((et,))[0]
                        if self._counts.containsKey((et,))
                        else 0
                    )
                    self._counts.updateValue((et,), (cur + n,))
            pairs = [(k[0], v[0]) for k, v in self._counts.iterator()]
            n_events = sum(n for _, n in pairs)
            top = _modal_type(pairs)
            yield pd.DataFrame(
                [
                    {
                        "user_id": user,
                        "n_types": len(pairs),
                        "n_events": n_events,
                        "top_type": top,
                    }
                ]
            )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=TypeProfile(),
            outputStructType=_TWS_OUT,
            outputMode="Append",
            timeMode="None",
        )
    )


def _type_profile_legacy(stream: DataFrame, spark: SparkSession) -> DataFrame:
    """Fallback path: the identical profile fold on the legacy
    applyInPandasWithState API, state = the same map serialized as a
    map<string,long> GroupState cell. Output is bit-identical to the
    real path: integer counts are order-free and the modal tie-break is
    the same (-count, type) key."""
    import pandas as pd  # noqa: F811 — worker-side import parity
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def upd(key, pdfs, state: GroupState):
        (user,) = key
        counts = dict(state.get[0]) if state.exists else {}
        for pdf in pdfs:
            for et, n in _count_types(pdf):
                counts[et] = counts.get(et, 0) + n
        state.update((counts,))
        top = _modal_type(list(counts.items()))
        yield pd.DataFrame(
            [
                {
                    "user_id": user,
                    "n_types": len(counts),
                    "n_events": sum(counts.values()),
                    "top_type": top,
                }
            ]
        )

    return (
        stream.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            upd,
            outputStructType=_TWS_OUT,
            stateStructType="counts map<string,long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register("st_transform_with_state", oracle=_TWS_ORACLE)
def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type profile (distinct types, total events, modal
    type) maintained in keyed map state — on Spark 4's transformWithState
    (typed MapState, the successor API to applyInPandasWithState) when
    its protobuf dependency is importable, else on a semantics-identical
    applyInPandasWithState fold (st_running_stats keeps dedicated
    legacy-API coverage). This is the ConsumerContext-with-per-key-state
    shape of the reference's produce validation
    (/root/reference/server/pebble/service.go:309-313: last-seen state
    per segment consulted on every chunk), generalized to a typed,
    TTL-capable state cell per key.

    Determinism for the oracle: state holds integer counts keyed by
    event_type — integer addition is order-free, so stream arrival order
    cannot change the final map; the modal type breaks count ties
    lexicographically, matching the SQL row_number tie-break exactly.
    Both paths emit the identical frame, so the oracle gates whichever
    one the environment selects.

    Scale: state is O(users x |event types|) with |types| small and
    fixed; the one shuffle is the groupBy(user) the stateful operator
    requires (capped, see _run_available_now). transformWithState
    mandates the RocksDB state-store provider, which spills cold keys to
    disk instead of pinning the whole store on-heap — at 100 TB that
    (plus changelog checkpointing) is what keeps billions of keys
    feasible; the conf is scoped to the run so batch queries in the same
    session keep the default HDFS-backed provider.
    """
    from pyspark.sql.window import Window

    stream = _events_stream(spark, sf_dir)
    if has_transform_with_state():
        with scoped_conf(spark, _PROVIDER_CONF, _ROCKSDB):
            snap = _drain(_type_profile_tws(stream, spark), "append")
    else:
        snap = _drain(_type_profile_legacy(stream, spark), "append")
    # one snapshot per (user, micro-batch); keep the final running value
    # (sole row under one bounded AvailableNow batch)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply: foreachBatch merge (upsert + delete) across batches
# ---------------------------------------------------------------------------

_CDC_APPLY_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, "value", ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, round("value", 2) AS last_value, ts AS updated_at
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


@register("st_cdc_apply", oracle=_CDC_APPLY_ORACLE)
def st_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming-sink pattern the memory-sink family
    cannot show: a change feed applied to a keyed state table with
    MERGE semantics inside foreachBatch — upserts (any event) and
    deletes (event_type='error' tombstones), folded across MULTIPLE
    micro-batches (the feed is staged as 3 time-ranged files read with
    maxFilesPerTrigger=1, so state genuinely evolves batch over batch).
    Each batch reduces to its per-key last writer, then merges with the
    prior state by (ts, event_id) recency — commutative over batches,
    so arrival order cannot change the fixpoint; the oracle is the
    single-window last-writer-wins over the whole feed. This is the
    Spark shape of the reference's inventory upsert + 2PC apply
    (/root/reference/server/pebble/service.go:450-507) generalized to
    keyed row state; with Delta/Iceberg the inner merge becomes
    MERGE INTO and the rest is unchanged.

    Scale: per batch, one shuffle to the per-key last writer + one
    merge join against state; state stays table-sized (keys), batches
    stream through. The version-dir swap is the poor-man's ACID commit
    — a table format replaces it in production."""
    from pyspark.sql.window import Window

    schema = _events_schema(spark, sf_dir)
    from streams_spark.sources.tables import _normalize_event_ts

    batch_ev = (
        spark.read.schema(schema)
        .parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    # 3 time-ranged files -> 3 micro-batches; version + projected schema
    # in the key: a code change to either must invalidate the persisted
    # feed (the q_incremental_agg rule)
    stream = _ranged_stream(
        batch_ev, "ts", sf_dir, "cdc", "ts3|v2|event_id,ts,user_id,event_type,value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def apply_batch(cur, bdf: DataFrame) -> DataFrame:
        # ONE last-writer window over (state ∪ raw batch) — the r11
        # shape pre-reduced the batch with its own window first, but
        # (ts, event_id)-argmax per key is associative, so the fused
        # window emits the identical merged rows with one fewer
        # shuffle+stage per micro-batch (and shuffles the same batch
        # bytes once instead of twice). Still commutative over batches
        # and idempotent under foreachBatch redelivery.
        base = bdf if cur is None else cur.unionByName(bdf)
        return (
            base.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    # zero micro-batches (empty events source) fold to an empty state
    # table, which projects to the contract schema below
    final = _fold(stream, apply_batch, batch_ev.schema)
    return final.where(F.col("event_type") != "error").select(
        "user_id",
        F.round("value", 2).alias("last_value"),
        F.col("ts").alias("updated_at"),
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch: counters built per batch, merged elementwise
# ---------------------------------------------------------------------------

_CMS_PROBES = ("table", "join", "scan", "value", "data")


def _cms_stream_oracle() -> str:
    from streams_spark.operators.text import CMS_A, CMS_B, CMS_D, CMS_P, CMS_W

    probes = ", ".join(f"'{t}'" for t in _CMS_PROBES)
    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), h AS (
  SELECT t, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS x FROM tok
), rows_ AS (
  SELECT r.r, a.a, b.b
  FROM (SELECT unnest(range({CMS_D})) AS r) r
  JOIN (SELECT unnest(range({CMS_D})) AS r, unnest({CMS_A!r}) AS a) a
    ON a.r = r.r
  JOIN (SELECT unnest(range({CMS_D})) AS r, unnest({CMS_B!r}) AS b) b
    ON b.r = r.r
), counters AS (
  SELECT rows_.r, ((rows_.a * h.x + rows_.b) % {CMS_P}) % {CMS_W} AS slot,
         CAST(count(*) AS BIGINT) AS cnt
  FROM h CROSS JOIN rows_
  GROUP BY 1, 2
), probe AS (
  SELECT t AS term,
         CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS x
  FROM (SELECT unnest([{probes}]) AS t)
)
SELECT p.term, min(coalesce(c.cnt, 0)) AS est_count
FROM probe p
CROSS JOIN rows_
LEFT JOIN counters c
  ON c.r = rows_.r
 AND c.slot = ((rows_.a * p.x + rows_.b) % {CMS_P}) % {CMS_W}
GROUP BY p.term
"""


@register("st_cms_merge", oracle=_cms_stream_oracle())
def st_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained OVER A STREAM: each micro-batch (the
    documents corpus staged as 3 files, maxFilesPerTrigger=1) builds its
    own DxW counter table and foreachBatch merges it into the running
    sketch by elementwise addition — the mergeability that makes CMS the
    streaming heavy-hitter structure (t_cms_heavy is the batch twin; the
    same property powers every partial-agg combine). Counter addition
    commutes, so the 3-batch fold equals the whole-corpus sketch and the
    batch-built oracle value-checks the streamed result exactly: the
    final probe estimates for {len(_CMS_PROBES)} fixed terms.

    Scale: per batch one partial-agg'd shuffle to <= DxW rows; the
    running state IS the sketch — 2048 longs per stream, regardless of
    corpus or batch count."""
    from streams_spark.operators.text import (
        CMS_A,
        CMS_B,
        CMS_D,
        CMS_P,
        CMS_W,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _ranged_stream(docs, "doc_id", sf_dir, "doccms", "id3|v2|doc_id,text")

    def slot(r: int, x):
        return ((F.lit(CMS_A[r]) * x + F.lit(CMS_B[r])) % CMS_P) % CMS_W

    def to_counters(df: DataFrame) -> DataFrame:
        x = (
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
            .cast("long")
            .alias("x")
        )
        return (
            df.select(F.explode(F.split("text", " ")).alias("t"))
            .select(x)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("r"),
                                slot(r, F.col("x")).alias("slot"),
                            )
                            for r in range(CMS_D)
                        ]
                    )
                ).alias("rs")
            )
            .groupBy("rs.r", "rs.slot")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge_batch(cur, bdf: DataFrame) -> DataFrame:
        part = to_counters(bdf)
        return part if cur is None else (
            cur.unionByName(part)
            .groupBy("r", "slot")
            .agg(F.sum("cnt").alias("cnt"))
        )

    # zero micro-batches: an empty counter table makes every probe
    # estimate 0 through the coalesce below, matching a CMS built over
    # an empty corpus
    sketch = _fold(stream, merge_batch, "r int, slot int, cnt bigint")

    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBES], "term string"
    ).select(
        "term",
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
        .cast("long")
        .alias("x"),
    )
    pslots = probes.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), slot(r, F.col("x")).alias("slot")
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rs"),
    ).select("term", "rs.r", "rs.slot")
    return (
        pslots.join(F.broadcast(sketch), ["r", "slot"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Sentinel-heartbeat feeds: finalize watermark state on a bounded stream
# ---------------------------------------------------------------------------



def _sentinel_feed(
    spark: SparkSession,
    sf_dir: str,
    op: str,
    columns: list[str],
    sentinel_rows: list[tuple],
    sentinel_schema: str,
) -> str:
    """Build (once) and return a parquet feed dir = normalized events
    projected to `columns`, plus far-future sentinel rows (ts = max
    real ts + 2 days, merged into the schema) whose job is to push the
    final watermark past every real row so AvailableNow's no-data
    micro-batch can flush all watermark-held state (see
    st_stream_outer_join for the emission-discipline rationale).

    Cached via _cached_feed (deterministic in sf_dir/op/columns +
    source vintage)."""
    from streams_spark.sources.tables import _normalize_event_ts

    def build(feed: str) -> None:
        schema = _events_schema(spark, sf_dir)
        ev = (
            spark.read.schema(schema)
            .parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts", _normalize_event_ts(schema["ts"].dataType))
            .select(*columns)
        )
        max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
        if max_ts is None:
            # empty events source: F.lit(None) + INTERVAL resolves to an
            # INTERVAL column and the union below fails analysis with
            # INCOMPATIBLE_COLUMN_TYPE — anchor the watermark-advancing
            # sentinel at epoch instead (degenerate-fixture fuzz class)
            import datetime as _dt

            max_ts = _dt.datetime(1970, 1, 1)
        sentinel = spark.createDataFrame(
            sentinel_rows, sentinel_schema
        ).withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 2 DAYS"))
        ev.unionByName(sentinel.select(*columns)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(feed)

    return _cached_feed(sf_dir, op, ",".join(columns), build)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join: watermark-driven null emission
# ---------------------------------------------------------------------------

_STREAM_OUTER_ORACLE = """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
WHERE c.event_type = 'click' AND c.ts IS NOT NULL
"""


@register("st_stream_outer_join", oracle=_STREAM_OUTER_ORACLE)
def st_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, paired with
    the purchases it preceded by <10 min, or emitted once with NULLs
    when the watermark proves no such purchase can still arrive. The
    outer side is the part batch joins get for free but streaming must
    EARN: a null result is a claim about data that hasn't arrived, so
    it can only be emitted when state eviction (watermark passing the
    click's last possible match time) makes the claim safe.

    Emission discipline: unmatched rows flush only as the watermark
    advances, and a bounded feed's natural final watermark
    (max ts - delay) never passes its own tail — the production fix is
    the one used here: HEARTBEAT/sentinel events that push the
    watermark past the data before the feed closes (the streaming
    analog of the reference closing a segment so consumers can finalize
    — /root/reference/server/pebble/service.go:394-407 tail semantics).
    One far-future sentinel pair rides in the feed itself; the data
    batch lifts the watermark past every real click's match horizon,
    and AvailableNow's final NO-DATA micro-batch (watermark-only, the
    `noDataMicroBatches` machinery) evicts and emits every real
    unmatched click before the query terminates. Sentinels (negative
    user_ids) are filtered from the output; their own unmatched state
    is the un-finalizable tail. The oracle is then the plain batch
    LEFT JOIN.

    Scale: symmetric hash join state is bounded by interval x rate per
    side (same as st_stream_join); the outer emission adds no state —
    eviction already scans expiring rows, emission just routes them to
    the output instead of dropping them. Shuffle cap 8: four state
    stores per partition (see _run_available_now).
    """
    feed = _sentinel_feed(
        spark,
        sf_dir,
        "ssoj",
        ["event_id", "ts", "user_id", "event_type"],
        [(-2, -1, "click"), (-3, -2, "purchase")],
        "event_id long, user_id long, event_type string",
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string"
    ).parquet(feed)

    def side(event_type: str, prefix: str):
        return (
            stream.where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left_outer",
    )
    # sentinels are NEGATIVE user_ids; a NULL-user click is a real row
    # the oracle's LEFT JOIN keeps (never matching, emitted with NULL
    # purchase columns at eviction) and NULL >= 0 is NULL, not false —
    # the st_session_stream rule (null-key fuzz class r7, seed 6)
    return _drain(joined, "append").where(
        F.col("c_user").isNull() | (F.col("c_user") >= 0)
    ).select(
        F.col("c_id").alias("click_id"),
        F.col("c_user").alias("user_id"),
        F.col("c_ts").alias("click_ts"),
        F.col("p_id").alias("purchase_id"),
        F.col("p_ts").alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# Session windows computed BY the streaming engine (stateful merge)
# ---------------------------------------------------------------------------

@register("st_session_stream", oracle=_SESSION_ORACLE)
def st_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap sessions computed by Structured Streaming's
    STATEFUL session operator (st_session_window proves the operator's
    semantics in batch; this runs it on a real stream, where sessions
    must MERGE in the state store as out-of-order events bridge gaps,
    and append mode may only emit a session once the watermark proves
    no future event can extend it).

    Same finalization discipline as st_stream_outer_join: a far-future
    sentinel event rides in the feed, so the final no-data micro-batch
    holds a watermark past every real session's close and flushes them
    all — the streaming result then equals batch sessionization, which
    is what the oracle states. The sentinel's own (still-open) session
    is filtered by user_id.

    Scale: state is one in-flight session struct per active (user,
    session) — bounded by gap x arrival rate, evicted at emission;
    session MERGES (two state entries fusing when a bridging event
    arrives) are handled by the operator, the part a groupBy over a
    derived session-id column cannot express incrementally."""
    feed = _sentinel_feed(
        spark,
        sf_dir,
        "ssw",
        ["event_id", "ts", "user_id"],
        [(-2, -1)],
        "event_id long, user_id long",
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).parquet(feed)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # the sentinel filter must not also drop NULL-user sessions: a NULL
    # user_id is a real (single) session group in both engines, and
    # NULL >= 0 is NULL, not false (null-key fuzz class r7)
    return (
        _drain(agg, "append")
        .where(F.col("user_id").isNull() | (F.col("user_id") >= 0))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Streaming ingest dedup: first-seen-wins against ALL history, per batch
# ---------------------------------------------------------------------------

_INGEST_DEDUP_ORACLE = """
SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' '))
           AS content_md5,
       min(doc_id) AS survivor_id,
       count(*) AS n_seen
FROM documents
GROUP BY 1
"""


@register("st_ingest_dedup", oracle=_INGEST_DEDUP_ORACLE)
def st_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest: documents arrive as a stream, and each
    micro-batch is admitted against the signature store of EVERYTHING
    ingested so far — first-seen wins, later exact duplicates only bump
    the seen-count. This is the ingest gate of a training-data pipeline
    (d_incremental_dedup is its one-shot batch profile; here the store
    genuinely evolves across 3 micro-batches staged in doc_id order, so
    cross-batch duplicates are caught by state, not by a global
    groupBy). The arrival order makes first-seen == min(doc_id), so the
    oracle is the plain batch dedup — a green row proves the
    batch-at-a-time fold reaches the same fixpoint.

    Mechanics: per batch, (1) collapse the batch to its per-signature
    first row + count, (2) outer-merge with the store: new signatures
    insert, known ones add counts and keep the incumbent survivor.
    Commutative in the count and order-dependent only in the survivor —
    exactly the at-ingest semantics. localCheckpoint truncates lineage
    per batch (the st_cdc_apply discipline).

    Scale: the store is |distinct signatures| rows of 16-byte keys —
    never payloads (the m_media_dedup rule); each batch costs one
    batch-sized partial-agg shuffle + one store merge join. In
    production the store is a Delta/Iceberg table MERGEd per batch and
    the signature swaps for the MinHash-LSH banded keys when near-dup
    admission is wanted (same join shape). The signature here is the
    d_prefix_dedup 8-token-prefix key rather than full-text md5 — the
    corpus has NO byte-identical docs, so the full-text key would never
    exercise the cross-batch duplicate path this op exists for; the
    prefix key genuinely collides (the mirrored-boilerplate case the
    batch twin reports)."""
    from streams_spark.functions.text_funcs import tokens
    from streams_spark.operators.dedup import PREFIX_TOKENS

    # null-guarded like d_prefix_dedup: concat_ws would key NULL text as
    # '' and merge missing docs with empty docs (fuzz finding r6)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, PREFIX_TOKENS))),
        ).alias("content_md5"),
    )
    # 3 doc_id-ranged files -> 3 ordered micro-batches; v3: NULL text
    # keys NULL (null-guarded md5), not md5('')
    stream = _ranged_stream(
        docs,
        "doc_id",
        sf_dir,
        "docingest",
        f"id3|v3|doc_id,prefix_md5_{PREFIX_TOKENS}_nullsafe",
    )

    def admit(cur, bdf: DataFrame) -> DataFrame:
        batch = bdf.groupBy("content_md5").agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_seen"),
        )
        if cur is None:
            return batch
        # survivor = min(doc_id), counts add — COMMUTATIVE over batches,
        # so the fixpoint is identical under any batch arrival order
        # (FileStreamSource mtime ties cannot flip it). Because ingest is
        # staged in doc_id order, min == first-seen, i.e. the at-ingest
        # semantic.
        return (
            cur.unionByName(batch)
            .groupBy("content_md5")
            .agg(
                F.min("survivor_id").alias("survivor_id"),
                F.sum("n_seen").alias("n_seen"),
            )
        )

    return _fold(
        stream, admit, "content_md5 string, survivor_id bigint, n_seen bigint"
    )
