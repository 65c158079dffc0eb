"""Window functions, top-k per group, sessionization, as-of join.

All ABSENT in the reference (SURVEY.md §2.7 — its k-way Interleave merge
and SeekLT top-1 are the closest relatives); required analytics surface.

Scale notes: every window here partitions by a high-cardinality key
(user_id, nation, suppkey) so state per partition is small and the single
shuffle is well-spread; the as-of join uses the union+window trick (one
shuffle on user_id) instead of a per-row lookup join, which is the
scalable formulation — no broadcast of a fact table, no skew beyond the
key distribution itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_spark.operators import finite_or_null, half_up
from streams_spark.operators.tpch import revenue, with_nation
from streams_spark.registry import register
from streams_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Ranking + frames: top-3 suppliers by revenue within each nation
# ---------------------------------------------------------------------------

_TOPK = """
WITH supp_rev AS (
  SELECT s_suppkey, s_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  GROUP BY s_suppkey, s_name, n_name
)
SELECT n_name, s_suppkey, s_name, revenue, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY n_name
                               ORDER BY revenue DESC, s_suppkey) AS rnk
  FROM supp_rev
)
WHERE rnk <= 3
"""


@register("w_topk_suppliers_per_nation", oracle=_TOPK)
def w_topk_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    joined = li.join(supplier, li.l_suppkey == supplier.s_suppkey)
    supp_rev = (
        with_nation(spark, sf_dir, joined, "s_nationkey")
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.col("s_suppkey"))
    return (
        supp_rev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("n_name", "s_suppkey", "s_name", "revenue", "rnk")
    )


# ---------------------------------------------------------------------------
# Frames + lag/lead: running revenue and deltas per customer's order history
# ---------------------------------------------------------------------------

_RUNNING = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       round(coalesce(lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 2)
           AS prev_price,
       round(coalesce(lead(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0), 2)
           AS next_price,
       CAST(row_number() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER)
           AS order_seq,
       round(avg(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
FROM orders
WHERE o_custkey <= 200 AND o_orderdate IS NOT NULL
"""


@register("w_running_totals", oracle=_RUNNING)
def w_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-time contract (r9 --null-ts/--null-dates fuzz class): a NULL
    # order date has no position in the customer's order history, so it
    # is excluded from the running timeline on BOTH sides — the batch
    # analog of the streaming watermark dropping NULL event time.
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_custkey") <= 200) & F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round(F.sum("o_totalprice").over(run), 2).alias("running_total"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
        F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0)), 2).alias(
            "next_price"
        ),
        F.row_number().over(w).alias("order_seq"),
        F.round(F.avg("o_totalprice").over(mov), 4).alias("moving_avg3"),
    )


# ---------------------------------------------------------------------------
# rank / dense_rank / ntile over aggregated revenue
# ---------------------------------------------------------------------------

_RANKS = """
WITH cust_rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, total_spent,
       CAST(rank() OVER (ORDER BY total_spent DESC, o_custkey NULLS LAST) AS INTEGER) AS rnk,
       CAST(dense_rank() OVER (ORDER BY total_spent DESC, o_custkey NULLS LAST) AS INTEGER)
           AS drnk,
       CAST(ntile(10) OVER (ORDER BY total_spent DESC, o_custkey NULLS LAST) AS INTEGER)
           AS decile
FROM cust_rev
WHERE o_custkey <= 500
"""


@register("w_customer_ranks", oracle=_RANKS)
def w_customer_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust_rev = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .where(F.col("o_custkey") <= 500)
    )
    w = Window.orderBy(F.desc("total_spent"), F.asc_nulls_last("o_custkey"))
    return cust_rev.select(
        "o_custkey",
        "total_spent",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(10).over(w).alias("decile"),
    )


# ---------------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap per user over the events table
# ---------------------------------------------------------------------------

_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, count(*) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       floor(avg(n_events) * 10000 + 0.5) / 10000 AS avg_session_events,
       CAST(max(span_us) AS BIGINT) AS max_session_span_us
FROM sessions GROUP BY user_id
"""


@register("w_sessionize", oracle=_SESSIONS)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-time contract (r9): an event without a timestamp has no
    # position in the inactivity timeline — excluded on both sides,
    # matching the streaming watermark-drop semantics.
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", F.asc_nulls_last("event_id"))
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_us > 30 * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        (F.floor(F.avg("n_events") * 10000 + F.lit(0.5)) / 10000).alias(
            "avg_session_events"
        ),
        F.max("span_us").alias("max_session_span_us"),
    )


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the latest strictly-prior click of the user
# ---------------------------------------------------------------------------

_ASOF = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
), enriched AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER w AS last_click_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER w AS last_click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
       last_click_id, last_click_ts,
       CAST(epoch_us(ts) - epoch_us(last_click_ts) AS BIGINT) AS gap_us
FROM enriched WHERE event_type = 'purchase'
"""


@register("w_asof_purchase_click", oracle=_ASOF)
def w_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union + last-ignoring-nulls window: the scalable
    formulation (single shuffle on user_id) of `pd.merge_asof` semantics."""
    # NULL-time contract (r9): a click/purchase without a timestamp can
    # neither vouch as "latest prior" nor be as-of matched — excluded
    # from both sides of the timeline.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    enriched = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return enriched.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "last_click_id",
        "last_click_ts",
        (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Event-time tumbling window aggregation (batch form; streaming twin in
# streams_spark.streaming)
# ---------------------------------------------------------------------------

_TUMBLING = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum("value"), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events WHERE ts IS NOT NULL
GROUP BY window_start, event_type
"""


@register("w_tumbling_hourly", oracle=_TUMBLING)
def w_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-time contract (r9): F.window() already drops NULL event time
    # (no bucket exists for it); the explicit filter makes the contract
    # visible and keeps the oracle's time_bucket from inventing a NULL
    # group.
    # r10 plan note: a TUMBLING window is plain bucketing, so group on
    # date_trunc directly instead of F.window() — the generic window
    # machinery builds a (start, end) struct per row and costs a
    # measured ~14% here for generality only a SLIDING window needs
    # (solo profile: 0.503s -> 0.435s at sf0.1; the remaining gap to
    # the r1 recording is the 4-column scan floor itself, 0.19s, plus
    # the exact countDistinct's expand+reshuffle, 0.23s — both
    # irreducible under this oracle's semantics).
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "window_start", "event_type", "n_events", "total_value", "n_users"
        )
    )


_RANGE_JOIN = """
SELECT p.event_id AS purchase_id, p.user_id,
       count(c.event_id) AS n_clicks_before,
       round(coalesce(sum(c."value"), 0), 2) AS click_value
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


@register("w_range_join", oracle=_RANGE_JOIN)
def w_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: clicks in the 30 minutes before each purchase
    by the same user. The equi key (user_id) hashes; the time band is the
    join residual — the plan every range join wants (never a pure
    non-equi cross product). At 100 TB add time bucketing to the equi key
    (join on (user_id, hour) x adjacent buckets) to bound the per-key
    candidate window."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
        F.col("event_id").alias("c_id"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy(
        "purchase_id", F.col("p_user").alias("user_id")
    ).agg(
        F.count("c_id").alias("n_clicks_before"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 2).alias("click_value"),
    )


@register("w_range_join_bucketed", oracle=_RANGE_JOIN)
def w_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same interval join with the 100 TB formulation w_range_join's
    docstring promises: the probe side fans out to its own and the next
    30-minute bucket, so the equi key becomes (user_id, bucket) and each
    hash group holds at most one interval-width of candidates per user —
    per-key work is bounded by the interval x event rate, not the user's
    whole history. Proven result-identical by sharing w_range_join's
    oracle.
    """
    bucket_s = 30 * 60  # bucket width == interval width
    ev = load_table(spark, sf_dir, "events")
    # clicks land in their own bucket; purchases probe their bucket and
    # the previous one (a click up to 30 min earlier can be 1 bucket back)
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
        F.col("event_id").alias("c_id"),
        (F.unix_seconds("ts") / bucket_s).cast("long").alias("bucket"),
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            (F.unix_seconds("ts") / bucket_s).cast("long").alias("pb"),
        )
        .withColumn("bucket", F.explode(F.array(F.col("pb") - 1, F.col("pb"))))
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (p.bucket == c.bucket)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    # a click can match the same purchase through only one bucket, so no
    # dedup is needed; purchases with no match in either bucket still
    # appear once per probed bucket -> aggregate over purchase_id collapses
    return joined.groupBy(
        "purchase_id", F.col("p_user").alias("user_id")
    ).agg(
        F.count("c_id").alias("n_clicks_before"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 2).alias("click_value"),
    )


# ---------------------------------------------------------------------------
# Conversion funnel: view -> click -> purchase, strictly ordered per user
# ---------------------------------------------------------------------------

_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_after_view,
       (SELECT count(*) FROM p) AS n_purchase_after_click
"""


@register("w_funnel", oracle=_FUNNEL)
def w_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel: users who viewed, then clicked
    AFTER their first view, then purchased AFTER that first qualifying
    click. The ordering constraint is what makes this a funnel and not
    three independent counts.

    Scale path: ONE shuffle total. The naive three-CTE formulation (the
    oracle's shape) recomputes shared subtrees — Spark plans it as 6
    scans because branches aren't common-subexpression-shared. Instead:
    three chained unbounded-window mins over the SAME user_id
    partitioning (one exchange, windows stack without re-shuffling),
    then a single-row conditional distinct-count."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ev = ev.where(F.col("event_type").isin("view", "click", "purchase"))
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    # NULL-user rows (null-key fuzz class r7, seed 6): the oracle's v
    # CTE is a plain GROUP BY, where NULL is one real group — wrap the
    # key in a struct so countDistinct sees struct(NULL) as a countable
    # value. The LATER stages stay bare user_id: the oracle reaches
    # them through equi-joins, which never match the NULL group, and
    # countDistinct ignoring a NULL key models exactly that.
    return staged.agg(
        F.countDistinct(
            F.when(F.col("t_view").isNotNull(), F.struct("user_id"))
        ).alias("n_view"),
        F.countDistinct(
            F.when(F.col("t_click").isNotNull(), F.col("user_id"))
        ).alias("n_click_after_view"),
        F.countDistinct(
            F.when(F.col("t_purchase").isNotNull(), F.col("user_id"))
        ).alias("n_purchase_after_click"),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention (first-seen week x weeks-since-first activity)
# ---------------------------------------------------------------------------

_RETENTION = """
WITH first_seen AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT date_trunc('week', f.first_ts) AS cohort_week,
       CAST(floor(epoch(e.ts - f.first_ts) / 604800) AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY cohort_week, week_offset
"""


@register("w_retention", oracle=_RETENTION)
def w_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    as active per whole-week offset since their own first event — the
    standard triangle retention matrix.

    Scale path: one shuffle on user_id for first-seen (map-side partial
    min), a co-partitioned join back to events on the same key, then one
    shuffle for the (cohort, offset) distinct-count. The offset is
    computed from each user's OWN first event (not a calendar diff), so
    the cohort matrix is timezone-stable."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
            F.floor(
                (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("first_ts")))
                / (604800 * 1_000_000)
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Hypertable rollup: multi-resolution time-grain aggregates in one pass
# ---------------------------------------------------------------------------

_HYPERTABLE = """
SELECT CASE WHEN grouping(m) = 0 THEN 'minute'
            WHEN grouping(h) = 0 THEN 'hour'
            WHEN grouping(d) = 0 THEN 'day'
            ELSE 'all' END AS grain,
       coalesce(m, h, d) AS bucket_ts,
       count(*) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
FROM (
  SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
         date_trunc('minute', ts) AS m, value
  FROM events
)
GROUP BY ROLLUP (d, h, m)
"""


@register("w_hypertable_rollup", oracle=_HYPERTABLE)
def w_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-grain rollup (the hypertable /
    continuous-aggregate query shape): minute, hour, day, and grand-total
    aggregates of the event stream, computed in ONE pass with ROLLUP —
    Spark expands each row to its 4 grouping sets map-side and
    partial-aggregates before the single shuffle, so the cost is one
    scan + one exchange regardless of how many grains are materialized.
    The incremental-maintenance variant of the same shape is the
    streaming tumbling aggregate (st_tumbling_stream)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.date_trunc("minute", F.col("ts")).alias("m"),
        "value",
    )
    grain = (
        F.when(F.grouping("m") == 0, F.lit("minute"))
        .when(F.grouping("h") == 0, F.lit("hour"))
        .when(F.grouping("d") == 0, F.lit("day"))
        .otherwise(F.lit("all"))
    )
    # localCheckpoint: the rollup result is |minutes|+|hours|+|days| rows
    # (still distributed); the lineage break makes the empty-input probe
    # below a trivial job instead of a second events scan. The 'all'
    # grain row comes from Spark's NATIVE () grouping set — SQL-standard
    # ROLLUP emits it (count 0) even over an empty table where Spark's
    # Expand emits nothing (degenerate-fixture fuzz class), so a zero
    # row is synthesized for empty input ONLY; re-deriving it from a
    # subtotal tier would change the fp summation tree vs the oracle
    # (see q_rollup_revenue).
    base = (
        ev.rollup("d", "h", "m")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value").cast("double"), 2).alias("sum_value"),
            # grouping() is only resolvable inside the aggregate
            grain.alias("grain"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint()
    )
    out = base.select(
        "grain",
        F.coalesce("m", "h", "d").alias("bucket_ts"),
        "n_events",
        "sum_value",
    )
    if base.where(F.col("gid") == 7).limit(1).count() == 0:
        zero = base.sparkSession.range(1).select(
            F.lit("all").alias("grain"),
            F.lit(None).cast("timestamp").alias("bucket_ts"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("sum_value"),
        )
        out = out.unionByName(zero)
    return out


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), islands AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS streak_len,
         min(d) AS streak_start
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(min(streak_start) AS TIMESTAMP) AS first_active_day
FROM streaks GROUP BY user_id
"""


@register("w_user_streaks", oracle=_STREAKS)
def w_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (date minus row_number is constant within an
    island). Retention/engagement pipelines run this daily at full-corpus
    scale.

    One shuffle: the distinct (user, day) reduction and the row_number
    window both partition by user_id (high-cardinality, well-spread), so
    the window reuses the dedup exchange; per-user state is <= days, not
    events. The island aggregate and final rollup are partial-agg'd on
    the same key.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("d").alias("streak_start"),
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
        F.min("streak_start").cast("timestamp").alias("first_active_day"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill (hour spine, zero/carry-forward)
# ---------------------------------------------------------------------------

_GAP_FILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*) AS n,
         floor(avg(CASE WHEN isfinite("value") THEN "value" END) * 10000 + 0.5) / 10000 AS av
  FROM events GROUP BY 1, 2
), b AS (
  SELECT date_trunc('hour', min(ts)) AS lo,
         date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
), grid AS (
  SELECT t.event_type, s.hour
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
), j AS (
  SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n_events, h.av
  FROM grid g
  LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour
)
SELECT event_type, hour,
       CAST(n_events AS BIGINT) AS n_events,
       last_value(av IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS UNBOUNDED PRECEDING) AS filled_avg_value
FROM j
"""


@register("w_gap_fill", oracle=_GAP_FILL)
def w_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type: generate the full hour spine
    between the data's bounds, zero-fill missing counts, and
    carry-forward the last observed hourly average (the timeseries-DB
    `time_bucket_gapfill` + `locf` pair, as one declarative plan). The
    reference's space index can only return hours that HAVE entries
    (/root/reference/server/pebble/service.go:165-198); dashboards and
    downsampling jobs need the dense series.

    Scale: the spine is sequence-exploded from ONE aggregate row (time
    range / 1 hour rows, tiny at any corpus size) and cross-joined with
    the distinct-type frame — both broadcast-sized; the data-sized work
    is the hourly aggregate (one partial-agg'd shuffle) and the
    forward-fill window keyed by event_type (spread across types; for a
    single very long series, shard the fill by day and stitch).
    avg rounds to 4dp BEFORE the fill so carried values are identical
    cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # floor rule, not round(): HALF_UP vs HALF_EVEN midpoint doubles
        # diverge (hit at sf0.1)
        (F.floor(F.avg(finite_or_null(F.col("value"))) * 10000
                 + F.lit(0.5)) / 10000).alias("av"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    j = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        "av",
    )
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        "event_type",
        "hour",
        "n_events",
        F.last("av", ignorenulls=True).over(w).alias("filled_avg_value"),
    )


# ---------------------------------------------------------------------------
# Forward as-of join: for each click, the first strictly-later purchase
# ---------------------------------------------------------------------------

_ASOF_FWD = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
), enriched AS (
  SELECT user_id, ts, event_id, event_type,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END
                     IGNORE NULLS) OVER w AS next_purchase_id,
         first_value(CASE WHEN event_type = 'purchase' THEN ts END
                     IGNORE NULLS) OVER w AS next_purchase_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id AS click_id, ts AS click_ts,
       next_purchase_id, next_purchase_ts,
       CAST(epoch_us(next_purchase_ts) - epoch_us(ts) AS BIGINT)
           AS time_to_convert_us
FROM enriched WHERE event_type = 'click'
"""


@register("w_asof_forward", oracle=_ASOF_FWD)
def w_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each click, the FIRST strictly-later
    purchase of the same user (time-to-convert) — the mirror of
    w_asof_purchase_click's backward lookup, via first-ignoring-nulls
    over a FOLLOWING frame. Same scale shape: one shuffle on user_id,
    no per-row lookup join, no broadcast of a fact table.
    """
    # NULL-time contract (r9): same exclusion as the backward as-of —
    # no timestamp, no position in the conversion timeline.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.asc_nulls_last("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    p_id = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    p_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    enriched = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.first(p_id, ignorenulls=True).over(w).alias("next_purchase_id"),
        F.first(p_ts, ignorenulls=True).over(w).alias("next_purchase_ts"),
    )
    return enriched.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "next_purchase_id",
        "next_purchase_ts",
        (
            F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
        ).alias("time_to_convert_us"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (DAU / WAU-style engagement)
# ---------------------------------------------------------------------------

_ROLLING_DAU = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), daily AS (
  SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day
), rolled AS (
  SELECT d.day AS day, count(DISTINCT du.user_id) AS dau7
  FROM (SELECT DISTINCT day FROM du) d
  JOIN du ON du.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
)
SELECT CAST(daily.day AS TIMESTAMP) AS day, dau, dau7
FROM daily JOIN rolled ON daily.day = rolled.day
"""


@register("w_rolling_dau", oracle=_ROLLING_DAU)
def w_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users plus the rolling 7-day distinct-user count —
    the standard engagement pair (DAU / WAU). COUNT(DISTINCT) over a
    sliding window has no direct window-function form (distinct is not
    decomposable), so the scale-honest formulation replicates each
    distinct (day, user) row to the <=7 future days it contributes to
    (explode of a 7-element date sequence — bounded fan-out, unlike a
    day-spine range join whose per-day input grows with the window) and
    counts distinct per target day. The day spine is O(days) and
    broadcast for the existence semi-join; both aggregates are
    partial-agg'd shuffles on uniformly distributed keys.

    The distinct (day, user) frame feeds three consumers (spine, daily,
    rolled) — without materialization the plan re-scans and re-shuffles
    the corpus three times, so it is localCheckpoint'd after the one
    corpus pass (days x users rows, typically orders of magnitude
    smaller than events; the cluster analog persists it as the daily
    activity table every engagement query starts from).
    """
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .localCheckpoint()
    )
    days = du.select("day").distinct()
    daily = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("day"),
        "user_id",
    ).join(F.broadcast(days), "day", "semi")
    rolled = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau7")
    )
    return daily.join(rolled, "day").select(
        F.col("day").cast("timestamp").alias("day"), "dau", "dau7"
    )


# ---------------------------------------------------------------------------
# Rolling median (exact sliding percentile over a ROWS frame)
# ---------------------------------------------------------------------------

_ROLLING_MEDIAN = """
SELECT user_id, event_id,
       round(median(CASE WHEN isfinite("value") THEN "value" END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med5
FROM events WHERE ts IS NOT NULL
"""


@register("w_rolling_median", oracle=_ROLLING_MEDIAN)
def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of the event value over the trailing
    5-row frame per user — the robust-smoothing companion to
    w_running_totals' mean-style aggregates (medians shrug off the
    outlier spikes averages chase). Median is not decomposable, so
    there is no native window form: the frame is collected
    (bounded — 5 elements, O(frame) not O(partition) state), sorted
    in-row, and interpolated exactly like DuckDB's median (mean of the
    two middles on even counts).

    One shuffle: the window partitions by user_id (high-cardinality,
    uniform). The collect_list frame is safe ONLY because the frame is
    constant-bounded; a RANGE frame over time would need the
    sketch-based approx path instead (q_approx_percentile's twin).
    Ordering is (ts, event_id) — deterministic under timestamp ties.
    NULL-time contract (r9): no timestamp, no frame position —
    excluded on both sides.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.asc_nulls_last("event_id"))
        .rowsBetween(-4, 0)
    )
    # finite_or_null (r9): a NaN in the frame sorts differently in the
    # two engines' medians; non-finite readings are missing
    a = F.array_sort(
        F.collect_list(finite_or_null(F.col("value"))).over(w)
    )
    n = F.size(a)
    lo = F.element_at(a, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(a, F.ceil((n + 1) / 2).cast("int"))
    # collect_list SKIPS NULL values, so a frame of 5 NULL measurements
    # collects an EMPTY array — element_at(a, 0) then errors where
    # DuckDB's null-skipping median yields NULL. The lazy when-branch
    # only indexes non-empty frames (nullmeas-fixture fuzz class);
    # mixed frames agree for free (both engines median the non-nulls).
    return ev.select(
        "user_id",
        "event_id",
        F.when(n > 0, F.round((lo + hi) / 2.0, 4)).alias("med5"),
    )


# ---------------------------------------------------------------------------
# OHLC bars: open/high/low/close per (space, hour) — time-series rollup
# ---------------------------------------------------------------------------

_OHLC = """
WITH e AS (
  SELECT event_type AS space, time_bucket(INTERVAL 1 HOUR, ts) AS hour,
         "value",
         first_value("value") OVER w AS open,
         last_value("value")  OVER w AS close
  FROM events
  WINDOW w AS (PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
               -- NULLS FIRST pins DuckDB to Spark's struct ordering,
               -- where a NULL field sorts before any value: duplicated
               -- (ts, event_id) rows where one copy has NULL value must
               -- pick the same open/close in both engines (ADVICE r6)
               ORDER BY ts NULLS FIRST, event_id NULLS FIRST,
                        "value" NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
)
SELECT space, hour,
       any_value(open)  AS open,
       max("value")     AS high,
       min("value")     AS low,
       any_value(close) AS close,
       count(*)         AS n_ticks,
       round(sum("value"), 2) AS volume
FROM e
GROUP BY space, hour
"""


@register("w_ohlc_bars", oracle=_OHLC)
def w_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: open/high/low/close of the event value per
    (space, hour) — the financial-style time-series rollup the
    reference's per-segment ordered reads make possible but never
    aggregate (closest relative: SegmentStatus first/last timestamps,
    /root/reference/server/messages.go:38-45, here generalized to
    first/last VALUE in event-time order).

    min_by/max_by over a (ts, event_id) struct keep this a single
    partial-aggregable groupBy — each map task folds its slice to one
    candidate row per bar, so unlike the window formulation (full sort
    per partition, oracle side) nothing ever materializes the bar's tick
    list. Struct ordering is lexicographic, so ties on ts break on
    event_id — deterministic. At 100 TB this is the canonical
    downsampling pass: one shuffle on (space, hour), output is
    bars-sized, and AQE coalesces the tiny result partitions."""
    ev = load_table(spark, sf_dir, "events")
    # value completes the tie-break: two corrupt-re-ingest copies
    # sharing (ts, event_id) but disagreeing on value must yield the
    # same open/close in both engines (fuzz finding r6)
    order_key = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        ev.groupBy(
            F.col("event_type").alias("space"),
            F.date_trunc("hour", "ts").alias("hour"),
        )
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto / ABC analysis: cumulative revenue share per customer
# ---------------------------------------------------------------------------

_PARETO = """
WITH cust_rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, revenue,
         row_number() OVER (ORDER BY revenue DESC, o_custkey NULLS LAST) AS rnk,
         round(sum(revenue) OVER (ORDER BY revenue DESC, o_custkey NULLS LAST
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
               / sum(revenue) OVER (), 6) AS cum_share
  FROM cust_rev
)
SELECT o_custkey, revenue, CAST(rnk AS BIGINT) AS rnk, cum_share,
       CASE WHEN cum_share <= 0.5 THEN 'A'
            WHEN cum_share <= 0.8 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register("w_pareto_customers", oracle=_PARETO)
def w_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC segmentation: rank customers by revenue and classify
    by cumulative revenue share (A = first 50% of revenue, B = to 80%,
    C = tail). ABSENT in the reference (no aggregation surface); a
    staple of warehouse analytics.

    The global ORDER BY runs on the AGGREGATE (one row per customer),
    never on raw orders — the groupBy shuffle does the heavy lifting
    with map-side partial aggregation, then the rank/cumsum window sorts
    the customer-sized frame. At 100 TB a single-partition window over
    customers (~10^8 rows) is the one legitimate global sort in the
    plan; Spark range-partitions the sort, and only the running-sum
    stitch is sequential. revenue is rounded BEFORE the cumulative sum
    so both engines fold identical addends in identical order —
    float-sum order sensitivity is pinned by the total (rnk) order."""
    orders = load_table(spark, sf_dir, "orders")
    cust_rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w_rank = Window.orderBy(F.desc("revenue"), F.asc_nulls_last("o_custkey"))
    total = Window.partitionBy()
    cum = (
        F.sum("revenue").over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
        / F.sum("revenue").over(total)
    )
    ranked = cust_rev.select(
        "o_custkey",
        "revenue",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        F.round(cum, 6).alias("cum_share"),
    )
    return ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.5, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: purchase revenue credited to the preceding click
# ---------------------------------------------------------------------------

_ATTRIBUTION = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, "value"
  FROM events WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
), enriched AS (
  SELECT user_id, ts, event_id, event_type, "value",
         max(CASE WHEN event_type = 'click' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS last_click_ts
  FROM tagged
)
SELECT coalesce(CASE WHEN last_click_ts >= ts - INTERVAL 7 DAY
                     THEN 'attributed' END,
                'organic') AS attribution,
       count(*) AS n_purchases,
       round(sum("value"), 2) AS revenue
FROM enriched
WHERE event_type = 'purchase'
GROUP BY attribution
"""


@register("w_attribution", oracle=_ATTRIBUTION)
def w_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    user's most recent click if one happened within the 7-day lookback,
    else counted as organic. The same union+window trick as
    w_asof_purchase_click (one shuffle on user_id, no per-row lookup
    join), but folded to the attribution report — the aggregate a
    channel dashboard reads.

    The running max(click ts) over (ts, event_id) order replaces an
    as-of join; the frame excludes the current row so a purchase never
    attributes to itself. Partitioned by user_id: high-cardinality,
    scales flat."""
    # NULL-time contract (r9): an un-timestamped click can't vouch as
    # last touch and an un-timestamped purchase has no lookback window
    # to attribute within — excluded on both sides (the all-NULL-ts
    # degenerate fixture is what exposed the one-sided version).
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    enriched = tagged.withColumn("last_click_ts", last_click)
    return (
        enriched.where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("last_click_ts")
                    >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
                    F.lit("attributed"),
                ),
                F.lit("organic"),
            ).alias("attribution"),
            "value",
        )
        .groupBy("attribution")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# SCD Type-2 entity history (validity-interval reconstruction)
# ---------------------------------------------------------------------------

_SCD2 = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id NULLS LAST) AS prev_type
  FROM events WHERE ts IS NOT NULL
), changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
), intervals AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id NULLS LAST) AS valid_to
  FROM changes
)
SELECT state,
       (valid_to IS NULL) AS is_current,
       count(*) AS n_intervals,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       floor(avg((epoch_us(valid_to) - epoch_us(valid_from)) / 1e6)
             * 100 + 0.5) / 100 AS avg_duration_sec
FROM intervals
GROUP BY state, is_current
"""


@register("w_scd2_user_state", oracle=_SCD2)
def w_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) history build: collapse each
    user's event stream into validity intervals [valid_from, valid_to)
    per state (event_type), open interval = current state. Generalizes
    the reference's head-state reconstruction (Peek = current row only,
    /root/reference/server/pebble/service.go:820-840) to FULL history —
    the dimension-table build step of every warehouse ingest.

    Two windows over the SAME (user_id × time) partitioning — Catalyst
    plans them in one shuffle + one sort, then the interval table
    aggregates map-side. (ts, event_id) tie-break keeps island edges
    deterministic. At 100 TB: user_id is high-cardinality so window
    state stays small; no broadcast, no skew beyond the user activity
    distribution itself.
    """
    # NULL-time contract (r9): a state change without a timestamp has
    # no validity interval — excluded on both sides.
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w_ord = Window.partitionBy("user_id").orderBy("ts", F.asc_nulls_last("event_id"))
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w_ord).alias("prev_type"),
    )
    changes = ordered.where(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        "event_id",
    )
    w_next = Window.partitionBy("user_id").orderBy("valid_from", F.asc_nulls_last("event_id"))
    intervals = changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w_next).alias("valid_to"),
    )
    dur_sec = (
        F.unix_micros("valid_to") - F.unix_micros("valid_from")
    ) / F.lit(1e6)
    return intervals.groupBy(
        "state", F.col("valid_to").isNull().alias("is_current")
    ).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.countDistinct("user_id").alias("n_users"),
        (F.floor(F.avg(dur_sec) * 100 + F.lit(0.5)) / 100).alias(
            "avg_duration_sec"
        ),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (bounded horizon, explode-to-target formulation)
# ---------------------------------------------------------------------------

EWMA_DECAY = 0.7  # weight for a day k back = 0.7^k
EWMA_HORIZON = 13  # days of history folded into each point (14-day span)

_EWMA = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         round(sum(CASE WHEN isfinite("value") THEN "value" END), 4) AS rev
  FROM events GROUP BY 1
)
SELECT a.day AS day, any_value(a.rev) AS rev,
       floor(sum(b.rev * pow({EWMA_DECAY}, date_diff('day', b.day, a.day)))
             / sum(pow({EWMA_DECAY}, date_diff('day', b.day, a.day)))
             * 10000 + 0.5) / 10000
           AS ewma_rev
FROM daily a JOIN daily b
  ON b.day <= a.day AND b.day >= a.day - INTERVAL {EWMA_HORIZON} DAY
GROUP BY a.day
"""


@register("w_ewma", oracle=_EWMA)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with a
    bounded 14-day horizon (§2.7 ABSENT row — time-series smoothing the
    reference's consumers do client-side).

    Scale path: NOT an inequality self-join (that plans as a
    nested-loop). Each source day explodes into the <= 14 target days it
    contributes to (`sequence` + explode, a 14x map-side fan-out of a
    day-count-sized frame), then ONE hash aggregate on target day folds
    weighted sums. Weights renormalize over the days actually present,
    so gaps in the spine don't leak weight mass.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.sum(finite_or_null(F.col("value"))), 4).alias("rev")
    )
    contrib = daily.select(
        F.col("day").alias("s_day"),
        "rev",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr(f"INTERVAL {EWMA_HORIZON} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).withColumn(
        "w", F.pow(F.lit(EWMA_DECAY), F.datediff("day", "s_day"))
    )
    # inner join back to the real spine: EWMA is defined only on observed
    # days, and fan-out days past the last observation drop here
    spine = daily.select("day", F.col("rev").alias("rev_obs"))
    # cross-engine rule: ratio outputs round via floor(x*1e4+0.5)/1e4 —
    # the same IEEE op sequence in both engines — because Spark's
    # HALF_UP round() and DuckDB's round() diverge on midpoint doubles
    ewma = F.sum(F.col("rev") * F.col("w")) / F.sum("w")
    return (
        contrib.groupBy("day")
        .agg(
            (F.floor(ewma * 10000 + F.lit(0.5)) / 10000).alias("ewma_rev")
        )
        .join(spine, "day")
        .select("day", F.col("rev_obs").alias("rev"), "ewma_rev")
    )


# ---------------------------------------------------------------------------
# Linear interpolation of gaps (the interpolating sibling of w_gap_fill)
# ---------------------------------------------------------------------------

_INTERPOLATE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         floor(avg(CASE WHEN isfinite("value") THEN "value" END) * 10000 + 0.5) / 10000 AS av
  FROM events GROUP BY 1, 2
), b AS (
  SELECT date_trunc('hour', min(ts)) AS lo,
         date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
), grid AS (
  SELECT t.event_type, s.hour
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
), j AS (
  SELECT g.event_type, g.hour, h.av
  FROM grid g
  LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour
), f AS (
  SELECT event_type, hour, av,
         last_value(av IGNORE NULLS) OVER w_prev AS pv,
         last_value(CASE WHEN av IS NOT NULL THEN hour END IGNORE NULLS)
             OVER w_prev AS ph,
         first_value(av IGNORE NULLS) OVER w_next AS nv,
         first_value(CASE WHEN av IS NOT NULL THEN hour END IGNORE NULLS)
             OVER w_next AS nh
  FROM j
  WINDOW w_prev AS (PARTITION BY event_type ORDER BY hour
                    ROWS UNBOUNDED PRECEDING),
         w_next AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour, (av IS NULL) AS is_gap,
       floor((CASE
         WHEN av IS NOT NULL THEN av
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv)
              * CAST(date_diff('second', ph, hour) AS DOUBLE)
              / CAST(date_diff('second', ph, nh) AS DOUBLE)
       END) * 10000 + 0.5) / 10000 AS value_interp
FROM f
"""


@register("w_interpolate", oracle=_INTERPOLATE)
def w_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type series with LINEAR interpolation across
    spine gaps (w_gap_fill's locf sibling): a missing hour gets
    prev + (next - prev) * elapsed/span; leading/trailing gaps fall back
    to nearest-observation fill.

    Scale path: same as w_gap_fill — the spine grid is
    (hours x event_types), orders of magnitude smaller than events; both
    direction-fills are the SAME single shuffle on event_type (two frames
    over one sort), so interpolation costs exactly what locf costs.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        # floor rule (see the output-rounding note below): the hourly
        # average feeds pv/nv, so a HALF_UP-vs-HALF_EVEN midpoint here
        # propagates into interpolated values (hit at sf0.1)
        (F.floor(F.avg(finite_or_null(F.col("value"))) * 10000
                 + F.lit(0.5)) / 10000).alias("av")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    j = grid.join(hourly, ["event_type", "hour"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("av").isNotNull(), F.col("hour"))
    f = j.select(
        "event_type",
        "hour",
        "av",
        F.last("av", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("av", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(w_next).alias("nh"),
    )
    span = F.unix_timestamp("nh") - F.unix_timestamp("ph")
    elapsed = F.unix_timestamp("hour") - F.unix_timestamp("ph")
    interp = (
        F.when(F.col("av").isNotNull(), F.col("av"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * elapsed.cast("double")
            / span.cast("double")
        )
    )
    # NOT F.round: a ratio has no exact decimal form, and engine round()
    # implementations disagree on midpoint doubles (Spark: HALF_UP on the
    # exact binary expansion; DuckDB: scale-by-1e4 then C round). floor(x
    # * 1e4 + 0.5) / 1e4 is the same IEEE op sequence in both engines, so
    # the oracle comparison is bit-for-bit stable.
    return f.select(
        "event_type",
        "hour",
        F.col("av").isNull().alias("is_gap"),
        (F.floor(interp * 10000 + F.lit(0.5)) / 10000).alias("value_interp"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: median absolute deviation (MAD) gate
# ---------------------------------------------------------------------------

MAD_K = 1.4826  # normal-consistency constant
MAD_T = 3.0  # flag |x - median| > 3 scaled MADs

_ANOMALY_MAD = f"""
WITH fe AS (
  -- finite-domain contract: the ingest guard owns non-finite readings;
  -- a NaN/Inf inside median()/MAD diverges across engines and an Inf
  -- row is not a z-scoreable point
  SELECT * FROM events WHERE isfinite("value")
), med AS (
  SELECT event_type, median("value") AS med
  FROM fe GROUP BY 1
), mad AS (
  SELECT e.event_type, any_value(m.med) AS med,
         median(abs(e."value" - m.med)) AS mad
  FROM fe e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, round(e."value", 4) AS value,
       floor((e."value" - m.med) / ({MAD_K} * m.mad) * 10000 + 0.5) / 10000
           AS robust_z
FROM fe e JOIN mad m ON e.event_type = m.event_type
WHERE m.mad > 0 AND abs(e."value" - m.med) > {MAD_T} * {MAD_K} * m.mad
"""


@register("w_anomaly_mad", oracle=_ANOMALY_MAD)
def w_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: events whose value sits more than 3 scaled
    MADs from their type's median (the median/MAD twin of q_outliers'
    mean/stddev z-score — immune to the outliers it hunts).

    Two aggregation passes (median, then MAD around it) + one broadcast
    of the type-sized stats frame back onto the scan. Scale: both passes
    shuffle on event_type only; exact medians at 100 TB would ride
    approx_percentile with the same plan shape (the exact/approx twin
    convention used across the suite).
    """
    # finite-domain contract (r9 NaN/Inf class): see _ANOMALY_MAD's fe CTE
    ev = load_table(spark, sf_dir, "events").where(
        finite_or_null(F.col("value")).isNotNull()
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
        )
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    robust_z = (F.col("value") - F.col("med")) / (MAD_K * F.col("mad"))
    # mad == 0 (a type where >= half the values equal the median) must be
    # excluded, not flagged: the gate would degenerate to value != median
    # and robust_z to a div-by-zero NULL — such types need a fallback
    # scale (e.g. IQR or stddev), which is q_outliers' job.
    return scored.where(
        (F.col("mad") > 0)
        & (F.abs(F.col("value") - F.col("med")) > MAD_T * MAD_K * F.col("mad"))
    ).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        (F.floor(robust_z * 10000 + F.lit(0.5)) / 10000).alias("robust_z"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (recursion rewritten as prefix-sum minus running min)
# ---------------------------------------------------------------------------

CUSUM_H = 3.0  # drift alarm threshold, in per-type daily-mean stddevs

_CUSUM = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         avg(CASE WHEN isfinite("value") THEN "value" END) AS day_avg
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), stats AS (
  SELECT event_type, avg(day_avg) AS mu, stddev_samp(day_avg) AS sigma
  FROM daily GROUP BY 1
), summed AS (
  SELECT d.event_type, d.day, s.sigma,
         sum(d.day_avg - s.mu) OVER (PARTITION BY d.event_type
                                     ORDER BY d.day
                                     ROWS UNBOUNDED PRECEDING) AS p
  FROM daily d JOIN stats s USING (event_type)
), walked AS (
  SELECT event_type, day, sigma, p,
         min(p) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS min_p
  FROM summed
)
SELECT event_type, day,
       floor((p - least(min_p, 0)) / nullif(sigma, 0) * 10000 + 0.5) / 10000
         AS cusum_sigmas,
       (p - least(min_p, 0)) > {CUSUM_H} * sigma AS drift
FROM walked
"""


@register("w_cusum", oracle=_CUSUM)
def w_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector over per-type daily mean values.
    The textbook statistic is recursive — S_i = max(0, S_{i-1} + x_i) —
    which looks like it forces a sequential scan; it is rewritten here
    with the closed form S_i = P_i - min(0, min_{j<=i} P_j) (P = prefix
    sum), so the whole walk is two stacked window frames: a running sum
    and a running min OF that sum. Emits the normalized statistic (in
    sigmas) and a drift flag at CUSUM_H sigmas.

    Scale: two partial-agg'd shuffles (daily rollup, per-type stats —
    the stats frame is k rows, broadcast back), then one window shuffle
    partitioned by event_type whose per-partition state is bounded by
    days-per-type, not events. The recursion-to-prefix-sum rewrite is
    what makes this distributable at all; the same identity powers the
    packing prefix sums (pipeline.py) at 3 levels if type cardinality
    collapses."""
    # NULL-time contract (r9): a NULL day would sort at OPPOSITE ends
    # of the prefix-sum walk in the two engines and has no place on a
    # drift timeline — excluded on both sides.
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.avg(finite_or_null(F.col("value"))).alias("day_avg"))
    stats = daily.groupBy("event_type").agg(
        F.avg("day_avg").alias("mu"),
        F.stddev_samp("day_avg").alias("sigma"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("p", F.sum(F.col("day_avg") - F.col("mu")).over(w))
        .withColumn("min_p", F.min("p").over(w))
    )
    s = F.col("p") - F.least(F.col("min_p"), F.lit(0.0))
    return walked.select(
        "event_type",
        "day",
        (
            F.floor(s / F.nullif(F.col("sigma"), F.lit(0.0)) * 10000 + F.lit(0.5))
            / 10000
        ).alias("cusum_sigmas"),
        (s > CUSUM_H * F.col("sigma")).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Seasonality profile: hour-of-day x day-of-week additive decomposition
# ---------------------------------------------------------------------------

_SEASONALITY = """
WITH cells AS (
  -- exact integer-cent accumulation (the q19 midpoint lesson): every
  -- mean below is a ratio of exact integers computed by an IDENTICAL
  -- division tree on both engines, so no floor(x*10000+0.5) boundary
  -- can flip on summation-order float drift. nv (non-NULL count) keeps
  -- avg()'s NULL-skipping semantics; nv = 0 cells yield NULL via the
  -- CASE guard exactly like avg() of nothing.
  SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,  -- Spark 1=Sun..7=Sat
         CAST(hour(ts) AS INTEGER) AS hod,
         count(*) AS n_events,
         count(v) AS nv,
         coalesce(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)), 0) AS cents
  FROM (SELECT ts, CASE WHEN isfinite("value") THEN "value" END AS v
        FROM events)
  GROUP BY 1, 2
), grand AS (
  SELECT sum(cents) AS gc, sum(nv) AS gn FROM cells
), dow_eff AS (
  SELECT dow, sum(cents) AS dc, sum(nv) AS dn FROM cells GROUP BY dow
), hod_eff AS (
  SELECT hod, sum(cents) AS hc, sum(nv) AS hn FROM cells GROUP BY hod
)
SELECT c.dow, c.hod, CAST(c.n_events AS BIGINT) AS n_events,
       floor(CASE WHEN c.nv = 0 THEN NULL
                  ELSE CAST(c.cents AS DOUBLE) / c.nv / 100 END
             * 10000 + 0.5) / 10000 AS cell_avg,
       floor((CASE WHEN c.nv = 0 THEN NULL
                   ELSE CAST(c.cents AS DOUBLE) / c.nv / 100 END
              - CASE WHEN d.dn = 0 THEN NULL
                     ELSE CAST(d.dc AS DOUBLE) / d.dn / 100 END
              - CASE WHEN h.hn = 0 THEN NULL
                     ELSE CAST(h.hc AS DOUBLE) / h.hn / 100 END
              + CASE WHEN g.gn = 0 THEN NULL
                     ELSE CAST(g.gc AS DOUBLE) / g.gn / 100 END)
             * 10000 + 0.5) / 10000 AS residual
FROM cells c
JOIN dow_eff d USING (dow)
JOIN hod_eff h USING (hod)
CROSS JOIN grand g
"""


@register("w_seasonality", oracle=_SEASONALITY)
def w_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way seasonality decomposition of the event stream: the
    day-of-week x hour-of-day grid with each cell's mean value and its
    residual under the additive model cell ≈ dow_effect + hod_effect −
    grand_mean — the classic profile behind 'is Tuesday 3am traffic
    anomalous, or just Tuesday 3am'. Complements the sequential
    detectors (w_cusum, w_anomaly_mad) with the calendar-structured
    one; event-weighted means keep the marginals consistent with the
    cell grid they came from.

    Scale: the corpus collapses to the ≤ 7x24 cell grid in ONE
    partial-agg'd shuffle; every downstream frame (marginals, grand
    mean) derives from those 168 rows, so three broadcast joins finish
    the query without touching events again. Sum/count pairs (not avg
    of avgs) make every marginal exactly mergeable — the same
    decomposition a continuous rollup would maintain incrementally."""
    ev = load_table(spark, sf_dir, "events")
    # exact integer-cent accumulation (q19 midpoint lesson, found here
    # by the r9 NULL-ts probe shifting a marginal mean onto a rounding
    # boundary): every mean is a ratio of exact integer sums, divided
    # in the SAME tree shape as the oracle, so no summation-order float
    # drift can flip a floor(x*10000+0.5) boundary.
    # finite_or_null: one Inf reading would otherwise overflow the
    # ANSI cents cast and crash the whole rollup (r9 NaN/Inf class)
    v = finite_or_null(F.col("value"))
    cents = F.floor(v * 100 + F.lit(0.5)).cast("long")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(v).alias("nv"),
        F.coalesce(F.sum(cents), F.lit(0)).alias("cents"),
    )
    grand = cells.agg(
        F.sum("cents").alias("gc"), F.sum("nv").alias("gn")
    )
    dow_eff = cells.groupBy("dow").agg(
        F.sum("cents").alias("dc"), F.sum("nv").alias("dn")
    )
    hod_eff = cells.groupBy("hod").agg(
        F.sum("cents").alias("hc"), F.sum("nv").alias("hn")
    )

    def mean(cents_col, n_col):
        # NULL when the count is 0, matching avg() of an all-NULL cell
        return F.when(
            F.col(n_col) > 0,
            F.col(cents_col).cast("double") / F.col(n_col) / 100,
        )

    return (
        cells.join(F.broadcast(dow_eff), "dow")
        .join(F.broadcast(hod_eff), "hod")
        .crossJoin(F.broadcast(grand))
        .select(
            "dow",
            "hod",
            F.col("n_events").cast("long").alias("n_events"),
            half_up(mean("cents", "nv")).alias("cell_avg"),
            half_up(
                mean("cents", "nv")
                - mean("dc", "dn")
                - mean("hc", "hn")
                + mean("gc", "gn")
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# Running-peak drawdown per user equity curve
# ---------------------------------------------------------------------------

_DRAWDOWN = """
WITH curve AS (
  SELECT user_id, ts, event_id,
         sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                          ROWS UNBOUNDED PRECEDING) AS equity
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
    AND isfinite("value")
), peaked AS (
  SELECT user_id, equity,
         max(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS LAST
                           ROWS UNBOUNDED PRECEDING) AS peak
  FROM curve
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_points,
       floor(max(peak - equity) * 10000 + 0.5) / 10000 AS max_drawdown,
       floor(max(CASE WHEN peak > 0 THEN (peak - equity) / peak
                      ELSE 0 END) * 10000 + 0.5) / 10000 AS max_drawdown_pct
FROM peaked
GROUP BY user_id
"""


@register("w_drawdown", oracle=_DRAWDOWN)
def w_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative purchase-value curve:
    running peak minus current equity, the risk metric every
    time-series toolkit ships. Two stacked frames (running sum, then
    running max OF that sum) — the same prefix-identity family as
    w_cusum, which tracks the running MIN of the prefix instead.

    Scale: one shuffle partitioned by user_id; per-partition state is
    one user's purchase history. The filter reaches the scan (pushed
    event_type predicate), and the final rollup is partial-agg'd."""
    # NULL-time contract (r9): a purchase without a timestamp has no
    # position on the equity curve — excluded on both sides.
    # finite-domain contract (r9 NaN/Inf class): a purchase with a
    # corrupt (non-finite) amount contributes no point to the equity
    # curve — one Inf would otherwise pin the running peak forever
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & finite_or_null(F.col("value")).isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = ev.withColumn("equity", F.sum("value").over(w)).withColumn(
        "peak", F.max(F.col("equity")).over(w)
    )
    dd = F.col("peak") - F.col("equity")

    return curve.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        half_up(F.max(dd)).alias("max_drawdown"),
        half_up(
            F.max(
                F.when(F.col("peak") > 0, dd / F.col("peak")).otherwise(0.0)
            )
        ).alias("max_drawdown_pct"),
    )


# ---------------------------------------------------------------------------
# Week-over-week change per event type
# ---------------------------------------------------------------------------

_WOW = """
WITH weekly AS (
  SELECT event_type, date_trunc('week', ts) AS week,
         count(*) AS n_events,
         sum(CASE WHEN isfinite("value") THEN "value" END) AS total
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), laged AS (
  SELECT event_type, week, n_events, total,
         lag(n_events) OVER (PARTITION BY event_type ORDER BY week)
           AS prev_n,
         lag(total) OVER (PARTITION BY event_type ORDER BY week)
           AS prev_total
  FROM weekly
)
SELECT event_type, week, CAST(n_events AS BIGINT) AS n_events,
       floor(total * 100 + 0.5) / 100 AS total,
       CAST(n_events - prev_n AS BIGINT) AS n_delta,
       floor(CASE WHEN prev_total <> 0
                  THEN (total - prev_total) / prev_total END
             * 10000 + 0.5) / 10000 AS pct_change
FROM laged
"""


@register("w_wow_change", oracle=_WOW)
def w_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week deltas per event type — the BI staple: weekly
    rollup, then lag() against the prior week for absolute and percent
    change (NULL for each type's first week and zero-base weeks, same
    on both engines).

    Scale: the corpus collapses to the |types| x |weeks| frame in one
    partial-agg'd shuffle; the lag window runs on that tiny frame
    partitioned by type. Events are scanned exactly once.

    NULL-time contract (r9): a NULL week would be lag()'d at opposite
    ends by the two engines and has no WoW meaning — excluded."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(finite_or_null(F.col("value"))).alias("total"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    lagged = weekly.withColumn(
        "prev_n", F.lag("n_events").over(w)
    ).withColumn("prev_total", F.lag("total").over(w))
    return lagged.select(
        "event_type",
        "week",
        F.col("n_events").cast("long").alias("n_events"),
        (F.floor(F.col("total") * 100 + F.lit(0.5)) / 100).alias("total"),
        (F.col("n_events") - F.col("prev_n")).cast("long").alias("n_delta"),
        (
            F.floor(
                F.when(
                    F.col("prev_total") != 0,
                    (F.col("total") - F.col("prev_total"))
                    / F.col("prev_total"),
                )
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("pct_change"),
    )
