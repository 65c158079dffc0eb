"""Streaming runtime tests: consumer-context resume, idempotent produce,
stateful sequence validation — the SURVEY.md §2.5/§2.4 semantics on
Structured Streaming.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from streams_spark.streaming.consumer import (
    ConsumerContext,
    read_event_log,
    write_event_log,
)
from streams_spark.streaming.produce import (
    IdempotentLogSink,
    SequenceError,
    stamp_records,
    validate_batch,
)

BASE_TS = dt.datetime(2024, 1, 1)


def _entries(spark, space, segment, seqs):
    rows = [
        (
            space,
            segment,
            s,
            BASE_TS + dt.timedelta(seconds=s),
            "trx",
            "node",
            1,
            f"p{s}".encode(),
            {},
        )
        for s in seqs
    ]
    from streams_spark.schema import EVENT_LOG_SCHEMA

    return spark.createDataFrame(rows, EVENT_LOG_SCHEMA)


def test_consumer_context_resume(spark, tmp_path):
    """AvailableNow drains what exists; a second drain after more files
    appear delivers only the delta (checkpoint offset resume —
    consumer_context.go:166-183 semantics)."""
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    write_event_log(_entries(spark, "s0", "g0", range(1, 51)), log_dir)

    seen: list[int] = []

    def handler(df, batch_id):
        seen.append(df.count())

    ctx = ConsumerContext.for_space(spark, log_dir, ckpt, "s0")
    ctx.consume_available(handler)
    assert sum(seen) == 50

    write_event_log(_entries(spark, "s0", "g0", range(51, 76)), log_dir)
    ctx.consume_available(handler)
    assert sum(seen) == 75  # only the 25 new entries delivered


def test_consumer_context_space_filter(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    write_event_log(_entries(spark, "a", "g0", range(1, 11)), log_dir)
    write_event_log(_entries(spark, "b", "g0", range(1, 21)), log_dir)

    total = []
    ctx = ConsumerContext.for_space(spark, log_dir, ckpt, "b")
    ctx.consume_available(lambda df, bid: total.append(df.count()))
    assert sum(total) == 20


def test_stamp_records_valid_and_contiguous(spark):
    recs = spark.createDataFrame(
        [("s", "g", i, b"x") for i in range(1, 6)],
        "space string, segment string, sequence long, payload binary",
    )
    stamped = stamp_records(recs)
    assert stamped.where(~F.col("valid")).count() == 0
    validate_batch(stamped)  # no raise


def test_stamp_records_rejects_gap(spark):
    recs = spark.createDataFrame(
        [("s", "g", i, b"x") for i in [1, 2, 4]],
        "space string, segment string, sequence long, payload binary",
    )
    stamped = stamp_records(recs)
    with pytest.raises(SequenceError):
        validate_batch(stamped)


def test_stamp_records_resumes_from_tail(spark):
    recs = spark.createDataFrame(
        [("s", "g", i, b"x") for i in [101, 102]],
        "space string, segment string, sequence long, payload binary",
    )
    tails = spark.createDataFrame(
        [("s", "g", 100)], "space string, segment string, last_sequence long"
    )
    validate_batch(stamp_records(recs, last_sequences=tails))
    # wrong tail → reject
    bad_tails = spark.createDataFrame(
        [("s", "g", 50)], "space string, segment string, last_sequence long"
    )
    with pytest.raises(SequenceError):
        validate_batch(stamp_records(recs, last_sequences=bad_tails))


def test_idempotent_sink_skips_duplicate_batch(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    ledger = str(tmp_path / "ledger")
    sink = IdempotentLogSink(log_dir, ledger)
    df = _entries(spark, "s0", "g0", range(1, 11))
    sink(df, batch_id=0)
    sink(df, batch_id=0)  # duplicate delivery — must be a no-op
    assert read_event_log(spark, log_dir).count() == 10
    statuses = sink.statuses()
    assert len(statuses) == 1
    assert statuses[0]["segments"][0]["last_sequence"] == 10


def test_streaming_sequence_validation_state(spark, tmp_path):
    """applyInPandasWithState carries last_sequence across micro-batches."""
    from streams_spark.schema import EVENT_LOG_SCHEMA
    from streams_spark.streaming.state import streaming_sequence_validation

    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    # one ordered file per produce chunk (the reference commits chunks in
    # sequence order — service.go:308); sequences 1..20 then 21..30
    write_event_log(
        _entries(spark, "s0", "g0", range(1, 21)).coalesce(1), log_dir
    )

    stream = (
        spark.readStream.schema(EVENT_LOG_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(log_dir)
    )
    out = streaming_sequence_validation(stream)
    collected: list = []

    def drain():
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    ok = sum(r.n_ok for r in collected)
    bad = sum(r.n_violations for r in collected)
    last = max(r.last_sequence for r in collected)
    assert (ok, bad, last) == (20, 0, 20)

    # second drain: continues from state (21 is valid only because the
    # state store remembers last=20)
    write_event_log(
        _entries(spark, "s0", "g0", range(21, 31)).coalesce(1), log_dir
    )
    collected.clear()
    drain()
    ok = sum(r.n_ok for r in collected)
    bad = sum(r.n_violations for r in collected)
    last = max(r.last_sequence for r in collected)
    assert (ok, bad, last) == (10, 0, 30)


def test_produce_layout_partition_prunes(spark, tmp_path):
    """The canonical log layout (partitionBy space) must turn a space
    predicate into partition pruning, the Spark analog of the reference's
    LSM key-range bounds (SURVEY.md §1.2): a consume of one space reads
    only that space's files."""
    log_dir = str(tmp_path / "log")
    ledger = str(tmp_path / "ledger")
    sink = IdempotentLogSink(log_dir, ledger)
    for i, sp in enumerate(["alpha", "beta", "gamma"]):
        sink(_entries(spark, sp, "g0", range(1, 6)), batch_id=i)
    from streams_spark.plans.inspect import partition_filters

    log = read_event_log(spark, log_dir)
    one_space = log.where(F.col("space") == "beta")
    assert one_space.count() == 5
    # the space predicate must appear as a partition filter on the scan,
    # not (only) as a post-scan data filter
    pf = partition_filters(one_space)
    assert pf and any("beta" in l or "space" in l for l in pf), pf


def test_subscriptions_route_keyed_dispatch(spark, tmp_path):
    """SubscribeToSpace/SubscribeToSegment analog: post-commit
    SegmentStatus notifications reach exactly the matching routes
    (/root/reference/client.go:188-206)."""
    from streams_spark.streaming.subscriptions import SubscriptionHub

    hub = SubscriptionHub()
    space_hits, seg_hits, other_hits = [], [], []
    hub.subscribe_to_space("alpha", space_hits.append)
    hub.subscribe_to_segment("alpha", "g0", seg_hits.append)
    hub.subscribe_to_space("beta", other_hits.append)

    sink = IdempotentLogSink(
        str(tmp_path / "log"), str(tmp_path / "ledger"), hub=hub
    )
    sink(_entries(spark, "alpha", "g0", range(1, 6)), batch_id=0)
    sink(_entries(spark, "alpha", "g1", range(1, 4)), batch_id=1)
    sink(_entries(spark, "alpha", "g1", range(1, 4)), batch_id=1)  # dup: no-op

    assert len(space_hits) == 2  # both alpha batches
    assert len(seg_hits) == 1 and seg_hits[0].segment == "g0"
    assert seg_hits[0].last_sequence == 5 and seg_hits[0].n_entries == 5
    assert other_hits == []  # beta never produced


def test_client_produce_publish_roundtrip(spark, tmp_path):
    """Produce/Publish parity: bulk append, auto-sequenced single event,
    whole-batch rejection on a gap (client.go:126-178 semantics)."""
    from streams_spark import client

    log_dir = str(tmp_path / "plog")
    recs = spark.createDataFrame(
        [("s0", "g0", i, b"x") for i in range(1, 11)],
        "space string, segment string, sequence long, payload binary",
    )
    status = client.produce(recs, log_dir)
    assert status[0].first_sequence == 1 and status[0].last_sequence == 10

    log = read_event_log(spark, log_dir)
    st = client.publish(spark, log_dir, "s0", "g0", b"one-more", log=log)
    assert st[0].first_sequence == 11 and st[0].last_sequence == 11
    assert read_event_log(spark, log_dir).count() == 11

    gap = spark.createDataFrame(
        [("s0", "g0", 13, b"x")],
        "space string, segment string, sequence long, payload binary",
    )
    tails = spark.createDataFrame(
        [("s0", "g0", 11)], "space string, segment string, last_sequence long"
    )
    with pytest.raises(SequenceError):
        client.produce(gap, log_dir, last_sequences=tails)
    # rejected batch must not have written anything
    assert read_event_log(spark, log_dir).count() == 11


def test_store_compact_preserves_data_and_reduces_files(spark, tmp_path):
    """compact() is the LSM-compaction analog: many small produce files
    per space collapse to one sorted file, data and layout contract
    (partitionBy space, ordered (segment, sequence)) preserved; spaces
    outside the compaction set keep their files."""
    from streams_spark import store

    log_dir = str(tmp_path / "clog")
    for b in range(5):  # 5 small appends per space
        for sp in ["alpha", "beta"]:
            store.write_event_log(
                _entries(spark, sp, f"g{b % 2}", range(b * 10 + 1, b * 10 + 11)),
                log_dir,
            )
    before = store.log_file_stats(spark, log_dir)
    assert before["alpha"] == 5 and before["beta"] == 5
    total_before = store.read_event_log(spark, log_dir).count()

    store.compact(spark, log_dir, spaces=["alpha"])
    after = store.log_file_stats(spark, log_dir)
    assert after["alpha"] == 1        # compacted
    assert after["beta"] == 5         # untouched
    df = store.read_event_log(spark, log_dir)
    assert df.count() == total_before
    # layout contract: the compacted file is internally ordered by
    # (segment, sequence) — read the single file directly, no sort
    import os as _os

    part_dir = _os.path.join(log_dir, "space=alpha")
    [fname] = [f for f in _os.listdir(part_dir) if f.endswith(".parquet")]
    raw = spark.read.parquet(_os.path.join(part_dir, fname)).select(
        "segment", "sequence"
    )
    rows = [(r.segment, r.sequence) for r in raw.collect()]
    assert rows == sorted(rows)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join with ZERO shuffle — the
    write-once/co-located-forever layout for repeatedly joined facts."""
    from streams_spark import store
    from streams_spark.plans.inspect import assert_no_shuffle

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path / 'warehouse'}'"
    )
    li = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v1")
    )
    orders = spark.range(0, 500).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v2")
    )
    store.write_bucketed(li, "bktest.t_left", ["k"], n_buckets=8)
    store.write_bucketed(orders, "bktest.t_right", ["k"], n_buckets=8)
    # disable broadcast so the join strategy is decided by layout alone
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bktest.t_left").join(
            spark.table("bktest.t_right"), "k"
        )
        assert_no_shuffle(joined)
        assert joined.count() == 5000  # 10 left x 5 right per key x 100 keys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bktest.t_left")
        spark.sql("DROP TABLE IF EXISTS bktest.t_right")


def test_streaming_produce_end_to_end(spark, tmp_path):
    """readStream(records) → chunk → peek tails → stamp/validate →
    idempotent commit → notifications: the whole reference produce
    pipeline (service.go:296-335) as one streaming query."""
    from streams_spark.streaming.produce import streaming_produce
    from streams_spark.streaming.subscriptions import SubscriptionHub

    records_dir = str(tmp_path / "records")
    log_dir = str(tmp_path / "log")

    def stage(seqs):
        spark.createDataFrame(
            [("s0", "g0", i, b"x") for i in seqs],
            "space string, segment string, sequence long, payload binary",
        ).coalesce(1).write.mode("append").parquet(records_dir)

    hub = SubscriptionHub()
    statuses = []
    hub.subscribe_to_space("s0", statuses.append)

    stage(range(1, 11))
    q = streaming_produce(
        spark, records_dir, log_dir,
        str(tmp_path / "ledger"), str(tmp_path / "ckpt"), hub=hub,
    )
    q.awaitTermination()
    log = spark.read.parquet(log_dir)
    assert log.count() == 10
    assert [s.last_sequence for s in statuses] == [10]

    # second drain resumes from the committed tail (11 valid after 10)
    stage(range(11, 16))
    q = streaming_produce(
        spark, records_dir, log_dir,
        str(tmp_path / "ledger"), str(tmp_path / "ckpt"), hub=hub,
    )
    q.awaitTermination()
    assert spark.read.parquet(log_dir).count() == 15
    assert statuses[-1].last_sequence == 15
    # the committed log is gapless end to end
    seqs = sorted(
        r.sequence for r in spark.read.parquet(log_dir).collect()
    )
    assert seqs == list(range(1, 16))


def test_produce_abort_mid_commit_no_orphans_clean_retry(
    spark, tmp_path, monkeypatch
):
    """Rollback guarantee (the reference's explicit Rollback verb,
    service.go:509-523): a batch killed BETWEEN the parquet write and the
    ledger record (phase 1 done, phase 2 not) must (a) leak no rows into
    the read-committed view, and (b) retry cleanly on the next run of the
    same checkpoint — no duplicates, no phantom sequence gap."""
    import pyspark.sql.utils

    from streams_spark.streaming import produce as P
    from streams_spark.streaming.produce import (
        IdempotentLogSink,
        streaming_produce,
    )

    records_dir = str(tmp_path / "records")
    log_dir = str(tmp_path / "log")
    ledger_dir = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def stage(seqs):
        spark.createDataFrame(
            [("s0", "g0", i, b"x") for i in seqs],
            "space string, segment string, sequence long, payload binary",
        ).coalesce(1).write.mode("append").parquet(records_dir)

    # batch 0 commits normally
    stage(range(1, 11))
    streaming_produce(
        spark, records_dir, log_dir, ledger_dir, ckpt
    ).awaitTermination()

    # batch 1 dies mid-commit: parquet write lands, ledger write raises
    stage(range(11, 16))
    real_dump = P.json.dump

    def boom(*a, **k):
        raise OSError("simulated crash between phase 1 and phase 2")

    monkeypatch.setattr(P.json, "dump", boom)
    q = streaming_produce(spark, records_dir, log_dir, ledger_dir, ckpt)
    with pytest.raises(Exception):
        q.awaitTermination()
    monkeypatch.setattr(P.json, "dump", real_dump)

    sink = IdempotentLogSink(log_dir, ledger_dir)
    # phase-1 residue is on disk but MUST NOT surface as committed rows
    assert os.path.isdir(os.path.join(log_dir, "commit_batch=1"))
    assert sink.committed_ids() == [0]
    committed = sink.read_committed(spark)
    assert committed.count() == 10
    assert committed.agg(F.max("sequence").alias("m")).collect()[0].m == 10

    # retry from the same checkpoint: batch 1 re-delivers, residue is
    # rolled back, commit completes — gapless, no duplicates
    streaming_produce(
        spark, records_dir, log_dir, ledger_dir, ckpt
    ).awaitTermination()
    sink = IdempotentLogSink(log_dir, ledger_dir)
    assert sink.committed_ids() == [0, 1]
    seqs = sorted(
        r.sequence for r in sink.read_committed(spark).collect()
    )
    assert seqs == list(range(1, 16))


def test_sink_rollback_refuses_committed_batch(spark, tmp_path):
    """Rollback must never delete committed data — parity with the
    reference, which only rolls back pending transactions."""
    sink = IdempotentLogSink(str(tmp_path / "log"), str(tmp_path / "ledger"))
    sink(_entries(spark, "s0", "g0", range(1, 4)), batch_id=0)
    with pytest.raises(ValueError):
        sink.rollback(0)


def test_transform_with_state_profile_matches_batch(spark):
    """The keyed-map-state profile (st_transform_with_state) must equal
    the batch groupBy computed on the same corpus — on whichever path
    the environment selects (Spark 4 transformWithState when protobuf
    exists, the applyInPandasWithState fold otherwise)."""
    from streams_spark.operators.streaming_queries import (
        st_transform_with_state,
    )
    from streams_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_types, r.n_events, r.top_type)
        for r in st_transform_with_state(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").count()
    want = {}
    for r in per_type.collect():
        want.setdefault(r.user_id, {})[r.event_type] = r["count"]
    assert len(got) == len(want)
    for uid, counts in want.items():
        top = min(counts.items(), key=lambda p: (-p[1], p[0]))[0]
        assert got[uid] == (len(counts), sum(counts.values()), top)


def test_transform_with_state_real_api_path(spark):
    """Exercises the genuine Spark 4 transformWithState path; skipped
    where pyspark's protobuf dependency is absent (this container)."""
    from streams_spark.operators import streaming_queries as sq

    if not sq.has_transform_with_state():
        pytest.skip(
            "google.protobuf not installed; real path unavailable — "
            "closed permanently, see TWS_IMPOSSIBILITY.md (exact "
            "import chain, exhausted closure routes)"
        )
    stream = sq._events_stream(spark, "/root/testdata/sf0.001")
    out = sq._type_profile_tws(stream, spark)
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_types", "n_events", "top_type",
    ]


def test_stream_outer_join_nulls_match_batch_anti_join(spark, sf_dir):
    """The left-outer stream-stream join's NULL rows are exactly the
    clicks the batch anti-join finds (no purchase by the same user in
    the 10 minutes after), each click emitted exactly once as a null
    row or >=1 matched rows — and no sentinel heartbeat rows leak."""
    import pyspark.sql.functions as F

    from streams_spark.registry import load_all
    from streams_spark.sources.tables import load_table

    out = load_all()["st_stream_outer_join"].fn(spark, sf_dir).collect()
    assert all(r.user_id >= 0 for r in out), "sentinels must be filtered"
    null_clicks = {r.click_id for r in out if r.purchase_id is None}
    matched_clicks = {r.click_id for r in out if r.purchase_id is not None}
    assert null_clicks.isdisjoint(matched_clicks)

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    anti = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (clicks.ts >= purchases.p_ts - F.expr("INTERVAL 10 MINUTES"))
        & (clicks.ts < purchases.p_ts),
        "left_anti",
    )
    expected_nulls = {r.event_id for r in anti.collect()}
    assert null_clicks == expected_nulls
    assert len(null_clicks) > 0 and len(matched_clicks) > 0


def test_stateful_agg_recovers_state_across_query_restart(spark, tmp_path):
    """A stateful streaming aggregation stopped after its first file and
    RESTARTED from the same checkpoint must fold the second file into
    the recovered state store (not recount from scratch, not lose the
    first batch): the final update-mode totals equal the batch
    aggregation over both files. This is the crash/upgrade restart
    guarantee checkpoints exist for — the cross-restart analog of the
    in-run batch folding st_cdc_apply proves."""
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)

    def write_file(rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(feed)

    base = dt.datetime(2024, 1, 1)
    f1 = [(u, base + dt.timedelta(minutes=u), float(u)) for u in range(6)]
    f2 = [
        (u, base + dt.timedelta(minutes=30 + u), 10.0 + u) for u in range(3)
    ]

    def run_once():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(feed)
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        sink = {}

        def sink_batch(bdf, bid):
            for r in bdf.collect():
                sink[r.user_id] = (r.n, r.total)

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    write_file(f1)
    first = run_once()
    assert first[2] == (1, 2.0)

    write_file(f2)
    second = run_once()  # NEW query instance, same checkpoint
    # users 0-2: state recovered (count 2, sum includes file 1's value)
    for u in range(3):
        assert second[u] == (2, float(u) + 10.0 + u)
    # users 3-5 saw no new rows: update mode re-emits nothing for them
    assert all(u not in second for u in range(3, 6))


def test_events_stream_reads_directory_shaped_table(spark, sf_dir, tmp_path):
    """_events_stream must read events.parquet whether it is a single
    file (testdata layout) or a directory of part files (real table
    layout) — the glob-only form read a directory as silently EMPTY."""
    import shutil
    import uuid

    from streams_spark.operators.streaming_queries import _events_stream
    from streams_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    root = str(tmp_path / "sfdir")
    os.makedirs(root)
    ev.write.parquet(f"{root}/events.parquet")  # directory of parts

    sink = f"dirshape_{uuid.uuid4().hex[:6]}"
    q = (
        _events_stream(spark, root)
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(sink).count() == n


def test_compact_preserves_sink_commit_batch_layout(spark, tmp_path):
    """Compacting a log produced by IdempotentLogSink (commit_batch=/
    space= two-level layout) must preserve that scheme: reads keep
    working, rows are intact, the committed-batch replay filter still
    applies, and log_file_stats sees the files. (A space=-only rewrite
    used to corrupt the dir with CONFLICTING_PARTITION_COLUMN_NAMES.)"""
    from streams_spark.store import compact, log_file_stats

    log_dir = str(tmp_path / "log")
    ledger = str(tmp_path / "ledger")
    sink = IdempotentLogSink(log_dir, ledger)
    sink(_entries(spark, "s0", "g0", range(1, 11)), batch_id=0)
    sink(_entries(spark, "s1", "g0", range(1, 6)), batch_id=1)

    before = {(r.space, r.segment, r.sequence) for r in sink.read_committed(spark).collect()}
    compact(spark, log_dir)

    after_df = sink.read_committed(spark)
    after = {(r.space, r.segment, r.sequence) for r in after_df.collect()}
    assert after == before and len(after) == 15

    stats = log_file_stats(spark, log_dir)
    assert stats.get("s0") and stats.get("s1")

    # replay of an already-committed batch is still a no-op post-compact
    sink(_entries(spark, "s0", "g0", range(1, 11)), batch_id=0)
    assert sink.read_committed(spark).count() == 15


def test_cached_feed_evicts_stale_partial_dir(sf_dir, monkeypatch, tmp_path):
    """A pre-existing feed dir WITHOUT _SUCCESS (interrupted cleanup,
    disk-full remnant) must be evicted and replaced by the fresh build,
    not returned broken forever; a complete dir must be reused without
    rebuilding. Cache root is per-uid and 0700."""
    import os
    import stat

    from streams_spark.sources.feed_cache import cached_feed as _cached_feed

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    builds = []

    def build(stage: str) -> None:
        os.makedirs(stage)
        with open(os.path.join(stage, "_SUCCESS"), "w"):
            pass
        builds.append(stage)

    feed = _cached_feed(sf_dir, "evtest", "k", build)
    assert os.path.exists(os.path.join(feed, "_SUCCESS")) and len(builds) == 1
    root = os.path.dirname(feed)
    assert root.endswith(f"pystreams_feeds-{os.getuid()}")
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700

    # complete dir is reused: no rebuild
    assert _cached_feed(sf_dir, "evtest", "k", build) == feed
    assert len(builds) == 1

    # stale partial: drop _SUCCESS, leave junk; next call must rebuild
    os.remove(os.path.join(feed, "_SUCCESS"))
    with open(os.path.join(feed, "part-junk"), "w") as fh:
        fh.write("torn")
    feed2 = _cached_feed(sf_dir, "evtest", "k", build)
    assert len(builds) == 2
    assert os.path.exists(os.path.join(feed2, "_SUCCESS"))
    assert not os.path.exists(os.path.join(feed2, "part-junk"))

    # a cache root that is not a private owned dir is REFUSED, not used
    # (exist_ok=True would otherwise accept an attacker-pre-created root)
    os.chmod(root, 0o750)
    try:
        with pytest.raises(RuntimeError):
            _cached_feed(sf_dir, "evtest", "k", build)
    finally:
        os.chmod(root, 0o700)


def test_ingest_dedup_empty_source_returns_empty_frame(spark, tmp_path):
    """st_ingest_dedup's zero-micro-batch path (empty documents source)
    must return an empty DataFrame with the contract schema, not None."""
    import os

    from streams_spark.registry import load_all

    sf = str(tmp_path / "sf-empty")
    os.makedirs(sf)
    spark.createDataFrame(
        [],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    spark.createDataFrame(
        [],
        "event_id bigint, ts timestamp, event_type string, value double",
    ).write.parquet(os.path.join(sf, "events.parquet"))

    out = load_all()["st_ingest_dedup"].fn(spark, sf)
    assert out is not None
    assert out.count() == 0
    assert set(out.columns) == {"content_md5", "survivor_id", "n_seen"}


def test_peek_returns_one_coherent_entry_on_duplicated_max_sequence(spark):
    """With a duplicated max sequence, peek/peek_all must return fields
    of ONE physical entry, never a stitched row mixing two entries."""
    from streams_spark import client
    from streams_spark.schema import EVENT_LOG_SCHEMA

    rows = []
    for trx, payload in (("trxA", b"pA"), ("trxB", b"pB")):
        rows.append(
            ("s0", "g0", 7, BASE_TS, trx, "node", 1, payload, {})
        )
    log = spark.createDataFrame(rows, EVENT_LOG_SCHEMA)
    for r in (
        client.peek(log, "s0", "g0").collect()
        + client.peek_all(log).collect()
    ):
        assert (r.trx_id, bytes(r.payload)) in {
            ("trxA", b"pA"),
            ("trxB", b"pB"),
        }, "stitched row from two different entries"


def test_read_committed_empty_sink_returns_empty_frame(spark, tmp_path):
    """A sink that committed nothing reads as an empty canonical-schema
    frame, not PATH_NOT_FOUND."""
    sink = IdempotentLogSink(str(tmp_path / "log"), str(tmp_path / "ledger"))
    out = sink.read_committed(spark)
    assert out.count() == 0
    assert "space" in out.columns and "sequence" in out.columns


def test_compact_files_per_space_controls_file_count(spark, tmp_path):
    """compact(files_per_space=N) must actually produce up to N sorted
    files per space (segment-hash buckets), not silently one."""
    from streams_spark.store import compact, log_file_stats, write_event_log

    log_dir = str(tmp_path / "log")
    # 8 segments x 2 appends -> 2 files initially, many segments
    for batch in range(2):
        write_event_log(
            _entries(spark, "s0", f"g{batch}", range(1, 6)).unionByName(
                _entries(spark, "s0", f"h{batch}", range(1, 6))
            ),
            log_dir,
        )
    compact(spark, log_dir, files_per_space=4)
    stats = log_file_stats(spark, log_dir)
    # 4 segments hash into up to 4 buckets; must be >1 file (the old
    # repartition(N, 'space') bug collapsed everything into one)
    assert 1 < stats["s0"] <= 4, stats
    # data intact and per-segment order preserved
    from streams_spark.store import read_event_log

    df = read_event_log(spark, log_dir)
    assert df.count() == 20
    seqs = [
        r.sequence
        for r in df.where(F.col("segment") == "g0")
        .orderBy("sequence")
        .collect()
    ]
    assert seqs == list(range(1, 6))


@pytest.mark.parametrize("builder", ["staged_blob_feed", "jpeg_table_real"])
def test_staged_blob_key_tracks_synthesis_module(
    monkeypatch, spark, sf_dir, builder
):
    """The staged-blob cache key must include multimodal.py itself (the
    synthesis rules live there): editing geometry/spec formulas without
    touching the codec modules must rebuild fixtures, not serve stale
    blobs that no longer match the oracle (ADVICE r9). jpeg_table_real
    once staged through a private copy that left the module out, so it
    is checked through its own entry point too."""
    import os

    import streams_spark.operators.multimodal as mm
    import streams_spark.sources.feed_cache as fc
    from streams_spark.functions import mp3 as mp3_mod

    captured = {}

    def fake_cached_feed(sf_dir, op, extra_key, build):
        captured.update(op=op, key=extra_key)
        raise OSError("capture only")

    monkeypatch.setattr(fc, "cached_feed", fake_cached_feed)
    with pytest.warns(RuntimeWarning):
        if builder == "jpeg_table_real":
            mm.jpeg_table_real(spark, sf_dir)
            # the encoder variant is part of the feed name
            assert captured["op"] == (
                "docjpeg-streams_spark.functions.jpeg.jpeg_encode"
            )
        else:
            sentinel = object()
            out = mm._staged_blob_feed(
                None, sf_dir, "blobtest", [mp3_mod], sentinel
            )
            assert out is sentinel
    st = os.stat(mm.__file__)
    assert f"{st.st_mtime_ns}:{st.st_size}" in captured["key"]
