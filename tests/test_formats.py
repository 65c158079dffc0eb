"""Round-trip guarantees for the JSONL / CSV interchange connectors:
write → read must reproduce the canonical event-log rows exactly,
including binary payloads, string-map metadata, and micro-precision
timestamps."""

from __future__ import annotations

import datetime as dt

from streams_spark.schema import EVENT_LOG_SCHEMA
from streams_spark.sources import formats


def _sample_log(spark):
    rows = [
        (
            "space0",
            "seg1",
            1,
            dt.datetime(2024, 1, 1, 0, 0, 7, 179575),
            "trx-a",
            "node-a",
            1,
            b"\x00binary\xffpayload",
            {"k1": "v1", "k2": "v,2 with comma"},
        ),
        (
            "space0",
            "seg1",
            2,
            dt.datetime(2024, 1, 1, 0, 0, 8, 500000),
            "trx-a",
            "node-a",
            1,
            None,
            None,
        ),
        (
            "space1",
            "seg2",
            1,
            dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
            "trx-b",
            None,
            2,
            b"plain",
            {},
        ),
    ]
    return spark.createDataFrame(rows, EVENT_LOG_SCHEMA)


def _canon(df):
    return sorted(
        (
            r.space,
            r.segment,
            r.sequence,
            r.timestamp,
            r.trx_id,
            r.trx_node,
            r.trx_number,
            bytes(r.payload) if r.payload is not None else None,
            dict(r.metadata) if r.metadata is not None else None,
        )
        for r in df.collect()
    )


def test_jsonl_roundtrip(spark, tmp_path):
    log = _sample_log(spark)
    path = str(tmp_path / "log_jsonl")
    formats.write_event_log_jsonl(log, path)
    back = formats.read_event_log_jsonl(spark, path)
    assert back.schema == EVENT_LOG_SCHEMA or [
        (f.name, f.dataType) for f in back.schema.fields
    ] == [(f.name, f.dataType) for f in EVENT_LOG_SCHEMA.fields]
    assert _canon(back) == _canon(log)


def test_csv_roundtrip(spark, tmp_path):
    log = _sample_log(spark)
    path = str(tmp_path / "log_csv")
    formats.write_event_log_csv(log, path)
    back = formats.read_event_log_csv(spark, path)
    assert _canon(back) == _canon(log)


def test_partitioned_by_space(spark, tmp_path):
    log = _sample_log(spark)
    path = str(tmp_path / "log_parts")
    formats.write_event_log_jsonl(log, path)
    import os

    parts = {e for e in os.listdir(path) if e.startswith("space=")}
    assert parts == {"space=space0", "space=space1"}


def test_orc_roundtrip(spark, tmp_path):
    log = _sample_log(spark)
    path = str(tmp_path / "log_orc")
    formats.write_event_log_orc(log, path)
    back = formats.read_event_log_orc(spark, path)
    # ORC is zero-loss: binary payload and map metadata round-trip natively
    assert _canon(back) == _canon(log)


def test_binaryfile_media_ingestion(spark, tmp_path):
    """read_media_dir maps a directory of raw files onto the canonical
    media schema: typed media_type from extension, payload bytes intact,
    glob pruning at listing time."""
    from streams_spark.operators.multimodal import decode_media
    from streams_spark.sources.formats import read_media_dir

    payloads = {
        "a.jpg": b"\xff\xd8fakejpeg",
        "b.wav": b"RIFFfakewav",
        "c.bin": b"\x00\x01\x02",
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = read_media_dir(spark, str(tmp_path))
    rows = {r.meta.source.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(payloads)
    assert rows["a.jpg"].media_type == "image"
    assert rows["b.wav"].media_type == "audio"
    assert rows["c.bin"].media_type == "binary"
    for name, data in payloads.items():
        assert bytes(rows[name].payload) == data
        assert rows[name].meta.declared_len == len(data)
    assert len({r.doc_id for r in rows.values()}) == 3
    # doc_key is the collision-safe (128-bit) identity
    assert len({r.doc_key for r in rows.values()}) == 3
    assert all(len(r.doc_key) == 32 for r in rows.values())

    only_images = read_media_dir(spark, str(tmp_path), glob="*.jpg")
    assert only_images.count() == 1

    # the ingested frame feeds the decode operator unchanged
    assert decode_media(df).count() == 3


def test_xml_roundtrip(spark, tmp_path):
    log = _sample_log(spark)
    path = str(tmp_path / "log_xml")
    formats.write_event_log_xml(log, path)
    back = formats.read_event_log_xml(spark, path)
    assert _canon(back) == _canon(log)


def test_events_ts_instant_stable_under_non_utc_session(spark, sf_dir):
    """The micros-vintage events file stores its wall clock as a UTC
    instant in TIMESTAMP_NTZ; normalization must land on the same epoch
    instant under ANY session timezone. (A bare NTZ->LTZ cast — or
    to_utc_timestamp — interprets the wall clock in the session zone,
    shifting every instant by the session offset under non-UTC sessions.)
    """
    from pyspark.sql import functions as F

    from streams_spark.sources.tables import load_table

    tz_conf = "spark.sql.session.timeZone"
    orig = spark.conf.get(tz_conf)
    try:
        spark.conf.set(tz_conf, "UTC")
        utc_min = (
            load_table(spark, sf_dir, "events")
            .select(F.min(F.unix_micros("ts")).alias("m"))
            .collect()[0]
            .m
        )
        spark.conf.set(tz_conf, "America/New_York")
        ny_min = (
            load_table(spark, sf_dir, "events")
            .select(F.min(F.unix_micros("ts")).alias("m"))
            .collect()[0]
            .m
        )
    finally:
        spark.conf.set(tz_conf, orig)
    assert ny_min == utc_min


def test_decode_media_real_codec_when_available(spark):
    """decode_media with a REAL codec must report the true dimensions of
    genuinely-encoded image bytes — the consumer-side decode the
    reference leaves to clients. Runs EVERYWHERE: the payload is a valid
    PNG from the repo's stdlib encoder, decoded by Pillow's pil_decode
    when importable, else by the stdlib png_decode wrapped in the same
    drop-in contract (dims + checksum over the encoded payload). Either
    way the assertion is against real byte-level decoding, never the
    deterministic fake."""
    import numpy as np

    from streams_spark.functions.codecs import png_decode, png_encode
    from streams_spark.operators.multimodal import decode_media, pil_decode

    arr = (np.arange(21 * 37 * 3, dtype=np.int64) % 251).astype(
        np.uint8
    ).reshape(21, 37, 3)
    png = png_encode(arr, filter_type=3)
    assert (png_decode(png) == arr).all()  # byte-level round-trip

    try:
        import PIL  # noqa: F401

        codec = pil_decode
    except ImportError:

        def codec(payload: bytes):
            a = png_decode(bytes(payload))
            ch = 1 if a.ndim == 2 else a.shape[2]
            return a.shape[1], a.shape[0], ch, sum(payload) % 1_000_000_007

    media = spark.createDataFrame(
        [(1, "image", png, ("test", len(png)))],
        "doc_id long, media_type string, payload binary, "
        "meta struct<source:string, declared_len:bigint>",
    )
    row = decode_media(media, decode_fn=codec).collect()[0]
    assert (row.width, row.height, row.n_channels) == (37, 21, 3)
    assert row.checksum == sum(png) % 1_000_000_007


def test_default_decoder_selects_by_environment():
    """default_decoder returns the Pillow codec iff Pillow imports."""
    from streams_spark.operators import multimodal as M

    try:
        import PIL  # noqa: F401

        assert M.default_decoder() is M.pil_decode
    except ImportError:
        assert M.default_decoder() is M._fake_decode


_BLOBS = "doc_id long, payload binary"


def test_decode_blobs_zero_one_or_many_rows_in_schema_order(spark):
    """A decode rule may yield zero, one or many rows per blob, and the
    output columns follow the schema string's order."""
    from streams_spark.operators.multimodal import decode_blobs

    blobs = spark.createDataFrame(
        [(1, b""), (2, b"a"), (3, b"abc")], _BLOBS
    ).coalesce(1)

    def explode(doc_id, payload):
        for i, b in enumerate(payload):
            yield (len(payload), i, doc_id, b)

    out = decode_blobs(blobs, explode, "n int, i int, doc_id long, byte int")
    assert out.columns == ["n", "i", "doc_id", "byte"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, 2, 97), (3, 0, 3, 97), (3, 1, 3, 98), (3, 2, 3, 99),
    ]


def test_decode_blobs_empty_batch_keeps_schema_types(spark):
    """A batch whose blobs all yield nothing leaves the worker as an
    empty frame, which must still convert to the schema's types — the
    same for an input with no rows at all."""
    from streams_spark.operators.multimodal import decode_blobs

    schema = "doc_id long, width int, ok boolean, name string, v double"
    types = [
        ("doc_id", "bigint"), ("width", "int"), ("ok", "boolean"),
        ("name", "string"), ("v", "double"),
    ]
    blobs = spark.createDataFrame([(1, b"x"), (2, b"y")], _BLOBS)
    for df in (blobs, blobs.coalesce(1), blobs.where("doc_id < 0")):
        out = decode_blobs(df, lambda doc_id, payload: iter(()), schema)
        assert out.dtypes == types
        assert out.collect() == []


def test_decode_media_null_payload_gives_null_metadata(spark):
    """decode_media propagates a NULL payload to NULL metadata, both in
    a batch mixing NULL and real blobs and in an all-NULL batch."""
    from streams_spark.operators.multimodal import _fake_decode, decode_media

    media = spark.createDataFrame(
        [(1, "image", None), (2, "audio", b"abcd")],
        "doc_id long, media_type string, payload binary",
    )
    for df in (media.coalesce(1), media.where("doc_id = 1")):
        rows = {r.doc_id: r for r in decode_media(df).collect()}
        assert tuple(rows[1]) == (1, "image", None, None, None, None)
        if 2 in rows:
            assert tuple(rows[2]) == (2, "audio", *_fake_decode(b"abcd"))


def test_read_parquet_memo_sees_part_file_rewritten_in_place(spark, tmp_path):
    """Rewriting a part file in place leaves its directory's mtime
    alone; the memo must still re-resolve the directory (the old
    resolution carries the old file listing and footer schema), and
    keep one entry per path."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streams_spark.sources import tables

    feed = tmp_path / "feed"
    feed.mkdir()
    part = feed / "part-0.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), part)
    first = tables.read_parquet_memo(spark, str(feed))
    assert sorted(r.x for r in first.collect()) == [1, 2]
    assert tables.read_parquet_memo(spark, str(feed)) is first

    dir_st = os.stat(feed)
    pq.write_table(pa.table({"y": [7, 8, 9]}), part)
    st = os.stat(part)
    # a distinct mtime even on a coarse-grained filesystem clock, and
    # the directory's own identity pinned to what the memo saw
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    os.utime(feed, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))

    second = tables.read_parquet_memo(spark, str(feed))
    assert second.columns == ["y"]
    assert sorted(r.y for r in second.collect()) == [7, 8, 9]
    assert [k for k in tables._READ_MEMO if k[1] == str(feed)] == [
        (spark.sparkContext.applicationId, str(feed))
    ]


def _rowgroups_overlapping(path, col, lo, hi):
    """Count parquet row groups whose [min,max] stats overlap [lo,hi],
    and the total row-group count — straight from the footers."""
    import os

    import pyarrow.parquet as pq

    hit = total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                total += 1
                if st is None or st.min is None:
                    hit += 1
                elif not (st.max < lo or st.min > hi):
                    hit += 1
    return hit, total


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout must let row-group min/max stats skip on BOTH
    dimensions, where the single-column sort only skips on its leading
    column. Verified from the real Parquet footers on a frame with
    genuine 2-D extent (256 users x 365 days, hash-decorrelated): for a
    narrow user predicate the day-sorted layout leaves every row group
    overlapping while z-order skips a majority, and z-order still
    prunes on day."""
    from pyspark.sql import functions as F

    from streams_spark.store import write_zordered

    ev = spark.range(20_000).select(
        F.col("id").alias("event_id"),
        (F.abs(F.xxhash64("id")) % 256).alias("user_id"),
        (F.abs(F.xxhash64(F.col("id") + 1_000_000)) % 365 + 1).alias("day"),
    )
    day_sorted = str(tmp_path / "day_sorted")
    (
        ev.repartitionByRange(64, "day")
        .sortWithinPartitions("day")
        .write.mode("overwrite")
        .parquet(day_sorted)
    )
    zordered = str(tmp_path / "zordered")
    write_zordered(ev, zordered, "user_id", "day", n_files=64)

    lo_u, hi_u = 32, 39  # 8 of 256 users (~3%)
    z_hit_u, z_tot = _rowgroups_overlapping(zordered, "user_id", lo_u, hi_u)
    d_hit_u, d_tot = _rowgroups_overlapping(day_sorted, "user_id", lo_u, hi_u)
    assert z_tot >= 32 and d_tot >= 32
    # day-sorted layout cannot skip on user_id (every group spans users)
    assert d_hit_u >= 0.9 * d_tot
    # z-order skips a majority of row groups on the same predicate
    assert z_hit_u <= 0.5 * z_tot, (z_hit_u, z_tot)

    lo_d, hi_d = 100, 129  # 30 of 365 days (~8%)
    z_hit_d, _ = _rowgroups_overlapping(zordered, "day", lo_d, hi_d)
    d_hit_d, _ = _rowgroups_overlapping(day_sorted, "day", lo_d, hi_d)
    assert z_hit_d <= 0.6 * z_tot, (z_hit_d, z_tot)
    assert d_hit_d <= z_hit_d + 2  # leading-col sort stays best on day

    # layout changes bytes, never rows
    assert (
        spark.read.parquet(zordered).count()
        == spark.read.parquet(day_sorted).count()
        == 20_000
    )


def test_aqe_final_plan_coalesces_shuffle_reads(spark, sf_dir):
    """Runtime evidence that AQE re-plans our declarative queries: the
    executed (final) adaptive plan of a multi-shuffle aggregate must
    coalesce at least one shuffle read at test scale."""
    from streams_spark.plans.inspect import aqe_final_summary
    from streams_spark.registry import load_all

    df = load_all()["w_retention"].fn(spark, sf_dir)
    a = aqe_final_summary(df)
    assert a["is_final"] == 1
    assert a["shuffle_stages"] >= 2
    assert a["coalesced"] >= 1


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime proof of the AQE half of the skew story (manual salting
    is q_salted_join/q_salted_agg): a join with one hot key must come
    back SortMergeJoin(skew=true) with a skewed AQEShuffleRead in the
    FINAL plan once thresholds are scaled to test data size."""
    import re

    from pyspark.sql import functions as F

    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep it an SMJ
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(220_000).select(
            F.when(F.col("id") < 200_000, 0)
            .otherwise((F.col("id") % 97) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(98).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select((F.col("v") + F.col("w")).alias("s"))
        assert len(j.collect()) == 220_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert re.search(r"SortMergeJoin\(skew=true\)", final), final[:2000]
        assert "skewed" in final  # the split shuffle read
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime-filter evidence for the third leg of the join-pruning
    story (broadcast: many queries; AQE skew: test above): a selective
    non-broadcast join must inject a bloom_filter_agg on the build side
    and a might_contain() filter on the probe side, so probe rows that
    cannot match are dropped AT THE SCAN, before the shuffle. At 100 TB
    this is the difference between shuffling all of lineitem and
    shuffling only the ~20% that joins the filtered orders; the
    thresholds are production defaults (10 GB probe / 10 MB build) and
    only need lowering here because test data is KB-scale."""
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # else broadcast wins
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        from streams_spark.sources.tables import load_table

        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # and the filtered join still answers correctly
        [(prio, n)] = j.collect()
        want = (
            li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
            .count()
        )
        assert prio == "1-URGENT" and n == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_store_schema_evolution_merges_added_column(spark, tmp_path):
    """Append-era schema drift: a later batch adds a column; reads with
    mergeSchema surface the union schema with NULLs for old rows — the
    schema-on-read contract of the reference's opaque payloads applied
    to the log's own columns."""
    from pyspark.sql import functions as F

    log = str(tmp_path / "log")
    v1 = spark.range(5).select(
        F.lit("s0").alias("space"),
        F.col("id").alias("sequence"),
    )
    v1.write.mode("overwrite").parquet(log)
    v2 = spark.range(5, 8).select(
        F.lit("s0").alias("space"),
        F.col("id").alias("sequence"),
        F.lit("tag").alias("annotation"),
    )
    v2.write.mode("append").parquet(log)
    got = spark.read.option("mergeSchema", "true").parquet(log)
    assert set(got.columns) == {"space", "sequence", "annotation"}
    rows = {r.sequence: r.annotation for r in got.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[7] == "tag"


def test_store_read_survives_corrupt_file(spark, tmp_path):
    """A torn/corrupt file in the log directory must not take down the
    whole scan when ignoreCorruptFiles is on — the degraded-read mode
    an operator flips during incident recovery."""
    from pyspark.sql import functions as F

    log = str(tmp_path / "log")
    spark.range(10).select(
        F.lit("s0").alias("space"), F.col("id").alias("sequence")
    ).coalesce(1).write.mode("overwrite").parquet(log)
    # torn write: parquet magic present, body garbage
    with open(f"{log}/part-99999-torn.snappy.parquet", "wb") as f:
        f.write(b"PAR1" + b"\x00" * 128)
    key = "spark.sql.files.ignoreCorruptFiles"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        assert spark.read.parquet(log).count() == 10
    finally:
        spark.conf.set(key, prev)


def test_compact_zordered_clusters_both_dims(spark, tmp_path):
    """The OPTIMIZE-ZORDER analog rewrites the log so row groups prune
    on both clustering columns (footer check, same method as
    test_zorder_prunes_both_dimensions)."""
    from pyspark.sql import functions as F

    from streams_spark.store import compact_zordered

    log = str(tmp_path / "log")
    spark.range(20_000).select(
        (F.abs(F.xxhash64("id")) % 128).alias("user_id"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 200).alias("day"),
        F.col("id").alias("v"),
    ).write.mode("overwrite").parquet(log)
    out = str(tmp_path / "log_z")
    compact_zordered(spark, log, out, "user_id", "day", n_files=64)
    hit_u, tot = _rowgroups_overlapping(out, "user_id", 10, 13)
    hit_d, _ = _rowgroups_overlapping(out, "day", 50, 64)
    assert tot >= 32
    assert hit_u <= 0.5 * tot, (hit_u, tot)
    assert hit_d <= 0.6 * tot, (hit_d, tot)
    assert spark.read.parquet(out).count() == 20_000


def test_csv_roundtrip_preserves_empty_vs_null(spark, tmp_path):
    """CSV must distinguish empty (b'', '') from NULL after the
    round-trip — the default '' sentinel collapsed both to NULL."""
    from streams_spark.schema import EVENT_LOG_SCHEMA
    from streams_spark.sources.formats import (
        read_event_log_csv,
        write_event_log_csv,
    )

    ts = dt.datetime(2024, 1, 1, 0, 0, 7)
    rows = [
        ("s0", "g0", 1, ts, "", "node", 1, b"", {}),
        ("s0", "g0", 2, ts, None, None, 2, None, None),
        ("s0", "g0", 3, ts, "t3", "n3", 3, b"payload", {"k": ""}),
    ]
    df = spark.createDataFrame(rows, EVENT_LOG_SCHEMA)
    out = str(tmp_path / "csv")
    write_event_log_csv(df, out)
    back = {r.sequence: r for r in read_event_log_csv(spark, out).collect()}
    assert bytes(back[1].payload) == b"" and back[1].trx_id == ""
    assert back[2].payload is None and back[2].trx_id is None
    assert bytes(back[3].payload) == b"payload" and back[3].trx_id == "t3"
