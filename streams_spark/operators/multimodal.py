"""Media operators over opaque binary payloads (SURVEY.md §7 M4).

The reference's payloads are opaque bytes the consumer decodes
(reference server/messages.go:61-69) — the same contract as image/
audio/video blobs in a training-data pipeline. Every media operator
here is two plain-Python rules handed to two helpers, and that is the
one way to add one:

- a synthesis rule `make_blob(doc_id) -> (non-key columns, ...)` that
  builds the fixture corpus. `_synth_feed` selects the distinct
  non-null doc_ids, runs the rule in one Arrow stage and stages the
  blobs to parquet once per codec vintage (`_staged_blob_feed`), so a
  benchmark times the decode, not the encode. At 100 TB the blobs come
  from storage (read_media_dir) instead.
- a decode rule `per_blob(doc_id, payload) -> rows` that is the
  operator. `decode_blobs` runs it over Arrow batches and names the
  output columns from the schema string. A rule may yield zero, one or
  many rows per blob (census, frame fan-out, quarantine by skipping).

Neither helper's caller writes a mapInPandas loop. The codec is
pluggable via `decode_media(decode_fn=...)`: m_decode_media pins the
deterministic fake (its payloads are text bytes), m_decode_real runs
the stdlib-only PNG/WAV codecs from functions/codecs.py, m_jpeg_real
the baseline JPEG decoder from functions/jpeg.py, and `pil_decode` is
the Pillow swap-in for formats beyond those where that library exists.

Scale notes: mapInPandas streams Arrow batches — constant memory per
task regardless of partition size; the binary column is only read where
the UDF runs (column pruning feeds the scan), and fan-out operators
(frame sampling) emit multiple rows per input without a shuffle.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_spark.registry import register
from streams_spark.sources.tables import load_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, "
    "meta struct<source:string, declared_len:bigint>"
)

DECODED_SCHEMA = (
    "doc_id long, media_type string, width int, height int, "
    "n_channels int, checksum bigint"
)


def _schema_columns(schema: str) -> list[str]:
    """Column names of a DDL schema string (commas inside <...> or
    (...) type parameters do not split fields)."""
    return [f.split()[0] for f in re.split(r",(?![^<(]*[>)])", schema)]


def decode_blobs(df: DataFrame, per_blob, schema: str) -> DataFrame:
    """Run the decode rule `per_blob` over every row of `df` in one
    Arrow-batched map stage. `per_blob` receives the row's values in
    `df`'s column order — (doc_id, payload) for a blob feed — and
    yields output tuples in `schema`'s column order; zero, one or many
    per blob. Column names come from `schema` once, on the driver.

    The batch loop stays a closure here: cloudpickle ships it by value,
    so Python workers import only the codec modules the rule uses."""
    cols = _schema_columns(schema)

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False, name=None):
                rows.extend(per_blob(*row))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batch, schema=schema)


def _staged_blob_feed(
    spark: SparkSession, sf_dir: str, op: str, modules, blobs: DataFrame
) -> DataFrame:
    """Stage a synthesized blob table to parquet once per (sf_dir,
    codec-module vintage): the per-blob pure-Python ENCODE/MUX is
    fixture synthesis, not the operator under test, so benchmarks must
    measure the demux/decode stage over a materialized blob table (in
    production the blobs come from storage via read_media_dir). Keyed
    on `op` plus each codec module's and this module's mtime+size, so
    an edit to a codec or to a synthesis rule rebuilds the fixtures; a
    missing documents table (in-memory test fixtures) skips staging
    silently, any other OSError warns loudly (ADVICE r8). The one
    caller is `_synth_feed`."""
    import os as _os

    from streams_spark.sources.feed_cache import cached_feed

    if not _os.path.exists(_os.path.join(sf_dir, "documents.parquet")):
        return blobs
    # THIS module holds the synthesis rules (geometry/frame-count/spec
    # formulas), so it joins every cache key: editing them without
    # touching the codec modules must rebuild the fixtures rather than
    # serve stale blobs that no longer match the oracle (ADVICE r9)
    import sys as _sys

    modules = [*modules, _sys.modules[__name__]]
    key = "|".join(
        f"{_os.stat(m.__file__).st_mtime_ns}:{_os.stat(m.__file__).st_size}"
        for m in modules
    )
    try:
        feed = cached_feed(
            sf_dir,
            op,
            f"v1|{key}",
            lambda d: blobs.write.mode("overwrite").parquet(d),
        )
    except OSError as exc:
        import warnings

        warnings.warn(
            f"{op} staged-feed unavailable ({exc!r}); benchmarks will "
            "measure synthesis+decode, not decode-only",
            RuntimeWarning,
            stacklevel=2,
        )
        return blobs
    # fan the CPU-bound decode across all cores: the staged blobs are a
    # few MB, so the scan would otherwise pack them into one partition
    # and the decode stage would run single-task (measured on m_jpeg:
    # 5.4 s serial vs ~1.1 ms/blob x 5000) — the harness-scale stand-in
    # for the many-file parallelism a real blob store gives the scan
    from streams_spark.sources.tables import read_parquet_memo

    return read_parquet_memo(spark, feed).repartition(
        spark.sparkContext.defaultParallelism
    )


def _synth_feed(
    spark: SparkSession,
    sf_dir: str,
    op: str | None,
    modules,
    doc_filter,
    make_blob,
    schema: str = "doc_id long, payload binary",
) -> DataFrame:
    """The fixture blob table for synthesis rule `make_blob`, staged
    under feed name `op` and keyed on the codec `modules` it calls.

    `make_blob(d)` returns the tuple of non-key columns for doc_id `d`
    (a list of such tuples when one doc is packaged several ways). The
    docs are the DISTINCT non-null doc_ids matching `doc_filter` (a
    Column, or None for all): the synthetic media tables are keyed by
    doc identity, so duplicate corpus rows yield ONE blob per doc (fuzz
    finding r6), and a NULL id has no identity to derive bytes from
    (null-key fuzz class r7) — the oracles filter identically.
    `op=None` returns the table unstaged."""
    cols = _schema_columns(schema)
    keep = F.col("doc_id").isNotNull()
    if doc_filter is not None:
        keep = keep & doc_filter
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id").where(keep).distinct()
    )

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                blob = make_blob(d)
                if isinstance(blob, list):
                    rows.extend((d, *b) for b in blob)
                else:
                    rows.append((d, *blob))
            yield pd.DataFrame(rows, columns=cols)

    blobs = docs.mapInPandas(synth, schema=schema)
    if op is None:
        return blobs
    return _staged_blob_feed(spark, sf_dir, op, modules, blobs)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: payload = utf-8 bytes of
    the text (stand-in for image bytes), typed metadata struct."""
    # identity-keyed: a NULL doc_id has no media identity (it would
    # otherwise fall into the CASE's ELSE class and fabricate a video) —
    # null-key fuzz class r7; the paired oracles filter identically
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.col("n_chars").cast("long").alias("declared_len"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in codec: derives stable dimensions from the
    byte length and a byte-sum checksum, so tests and oracles are exact.
    The default when no real image library is importable (this container
    ships none)."""
    n = len(payload)
    width = 64 + n % 577
    height = 64 + (n * 31) % 419
    channels = 1 + n % 3
    checksum = sum(payload) % 1_000_000_007
    return width, height, channels, checksum


def pil_decode(payload: bytes) -> tuple[int, int, int, int]:
    """Real codec: decodes actual image bytes with Pillow. Same signature
    and checksum arithmetic as the fake, so the two are drop-in swaps.
    Only callable where Pillow is importable AND the payload is a real
    encoded image (the synthetic media_table payloads are not)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return (
        img.width,
        img.height,
        len(img.getbands()),
        sum(payload) % 1_000_000_007,
    )


def default_decoder():
    """The consumer-side decode contract is pluggable (the reference
    hands consumers opaque bytes — /root/reference/server/messages.go:65).
    Pick the real codec when the environment has one, else the
    deterministic fake."""
    try:
        import PIL  # noqa: F401

        return pil_decode
    except ImportError:
        return _fake_decode


def decode_media(media: DataFrame, decode_fn=None) -> DataFrame:
    """Decode metadata for every media blob via mapInPandas with an
    injectable codec. `decode_fn` is any callable
    `bytes -> (width, height, n_channels, checksum)`; it is captured in
    the task closure, so swapping codecs never changes the plan shape —
    the Arrow batch iteration, schema, and column pruning are identical
    for fake and real decoders."""
    fn = decode_fn if decode_fn is not None else _fake_decode
    none4 = (None, None, None, None)

    def per_blob(doc_id, media_type, payload):
        # NULL payloads null-propagate (SQL semantics — a null blob has
        # null metadata, same as every oracle's arithmetic over a NULL
        # column); undecodable NON-null bytes still raise, the
        # explicit-quarantine contract.
        yield (
            doc_id, media_type,
            *(none4 if payload is None else fn(payload)),
        )

    return decode_blobs(
        media.select("doc_id", "media_type", "payload"),
        per_blob, DECODED_SCHEMA,
    )


_DECODE_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         encode(text) AS payload,
         -- carried through rather than re-joined on doc_id: a self-join
         -- fans out when doc_id is not unique (duplicate input rows),
         -- which the Spark side (no join) never does — fuzz finding r6
         text AS t
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, media_type,
       CAST(64 + octet_length(payload) % 577 AS INTEGER) AS width,
       CAST(64 + (octet_length(payload) * 31) % 419 AS INTEGER) AS height,
       CAST(1 + octet_length(payload) % 3 AS INTEGER) AS n_channels,
       -- byte-sum checksum over the utf-8 BYTES (via hex pairs) so
       -- non-ASCII text agrees with the engine's sum over payload
       -- bytes; coalesce(0) matches sum(b'') = 0 for empty payloads
       CASE WHEN payload IS NULL THEN NULL
            ELSE CAST(coalesce(list_sum(list_transform(
                     range(octet_length(payload)),
                     i -> CAST(('0x' || substr(hex(payload), 2 * i + 1, 2))
                               AS INTEGER))), 0) % 1000000007 AS BIGINT)
       END AS checksum
FROM m
"""


@register("m_decode_media", oracle=_DECODE_ORACLE)
def m_decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode metadata for every media blob (fake codec, real plumbing —
    the synthetic payloads are not encoded images, so the registered
    query pins the deterministic codec regardless of environment; the
    oracle recomputes the same arithmetic in SQL). Real-codec consumers
    go through decode_media(media, decode_fn=pil_decode)."""
    return decode_media(media_table(spark, sf_dir))


_FRAME_ORACLE = """
-- n IS NOT NULL: a NULL blob samples zero frames; without the filter
-- DuckDB's least(4, 1 + NULL // 256) = 4 (least SKIPS nulls) would
-- fabricate 4 null frames — fuzz finding r6
WITH m AS (
  SELECT doc_id, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
)
SELECT doc_id,
       CAST(unnest(range(0, least(4, 1 + n // 256))) AS INTEGER) AS frame_no,
       CAST(n AS BIGINT) AS payload_len
FROM m
"""


@register("m_frame_sample", oracle=_FRAME_ORACLE)
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling shape: one row per sampled frame per video blob
    (fan-out mapInPandas — rows out > rows in, no shuffle)."""
    media = media_table(spark, sf_dir).where(F.col("media_type") == "video")

    def sample(doc_id, payload):
        if payload is None:
            return  # NULL blob -> zero sampled frames
        n = len(payload)
        for frame in range(min(4, 1 + n // 256)):
            yield (doc_id, frame, n)

    return decode_blobs(
        media.select("doc_id", "payload"), sample,
        "doc_id long, frame_no int, payload_len long",
    )


_RESIZE_ORACLE = """
WITH m AS (
  SELECT doc_id,
         64 + octet_length(encode(text)) % 577 AS w,
         64 + (octet_length(encode(text)) * 31) % 419 AS h
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(floor(w * least(224.0 / w, 224.0 / h)) AS INTEGER) AS out_width,
       CAST(floor(h * least(224.0 / w, 224.0 / h)) AS INTEGER) AS out_height
FROM m
"""


@register("m_resize", oracle=_RESIZE_ORACLE)
def m_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-fit (224x224, aspect preserved) for every image blob:
    decode dims (fake codec) + the exact scaling arithmetic a real
    PIL.thumbnail/torchvision.Resize step performs, in one mapInPandas
    pass — at scale this is the canonical image-preprocessing stage
    (decode -> resize -> re-encode) with only the codec call faked."""
    media = media_table(spark, sf_dir).where(F.col("media_type") == "image")

    def resize(doc_id, payload):
        if payload is None:
            yield (doc_id, None, None, None, None)
            return
        w, h, _, _ = _fake_decode(payload)
        scale = min(224.0 / w, 224.0 / h)
        yield (doc_id, w, h, int(w * scale), int(h * scale))

    return decode_blobs(
        media.select("doc_id", "payload"), resize,
        "doc_id long, width int, height int, out_width int, out_height int",
    )


_FEATURES_ORACLE = """
-- byte-sum over utf-8 BYTES via hex pairs (codepoint ascii() diverges
-- on non-ASCII text), NULL text null-propagates, empty text keeps the
-- engine's 0-defaults — fuzz finding r6
WITH m AS (
  SELECT doc_id, encode(text) AS payload FROM documents
  WHERE doc_id IS NOT NULL
), b AS (
  SELECT doc_id, octet_length(payload) AS n,
         CASE WHEN payload IS NULL THEN NULL
              ELSE coalesce(list_sum(list_transform(
                       range(octet_length(payload)),
                       i -> CAST(('0x' || substr(hex(payload),
                                 2 * i + 1, 2)) AS INTEGER))), 0)
         END AS byte_sum
  FROM m
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CASE WHEN n IS NULL THEN NULL
            WHEN n = 0 THEN 0.0
            ELSE floor(CAST(byte_sum AS DOUBLE) / n * 10000 + 0.5) / 10000
       END AS mean_byte,
       CAST(byte_sum % 256 AS INTEGER) AS hash_bucket
FROM b
"""


@register("m_feature_extract", oracle=_FEATURES_ORACLE)
def m_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over raw blobs (size, mean byte value, content
    bucket) — the shape of a real embed-the-bytes stage (CLIP/wav2vec
    would replace the arithmetic; the Arrow batch plumbing, schema, and
    fan-in are what this verifies)."""
    media = media_table(spark, sf_dir)

    def feats(doc_id, payload):
        if payload is None:
            yield (doc_id, None, None, None)
            return
        n = len(payload)
        s = sum(payload)
        yield (doc_id, n, (s / n) if n else 0.0, s % 256)

    out = decode_blobs(
        media.select("doc_id", "payload"), feats,
        "doc_id long, n_bytes long, mean_byte double, hash_bucket int",
    )
    # round JVM-side: python round() is banker's (half-even) and diverges
    # from SQL half-away-from-zero on exact .00005 boundaries
    return out.select(
        "doc_id",
        "n_bytes",
        (F.floor(F.col("mean_byte") * 10000 + F.lit(0.5)) / 10000).alias(
            "mean_byte"
        ),
        "hash_bucket",
    )


# ---------------------------------------------------------------------------
# Exact media dedup: byte-identical payloads per modality
# ---------------------------------------------------------------------------

_MEDIA_DEDUP_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         md5(text) AS payload_md5
  FROM documents WHERE doc_id IS NOT NULL
), groups AS (
  SELECT media_type, payload_md5, count(*) AS n,
         min(doc_id) AS survivor_id
  FROM m GROUP BY 1, 2
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(n) AS BIGINT) AS n_payloads,
       CAST(sum(n - 1) AS BIGINT) AS dup_docs,
       CAST(max(n) AS BIGINT) AS max_group,
       min(survivor_id) AS min_survivor
FROM groups
GROUP BY media_type
"""


@register("m_media_dedup", oracle=_MEDIA_DEDUP_ORACLE)
def m_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multimodal dedup: byte-identical payloads collapse per
    modality on md5(payload) — the first pass every image/audio corpus
    runs before any perceptual hashing (identical files are the bulk of
    web-crawl media duplication). Groups keep min(doc_id) as survivor;
    output is the per-modality dedup profile. The synthetic payloads
    are utf-8 text bytes, so the oracle's md5(text) hashes the same
    bytes the Spark side hashes as binary.

    Scale: one map-side md5 over the (pruned) payload column, one
    partial-agg'd shuffle on (media_type, md5) — 16-byte keys, never
    the payloads themselves — then a modality-sized rollup. The same
    plan dedups petabytes of blobs because only digests shuffle;
    near-dup (perceptual) media hashing plugs into the decode_fn seam
    (m_decode_media) and reuses this exact grouping shape."""
    media = media_table(spark, sf_dir)
    groups = media.groupBy(
        "media_type", F.md5("payload").alias("payload_md5")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("survivor_id"),
    )
    return groups.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("n").alias("n_payloads"),
        F.sum(F.col("n") - 1).alias("dup_docs"),
        F.max("n").alias("max_group"),
        F.min("survivor_id").alias("min_survivor"),
    )


# ---------------------------------------------------------------------------
# REAL codec path: synthesize → PNG/WAV-encode → byte-decode, oracle-checked
# ---------------------------------------------------------------------------

_REAL_DECODE_ORACLE = """
WITH d AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
png AS (
  SELECT doc_id,
         16 + doc_id % 24 AS w,
         12 + (doc_id * 7) % 20 AS h,
         CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END AS ch
  FROM d WHERE doc_id % 2 = 0
), png_out AS (
  SELECT doc_id, 'image' AS media_type,
         CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         CAST(ch AS INTEGER) AS n_channels,
         CAST(list_sum(list_transform(range(w * h * ch),
              i -> ((i // ch) % w + 3 * (i // (ch * w)) + 5 * (i % ch)
                    + doc_id) % 256)) % 1000000007 AS BIGINT) AS checksum
  FROM png
), wav AS (
  SELECT doc_id, 200 + (doc_id * 13) % 300 AS n
  FROM d WHERE doc_id % 2 = 1
), wav_out AS (
  SELECT doc_id, 'audio' AS media_type,
         CAST(n AS INTEGER) AS width, CAST(1 AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS n_channels,
         CAST(((list_sum(list_transform(range(n),
                i -> (i * 37 + doc_id) % 2048 - 1024)) % 1000000007)
               + 1000000007) % 1000000007 AS BIGINT) AS checksum
  FROM wav
)
SELECT * FROM png_out UNION ALL SELECT * FROM wav_out
"""


def media_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A media table whose payloads are REAL encoded bytes: deterministic
    pixel/sample patterns derived from doc_id, encoded to valid PNG
    (even doc_ids; RGB every 4th, grey otherwise, cycling through all
    five scanline filters) and PCM-16 WAV (odd doc_ids) by the
    dependency-free codecs in functions/codecs.py."""
    import numpy as np

    from streams_spark.functions import codecs as _c

    def make_blob(d):
        if d % 2 == 0:
            w, h = 16 + d % 24, 12 + (d * 7) % 20
            ch = 3 if d % 4 == 0 else 1
            y, x, c = np.meshgrid(
                np.arange(h), np.arange(w), np.arange(ch), indexing="ij",
            )
            arr = ((x + 3 * y + 5 * c + d) % 256).astype(np.uint8)
            if ch == 1:
                arr = arr[:, :, 0]
            return "image", _c.png_encode(arr, filter_type=(d // 2) % 5)
        n = 200 + (d * 13) % 300
        s = ((np.arange(n) * 37 + d) % 2048 - 1024).astype(np.int16)
        return "audio", _c.wav_encode(s)

    return _synth_feed(
        spark, sf_dir, "docmedia", (_c,), None, make_blob,
        "doc_id long, media_type string, payload binary",
    )


@register("m_decode_real", oracle=_REAL_DECODE_ORACLE)
def m_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-codec twin of m_decode_media: every payload is a valid
    PNG or WAV built by the repo's stdlib-only encoders, and the decode
    stage parses the actual bytes (zlib inflate + scanline un-filtering
    / RIFF PCM frames — functions/codecs.py) via the same pluggable
    decode_media plumbing. The checksum is over the DECODED pixels/
    samples, and the oracle predicts it in closed form from doc_id — so
    a green row proves the byte-level round-trip recovered the content
    exactly, which a header-sniffing fake could not. PNGs cycle through
    all five scanline filters, so the un-filter paths all execute.

    This retires the 'declared stub' status for image/audio: Pillow
    remains an optional swap-in (pil_decode) for formats beyond PNG/WAV
    (JPEG etc.), selected by default_decoder() when importable.

    Scale: identical plan shape to m_decode_media — two chained
    map-only Arrow stages (synthesize+encode, decode) with no shuffle;
    at 100 TB the encode stage is replaced by reading real blobs
    (read_media_dir) and the decode stage is unchanged."""
    from streams_spark.functions.codecs import media_probe

    return decode_media(media_table_real(spark, sf_dir), decode_fn=media_probe)


_THUMB_ORACLE = """
WITH png AS (
  SELECT doc_id,
         16 + doc_id % 24 AS w,
         12 + (doc_id * 7) % 20 AS h,
         CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END AS ch
  FROM (SELECT DISTINCT doc_id FROM documents) WHERE doc_id % 2 = 0
), sized AS (
  SELECT doc_id, w, h, ch,
         greatest(CAST(floor(w * least(16.0 / w, 16.0 / h)) AS BIGINT), 1)
             AS ow,
         greatest(CAST(floor(h * least(16.0 / w, 16.0 / h)) AS BIGINT), 1)
             AS oh
  FROM png
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ow AS INTEGER) AS out_width, CAST(oh AS INTEGER) AS out_height,
       CAST(list_sum(list_transform(range(ow * oh * ch),
            i -> (((i // ch) % ow) * w // ow
                  + 3 * ((i // (ch * ow)) * h // oh)
                  + 5 * (i % ch) + doc_id) % 256)) % 1000000007 AS BIGINT)
           AS checksum
FROM sized
"""


@register("m_thumbnail_real", oracle=_THUMB_ORACLE)
def m_thumbnail_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize-to-fit 16x16 → RE-ENCODE to PNG →
    decode AGAIN, on real bytes end to end (the full image-preprocessing
    stage m_resize only mimics arithmetically). The reported checksum is
    over the pixels of the re-decoded thumbnail, and the oracle composes
    the synthesis formula with the NN index map (src = dst * in // out,
    floor) in closed form — a green row therefore proves decode, the
    exact resample geometry, and the encode→decode round-trip of the
    resized image in one shot.

    Scale: one map-only Arrow stage per blob, no shuffle; thumbnails are
    the canonical fan-in-free preprocessing step before batched feature
    extraction."""
    import numpy as np

    from streams_spark.functions.codecs import png_decode, png_encode

    media = media_table_real(spark, sf_dir).where(
        F.col("media_type") == "image"
    )

    def thumb(doc_id, payload):
        arr = png_decode(bytes(payload))
        h, w = arr.shape[0], arr.shape[1]
        scale = min(16.0 / w, 16.0 / h)
        ow, oh = max(int(w * scale), 1), max(int(h * scale), 1)
        ys = (np.arange(oh) * h) // oh
        xs = (np.arange(ow) * w) // ow
        small = arr[np.ix_(ys, xs)]
        redecoded = png_decode(png_encode(small, filter_type=2))
        yield (
            int(doc_id), w, h, ow, oh,
            int(redecoded.astype(np.int64).sum()) % 1_000_000_007,
        )

    return decode_blobs(
        media.select("doc_id", "payload"), thumb,
        "doc_id long, width int, height int, "
        "out_width int, out_height int, checksum bigint",
    )


_AUDIO_FEATURES_ORACLE = """
WITH wav AS (
  SELECT doc_id, 200 + (doc_id * 13) % 300 AS n
  FROM (SELECT DISTINCT doc_id FROM documents) WHERE doc_id % 2 = 1
), s AS (
  SELECT doc_id, n,
         list_transform(range(n),
             i -> (i * 37 + doc_id) % 2048 - 1024) AS smp
  FROM wav
)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(smp, v -> v * v)) % 1000000007
            AS BIGINT) AS energy_mod,
       CAST(len(list_filter(range(1, n),
            i -> (smp[i] < 0) <> (smp[i + 1] < 0))) AS BIGINT)
           AS zero_crossings
FROM s
"""


@register("m_audio_features_real", oracle=_AUDIO_FEATURES_ORACLE)
def m_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over REALLY decoded WAV payloads: energy
    (sum of squared PCM samples, exact int64 arithmetic, reported mod
    1e9+7) and zero-crossing count — the two standard cheap audio
    quality/VAD signals. The samples come out of the RIFF decoder, not a
    formula; the oracle recomputes both features from the synthesis
    formula, so agreement proves the decoded waveform is sample-exact.

    Scale: map-only Arrow stage, no shuffle; int64 accumulation is
    order-free so the per-blob features are deterministic anywhere."""
    import numpy as np

    from streams_spark.functions.codecs import wav_decode

    media = media_table_real(spark, sf_dir).where(
        F.col("media_type") == "audio"
    )

    def feats(doc_id, payload):
        s, _rate, _ch = wav_decode(bytes(payload))
        v = s[:, 0].astype(np.int64)
        neg = v < 0
        yield (
            int(doc_id),
            int(v.shape[0]),
            int((v * v).sum()) % 1_000_000_007,
            int((neg[1:] != neg[:-1]).sum()),
        )

    return decode_blobs(
        media.select("doc_id", "payload"), feats,
        "doc_id long, n_samples long, energy_mod bigint, "
        "zero_crossings bigint",
    )


_FRAMES_REAL_ORACLE = """
WITH v AS (
  SELECT doc_id,
         8 + doc_id % 9 AS w,
         6 + (doc_id * 5) % 11 AS h,
         2 + doc_id % 5 AS nf
  FROM (SELECT DISTINCT doc_id FROM documents) WHERE doc_id % 3 = 2
), f AS (
  SELECT doc_id, w, h, nf, unnest(range(0, nf, 2)) AS frame_no FROM v
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(list_sum(list_transform(range(w * h),
            i -> (i % w + 3 * (i // w) + 7 * frame_no + doc_id) % 256))
            % 1000000007 AS BIGINT) AS checksum
FROM f
"""


def video_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video analog of media_table_real: one REAL multi-frame
    container per video doc (doc_id % 3 = 2, matching m_frame_sample's
    subset), built by frames_encode — 2..6 PNG frames whose pixels are a
    deterministic function of (doc_id, frame_no), filters cycling per
    frame so decode exercises every un-filter path."""
    import numpy as np

    from streams_spark.functions import codecs as _c

    def make_blob(d):
        w, h = 8 + d % 9, 6 + (d * 5) % 11
        y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        frames = [
            ((x + 3 * y + 7 * f + d) % 256).astype(np.uint8)
            for f in range(2 + d % 5)
        ]
        return (_c.frames_encode(frames),)

    return _synth_feed(
        spark, sf_dir, "docvideo", (_c,), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_frames_real", oracle=_FRAMES_REAL_ORACLE)
def m_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-codec twin of m_frame_sample: every video payload is a
    valid PSMF multi-frame container (functions/codecs.py — magic +
    length-prefixed PNG stream per frame, an APNG-lite), the sampler
    DECODES the container and keeps every 2nd frame (stride-2 temporal
    sampling, the bounded-subset contract real frame samplers honor),
    and the checksum is over the sampled frame's DECODED pixels. The
    oracle predicts frame count, geometry and per-frame checksum in
    closed form from doc_id, so a green row proves the container parse,
    the per-frame zlib/un-filter round-trip, and the stride arithmetic
    together. Retires the last _fake_decode-only media path
    (m_frame_sample stays registered as the no-codec fallback).

    Reference contract: payloads are opaque bytes the consumer decodes
    (/root/reference/server/messages.go:65).

    Scale: two chained map-only Arrow stages (synthesize+encode,
    decode+sample), fan-out rows-per-blob bounded by the stride; the
    only shuffle is the doc_id-sized identity distinct in the synth
    table (absent at 100 TB, where the synth stage is replaced by
    reading real blobs via read_media_dir and the sampler is
    unchanged)."""
    import numpy as np

    from streams_spark.functions.codecs import frames_decode

    def sample(doc_id, payload):
        frames = frames_decode(bytes(payload))
        nf = len(frames)
        for f in range(0, nf, 2):
            arr = frames[f]
            yield (
                int(doc_id), f, nf,
                int(arr.shape[1]), int(arr.shape[0]),
                int(arr.astype(np.int64).sum()) % 1_000_000_007,
            )

    return decode_blobs(
        video_table_real(spark, sf_dir), sample,
        "doc_id long, frame_no int, n_frames int, "
        "width int, height int, checksum bigint",
    )


_MOTION_ORACLE = """
WITH v AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + (doc_id * 5) % 11 AS h,
         2 + doc_id % 5 AS nf
  FROM (SELECT DISTINCT doc_id FROM documents) WHERE doc_id % 3 = 2
), pairs AS (
  SELECT doc_id, w, h, nf, unnest(range(0, nf - 1)) AS f FROM v
), diffs AS (
  -- synthesis pixel v = (x + 3y + 7f + d) % 256; the next frame adds 7
  -- mod 256, so |p(f+1)-p(f)| is 7 unless v wraps (v >= 249), then 249
  SELECT doc_id, nf, w, h,
         list_sum(list_transform(range(w * h),
           i -> CASE WHEN (i % w + 3 * (i // w) + 7 * f + doc_id) % 256 < 249
                     THEN 7 ELSE 249 END)) AS dsum
  FROM pairs
)
SELECT doc_id, CAST(min(nf) AS INTEGER) AS n_frames,
       CAST(sum(dsum) AS BIGINT) AS motion_sum,
       floor(CAST(sum(dsum) AS DOUBLE) / (min(nf) - 1) / (min(w) * min(h))
             * 10000 + 0.5) / 10000 AS mean_abs_diff
FROM diffs GROUP BY doc_id
"""


@register("m_motion_real", oracle=_MOTION_ORACLE)
def m_motion_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal motion energy over REALLY decoded frame sequences: per
    video, the sum and per-pixel mean of absolute frame-to-frame
    differences — the standard cheap static-vs-dynamic signal a video
    curation pipeline uses to drop slideshows/freeze frames before
    expensive model scoring. Every subtraction happens on pixels that
    came out of the PSMF/PNG decode, and the oracle derives both
    features in closed form from the synthesis formula (the +7-mod-256
    frame step makes the wrap case explicit), so a green row proves the
    whole decode→diff pipeline, not just plumbing.

    Scale: one map-only Arrow stage per video (all consecutive-frame
    math inside the UDF batch, int64-exact), no shuffle; output is one
    row per video."""
    import numpy as np

    from streams_spark.functions.codecs import frames_decode

    def motion(doc_id, payload):
        frames = [a.astype(np.int64) for a in frames_decode(bytes(payload))]
        nf = len(frames)
        if nf < 2:
            # motion needs a consecutive pair; single-frame and empty
            # containers are quarantined (skipped) rather than dividing
            # by zero — unreachable from video_table_real (2..6 frames)
            # but real blobs via read_media_dir can be degenerate
            return
        h, w = frames[0].shape[0], frames[0].shape[1]
        dsum = sum(
            int(np.abs(b - a).sum()) for a, b in zip(frames[:-1], frames[1:])
        )
        mean = dsum / (nf - 1) / (w * h)
        yield (int(doc_id), nf, dsum, int(mean * 10000 + 0.5) / 10000)

    return decode_blobs(
        video_table_real(spark, sf_dir), motion,
        "doc_id long, n_frames int, motion_sum bigint, "
        "mean_abs_diff double",
    )


_JPEG_ORACLE = """
WITH m AS (
  SELECT doc_id, doc_id % 3 AS mode,
         17 + doc_id % 23 AS w,
         14 + (doc_id * 3) % 19 AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
), geo AS (
  SELECT doc_id, w, h,
         CASE mode WHEN 0 THEN 'grey' WHEN 1 THEN 'rgb444'
              ELSE 'rgb420' END AS media_type,
         CASE WHEN mode = 0 THEN 1 ELSE 3 END AS ch,
         CASE WHEN mode = 2 THEN 16 ELSE 8 END AS b
  FROM m
)
SELECT doc_id, media_type,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(ch * list_sum(list_transform(range(w * h),
            i -> 2 * (((i % w) // b + 3 * ((i // w) // b) + doc_id) % 128)))
            % 1000000007 AS BIGINT) AS checksum
FROM geo
"""


def jpeg_table_real(
    spark: SparkSession, sf_dir: str, encode_fn=None
) -> DataFrame:
    """A media table whose payloads are REAL baseline JPEGs from the
    dependency-free encoder in functions/jpeg.py: deterministic
    block-constant patterns derived from doc_id, rotating through the
    three realistic shapes — greyscale, RGB 4:4:4, RGB 4:2:0 — with
    non-MCU-multiple dimensions so the pad/crop path always runs.

    The patterns are block-constant with EVEN values (grey-valued in
    the RGB cases): the one image class whose quality-50 JPEG
    round-trip is BIT-exact (see functions/jpeg.py docstring), which is
    what lets a DuckDB oracle predict the decoded pixels of a lossy
    format in closed form. The wire bytes are still a genuine
    entropy-coded scan — Huffman tables, DPCM DC, byte stuffing and
    all — so a green row proves the full parse+decode, not headers.

    Staged like every *_table_real (measured: m_jpeg_progressive
    12.6 s -> decode-only once the 5000-blob encode is staged, sf0.1),
    under a feed name carrying the encoder's module+name: a test-local
    encoder that happens to be called "jpeg_encode" must not be served
    the stdlib codec's blobs (ADVICE r8). An encoder outside the three
    JPEG codec modules is never staged — its source is not in the key,
    so staleness could not be detected."""
    import numpy as np

    from streams_spark.functions import jpeg as _j
    from streams_spark.functions import jpeg_arith as _ja
    from streams_spark.functions import jpeg_progressive as _jp

    if encode_fn is None:
        encode_fn = _j.jpeg_encode

    def make_blob(d):
        mode = d % 3
        w, h = 17 + d % 23, 14 + (d * 3) % 19
        b = 16 if mode == 2 else 8
        y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        grey = (2 * ((x // b + 3 * (y // b) + d) % 128)).astype(np.uint8)
        if mode == 0:
            return "grey", encode_fn(grey, quality=50)
        rgb = np.repeat(grey[:, :, None], 3, axis=2)
        sub = "4:4:4" if mode == 1 else "4:2:0"
        payload = encode_fn(rgb, quality=50, subsampling=sub)
        return ("rgb444" if mode == 1 else "rgb420"), payload

    modules = (_j, _jp, _ja)
    module = getattr(encode_fn, "__module__", None)
    op = None
    if module in {m.__name__ for m in modules}:
        op = f"docjpeg-{module}.{encode_fn.__name__}"
    return _synth_feed(
        spark, sf_dir, op, modules, None, make_blob,
        "doc_id long, media_type string, payload binary",
    )


@register("m_jpeg_real", oracle=_JPEG_ORACLE)
def m_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode REAL baseline JPEGs through the same pluggable
    decode_media plumbing as every other codec: media_probe sniffs the
    FFD8 magic and routes to the stdlib-only Huffman+IDCT decoder
    (functions/jpeg.py), and the reported checksum is over the DECODED
    pixels. With JPEG this completes the realistic format mix —
    PNG/WAV/PSMF/JPEG — for the reference's opaque-payload contract
    (/root/reference/server/messages.go:65): a consumer's image blobs
    are overwhelmingly JPEGs.

    Correctness: the payloads are the bit-exact-round-trip image class
    (block-constant, even values, quality 50 — functions/jpeg.py), so
    the oracle predicts width/height/channels AND the pixel checksum in
    closed form; the scan bytes it decodes are genuinely entropy-coded.
    pytest covers the lossy general case (bounded error on gradients,
    spec-assembled byte streams, restart markers) where no SQL oracle
    can exist.

    Scale: identical to m_decode_real — two chained map-only Arrow
    stages (synthesize+encode, decode), no shuffle; at 100 TB the synth
    stage is replaced by read_media_dir over real blobs and the decode
    stage is unchanged."""
    from streams_spark.functions.codecs import media_probe

    return decode_media(jpeg_table_real(spark, sf_dir), decode_fn=media_probe)


@register("m_jpeg_progressive", oracle=_JPEG_ORACLE)
def m_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_jpeg_real's PROGRESSIVE twin: the payloads are SOF2 streams
    from functions/jpeg_progressive.py — multi-scan spectral selection
    + successive approximation with EOB runs, the format most public
    web JPEGs actually use — decoded through the identical media_probe
    plumbing (FFD8 sniff -> jpeg_decode, which dispatches SOF2 to the
    progressive path).

    Same oracle as m_jpeg_real, deliberately: progressive packaging
    carries the SAME quantized coefficients as baseline (the encoder
    shares _fdct_quant), so the block-constant exactness argument
    (functions/jpeg.py docstring) predicts the decoded pixels of BOTH
    wire formats in the same closed form. A green row therefore proves
    the full multi-scan decode — DC first + refinement, banded AC
    firsts, AC refinement correction bits, EOB-run accounting — not
    just headers. The lossy general case, spec-assembled scan scripts,
    and baseline-vs-progressive bit-identity are pytest-covered
    (tests/test_jpeg.py) where no SQL oracle can exist.

    Scale: identical to m_jpeg_real — two chained map-only Arrow
    stages, no shuffle."""
    from streams_spark.functions.codecs import media_probe
    from streams_spark.functions.jpeg_progressive import (
        jpeg_encode_progressive,
    )

    return decode_media(
        jpeg_table_real(spark, sf_dir, encode_fn=jpeg_encode_progressive),
        decode_fn=media_probe,
    )


@register("m_jpeg_arith", oracle=_JPEG_ORACLE)
def m_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_jpeg_real's ARITHMETIC-coded twin: the payloads are SOF10
    streams from functions/jpeg_arith.py — the T.81 Annex D QM binary
    arithmetic coder under the Annex F DC/AC conditioning models, the
    one JPEG entropy layer the round-9 survey still listed as missing —
    decoded through the identical media_probe plumbing (FFD8 sniff ->
    jpeg_decode, which dispatches SOF10 to the QM path).

    Same oracle as m_jpeg_real, deliberately: the arithmetic encoder
    shares _fdct_quant with the baseline encoder, so the quantized
    coefficients — and with them the block-constant exactness argument
    (functions/jpeg.py docstring) — are identical; only the entropy
    layer differs, and entropy coding is lossless. A green row
    therefore proves the adaptive QM decode end-to-end — context
    modeling, conditional exchange, carry resolution, 0xFF stuffing —
    not just headers. The lossy general case is pinned to the PROVEN
    Huffman pipeline bit-for-bit by tests/test_jpeg_arith.py
    (decode_arith(encode_arith(x)) == decode(encode(x)) on random
    images), where no SQL oracle can exist.

    Scale: identical to m_jpeg_real — two chained map-only Arrow
    stages (staged blob feed, decode), no shuffle; at 100 TB the synth
    stage is replaced by read_media_dir over real blobs and the decode
    stage is unchanged. Reference anchor: consumer-side decode of
    opaque payloads, /root/reference/server/messages.go:65."""
    from streams_spark.functions.codecs import media_probe
    from streams_spark.functions.jpeg_arith import jpeg_encode_arith

    return decode_media(
        jpeg_table_real(spark, sf_dir, encode_fn=jpeg_encode_arith),
        decode_fn=media_probe,
    )


# ---------------------------------------------------------------------------
# Real MP4 (ISO BMFF) container demux — Motion-JPEG samples
# ---------------------------------------------------------------------------

_MP4_ORACLE = """
WITH v AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w,
         12 + (doc_id * 3) % 13 AS h,
         2 + doc_id % 4 AS nf
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 1
), f AS (
  SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS frame_no FROM v
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 + (frame_no % 2) * 512 AS BIGINT)
         AS pts_ticks,
       CAST(CASE WHEN frame_no % 2 = 0 THEN 512 ELSE 1024 END AS INTEGER)
         AS dur_ticks,
       CAST(list_sum(list_transform(range(w * h),
            i -> 2 * (((i % w) // 8 + 3 * ((i // w) // 8)
                       + doc_id + 5 * frame_no) % 128)))
            % 1000000007 AS BIGINT) AS checksum
FROM f
"""


def mp4_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL Motion-JPEG MP4 per video doc (doc_id % 3 = 1): 2..5
    baseline-JPEG frames (the bit-exact block-constant class,
    functions/jpeg.py) muxed into a valid ISO BMFF file by
    functions/mp4.py — multi-run stsc chunking, a final partial chunk,
    alternating stts durations, and a leading `free` box shifting every
    stco offset, so the demuxer's full sample-table resolution is on
    the line for every blob."""
    import numpy as np

    from streams_spark.functions import jpeg as _j
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        w, h = 16 + d % 17, 12 + (d * 3) % 13
        y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        frames = [
            _j.jpeg_encode(
                (2 * ((x // 8 + 3 * (y // 8) + d + 5 * f) % 128))
                .astype(np.uint8),
                quality=50,
            )
            for f in range(2 + d % 4)
        ]
        return (_m.mp4_mux(frames, w, h),)

    return _synth_feed(
        spark, sf_dir, "docmp4", (_m, _j), F.col("doc_id") % 3 == 1,
        make_blob,
    )


@register("m_mp4_frames", oracle=_MP4_ORACLE)
def m_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL A/V container demux (VERDICT r8 missing-item #2): every
    payload is a valid Motion-JPEG MP4 (ISO/IEC 14496-12 box tree,
    `mp4v` sample entry with a JPEG `esds`), and this operator runs the
    genuine demux algorithm — stsc chunk-run expansion capped by the
    sample count, stco+cumulative-size intra-chunk offsets, stts
    duration-run expansion into per-sample DTS — then REALLY decodes
    each extracted sample through the stdlib baseline-JPEG decoder.

    The reported geometry comes from the container's stsd
    VisualSampleEntry while the checksum comes from the DECODED pixels,
    so a green row proves the box parse, the sample-table arithmetic,
    the timing table, and the entropy decode AGREE — the oracle
    predicts all of them in closed form from doc_id (the frames are the
    bit-exact block-constant JPEG class; pts/dur come from the
    alternating 512/1024 stts the muxer writes). Truncated files,
    64-bit co64/largesize, uniform stsz, and corrupt-table errors are
    pytest-covered (tests/test_mp4.py) where no SQL oracle can exist.

    Reference contract: payloads are opaque bytes the consumer decodes
    (/root/reference/server/messages.go:65); H.264-in-MP4 swaps the
    sample decoder via decode_fn= without touching the demux, exactly
    like pil_decode swaps in for exotic images.

    Scale: two chained map-only Arrow stages (synthesize+mux,
    demux+decode), no shuffle; fan-out is bounded by frames-per-blob.
    At 100 TB the synth stage is replaced by read_media_dir over real
    blobs and the demux stage is unchanged — per-blob cost is the
    codec, parallelism is the scan's."""
    import numpy as np

    from streams_spark.functions.jpeg import jpeg_decode
    from streams_spark.functions.mp4 import mp4_demux

    def demux(doc_id, payload):
        track, frames = mp4_demux(bytes(payload))
        for s, frame in zip(track.samples, frames):
            arr = np.squeeze(jpeg_decode(frame))
            yield (
                int(doc_id), s.index, len(frames),
                int(track.width), int(track.height),
                int(s.dts), int(s.duration),
                int(arr.astype(np.int64).sum()) % 1_000_000_007,
            )

    return decode_blobs(
        mp4_table_real(spark, sf_dir), demux,
        "doc_id long, frame_no int, n_frames int, width int, "
        "height int, pts_ticks long, dur_ticks int, checksum bigint",
    )


# ---------------------------------------------------------------------------
# Real MP3 elementary-stream frame census
# ---------------------------------------------------------------------------

_MP3_ORACLE = """
WITH a AS (
  SELECT doc_id,
         8 + doc_id % 9 AS nf,
         ([44100, 48000, 32000])[1 + (doc_id // 3) % 3] AS sr
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 0
), f AS (
  SELECT doc_id, nf, sr,
         ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[
           1 + (doc_id + CASE WHEN doc_id % 2 = 1
                              THEN frame_no ELSE 0 END) % 14] AS kbps,
         (doc_id + frame_no) % 2 AS pad
  FROM (SELECT doc_id, nf, sr, unnest(range(0, nf)) AS frame_no FROM a)
)
SELECT doc_id,
       CAST(min(nf) AS INTEGER) AS n_frames,
       CAST(min(sr) AS INTEGER) AS samplerate,
       CAST(min(nf) * 1152 AS BIGINT) AS total_samples,
       CAST(sum(144000 * kbps // sr + pad) AS BIGINT) AS frame_bytes,
       CAST(sum(kbps) AS BIGINT) AS sum_kbps,
       min(doc_id) % 2 = 1 AS is_vbr,
       CAST(CASE WHEN min(doc_id) % 5 = 0
                 THEN 1 + min(doc_id) % 7 ELSE 0 END AS INTEGER)
         AS junk_bytes,
       CAST(CASE WHEN min(doc_id) % 4 = 0
                 THEN 10 + min(doc_id) % 50 ELSE 0 END AS INTEGER)
         AS id3_bytes,
       CAST(CASE WHEN min(doc_id) % 7 = 0 THEN 128 ELSE 0 END AS INTEGER)
         AS id3v1_bytes,
       CAST(CASE WHEN min(doc_id) % 6 = 0 THEN min(nf) ELSE -1 END
            AS INTEGER) AS xing_frames
FROM f GROUP BY doc_id
"""


def mp3_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL MPEG-1 Layer III elementary stream per audio doc
    (doc_id % 3 = 0): 8..16 frames with genuine 11172-3 headers —
    odd docs are VBR (bitrate index walks the full table), even docs
    CBR — plus an ID3v2 tag on every 4th doc, leading junk bytes on
    every 5th, a Xing VBR header (true frame count, in frame 1's
    payload past the side info) on every 6th, and an ID3v1 'TAG'
    trailer on every 7th, so the scanner's skip, resync, Xing-probe
    and trailer paths all run routinely."""
    from streams_spark.functions import mp3 as _m3

    def make_blob(d):
        vbr = d % 2 == 1
        specs = [
            (1 + (d + (f if vbr else 0)) % 14, (d // 3) % 3, (d + f) % 2)
            for f in range(8 + d % 9)
        ]
        return (_m3.mp3_build(
            specs,
            fill_seed=d,
            id3_payload=(b"T" * (d % 50) if d % 4 == 0 else None),
            leading_junk=(b"\xff" * (1 + d % 7) if d % 5 == 0 else b""),
            xing=(d % 6 == 0),
            id3v1=(d % 7 == 0),
        ),)

    return _synth_feed(
        spark, sf_dir, "docmp3", (_m3,), F.col("doc_id") % 3 == 0, make_blob,
    )


@register("m_mp3_census", oracle=_MP3_ORACLE)
def m_mp3_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata census over REAL MP3 elementary streams: the
    scanner skips the ID3v2 tag (syncsafe size), resyncs past leading
    junk with next-frame validation (a sync candidate counts only if
    the frame it implies is followed by EOF or another valid sync),
    and walks frame-to-frame by the 11172-3 length formula
    144 * bitrate / sample_rate + padding. Everything reported —
    frame count, sample rate, total samples, stream bytes, bitrate
    mass, CBR/VBR, junk/tag bytes — comes from the SCAN of genuinely
    framed bytes, and the oracle predicts each in closed form from the
    synthesis rule. False-sync defence, truncated tails, and reserved
    header fields are pytest-covered (tests/test_mp3.py).

    The duration story a real pipeline needs is total_samples /
    samplerate; the census keeps the exact integers and leaves the
    division to the consumer (float division is where engines differ,
    not scanners).

    Scale: two chained map-only Arrow stages, no shuffle; per-blob
    cost is linear in stream bytes (header hops, not byte scans, once
    synced). Same posture as m_mp4_frames — a PCM decoder plugs in
    via decode_fn= without touching the census."""
    from streams_spark.functions.mp3 import mp3_scan

    def census(doc_id, payload):
        scan = mp3_scan(bytes(payload))
        frames = scan.frames
        yield (
            int(doc_id),
            len(frames),
            frames[0].sample_rate if frames else 0,
            len(frames) * 1152,
            sum(f.size for f in frames),
            sum(f.bitrate_kbps for f in frames),
            len({f.bitrate_kbps for f in frames}) > 1,
            scan.junk_bytes,
            scan.id3_bytes,
            scan.id3v1_bytes,
            scan.xing_frames,
        )

    return decode_blobs(
        mp3_table_real(spark, sf_dir), census,
        "doc_id long, n_frames int, samplerate int, "
        "total_samples long, frame_bytes long, sum_kbps long, "
        "is_vbr boolean, junk_bytes int, id3_bytes int, "
        "id3v1_bytes int, xing_frames int",
    )


# ---------------------------------------------------------------------------
# Real H.264 (Annex-B in ISO BMFF) keyframe decode
# ---------------------------------------------------------------------------

_H264_ORACLE = """
WITH v AS (
  -- doc_id % 3 pins the subset, so every geometry modulus below runs
  -- on doc_id // 3 (which sweeps all residues) or a modulus coprime
  -- with 3 — otherwise the whole corpus would share one shape
  SELECT doc_id,
         2 + (doc_id // 3) % 3 AS mw,
         2 + (doc_id // 9) % 3 AS mh,
         2 + (doc_id // 27) % 3 AS nf
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 2
), f AS (
  SELECT doc_id, mw, mh, nf,
         16 * mw - 2 * (doc_id % 4) AS w,
         16 * mh - 2 * ((doc_id // 5) % 3) AS h,
         unnest(range(0, nf)) AS frame_no
  FROM v
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 AS BIGINT) AS pts_ticks,
       CAST(512 AS INTEGER) AS dur_ticks,
       CAST(w * list_sum(list_transform(range(0, h), y ->
           40 + (7 * doc_id + 11 * frame_no) % 160
           + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),
               r -> ([0, 3, 5])[1 + (doc_id + frame_no + r) % 3])), 0)
       )) % 1000000007 AS BIGINT) AS checksum
FROM f
WHERE frame_no % 2 = 0
"""


def h264_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL H.264-in-MP4 per video doc (doc_id % 3 = 2): 2..4
    Annex-B IDR access units (SPS+PPS+I slice, functions/h264.py)
    muxed as opaque samples into a valid ISO BMFF file with an stss
    marking every other sample as sync — the inter-coded-codec shape
    the keyframe-sampling path exists for. Each picture's luma is
    constant per MB row via an I_PCM anchor + V/H/DC-predicted
    Intra_16x16 MBs carrying single CAVLC DC coefficients, so the
    decoded pixels have the closed form _H264_ORACLE predicts."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
        frames = [
            _h.h264_encode_rows(
                mw, mh,
                40 + (7 * d + 11 * f) % 160,
                [(d + f + r) % 3 for r in range(1, mh)],
                crop_right=crop_r, crop_bottom=crop_b,
            )
            for f in range(2 + (d // 27) % 3)
        ]
        return (_m.mp4_mux(
            frames, 16 * mw - crop_r, 16 * mh - crop_b, sync_every=2,
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264", (_h, _m), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_h264_keyframes", oracle=_H264_ORACLE)
def m_h264_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 I-frame decode of container keyframes (VERDICT r9
    #6): the MP4 demux prunes to stss-marked sync samples FIRST
    (keyframes_only=True — at 100 TB the non-key bytes are never
    decoded), then every kept sample runs the full Annex-B baseline
    decode in functions/h264.py — NAL unescape, Exp-Golomb SPS/PPS and
    slice headers, I_PCM and Intra_16x16 V/H/DC prediction, CAVLC
    coefficient decode, the luma-DC Hadamard rescale, the inverse core
    transform, and SPS frame cropping.

    The oracle predicts geometry (SPS crop), timing (the muxer's
    alternating stts — keyframes are the even samples, so dts =
    (k/2)*1536 and duration 512), and the checksum of the DECODED luma
    plane in closed form; a green row therefore proves the whole
    parse+predict+rescale+reconstruct pipeline, not just headers.
    Corrupt streams (CABAC, Intra_4x4, enabled deblocking, truncated
    NALs, bad CAVLC) are pytest-covered (tests/test_h264.py) where no
    SQL oracle can exist.

    Note the fixture levels include zeros: the DC-level coefficient
    L=(d+f+r)%3 of value 0 encodes an EMPTY coefficient block whose
    row leader still V-predicts, and interior MBs of such rows switch
    to two-neighbor DC prediction — so all three implemented
    prediction paths appear in every few pictures.

    Scale: identical shape to m_mp4_frames — two chained map-only
    Arrow stages over a staged blob table, no shuffle; decode
    partitions track cores via _staged_blob_feed's repartition.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.mp4 import extract_samples

    def decode(doc_id, payload):
        # ONE table parse, byte slices for sync samples only — the
        # 'non-key bytes are never decoded' claim holds at the copy
        # level too (a keyframes_only mp4_demux would still slice every
        # sample before filtering)
        buf = bytes(payload)
        track = extract_samples(buf)
        n_total = len(track.samples)
        for s in track.samples:
            if not s.sync:
                continue
            fr = h264_decode(buf[s.offset : s.offset + s.size])
            h, w = fr.y.shape
            yield (
                int(doc_id), s.index, n_total,
                int(w), int(h), int(s.dts), int(s.duration),
                int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
            )

    return decode_blobs(
        h264_table_real(spark, sf_dir), decode,
        "doc_id long, frame_no int, n_frames int, width int, "
        "height int, pts_ticks long, dur_ticks int, checksum bigint",
    )


_VIDEO_PIXEL_DEDUP = f"""
WITH frames AS ({_H264_ORACLE})
SELECT doc_id, frame_no, width, height,
       CAST(checksum // (width * height) // 16 AS INTEGER) AS luma_bucket,
       CAST(count(*) OVER (PARTITION BY
            checksum // (width * height) // 16) AS BIGINT) AS n_bucket,
       (row_number() OVER (PARTITION BY
            checksum // (width * height) // 16
            ORDER BY doc_id ASC NULLS LAST, frame_no ASC NULLS LAST) = 1)
         AS is_rep
FROM frames
"""


@register("m_video_pixel_dedup", oracle=_VIDEO_PIXEL_DEDUP)
def m_video_pixel_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-INVARIANT video keyframe dedup: group decoded keyframes
    by a SIZE-NORMALIZED quantized mean-luma bucket (the feature a
    pipeline computes after resize normalization — resolution is kept
    as an output column, not a block key) and pick one representative
    per bucket. m_media_dedup's byte digests miss
    re-encoded duplicates (same pixels, different QP/bitstream); this
    operator groups on the DECODED content, so two H.264 encodes of the
    same picture collide — the decode stage is the real H.264 pipeline
    of m_h264_keyframes, composed with a window-based bucket count.
    The quantized bucket (mean luma // 16) is the cheap first-stage
    blocking key a production near-dup pipeline would verify within;
    at sf0.01 the 274 keyframes land in ~6 multi-member buckets
    (sizes 10-84), so the window count and representative election run
    on genuine groups, not degenerate singletons.

    Mean luma here is exact integer math on both sides: the fixtures'
    luma sums are < 2^20, far under the 1e9+7 checksum modulus, so
    checksum == luma_sum and `checksum // (w*h) // 16` is the true
    quantized mean (stated here so the oracle's arithmetic is visibly
    sound, not coincidental).

    Scale: decode is the m_h264_keyframes map-only pipeline; the dedup
    adds ONE hash shuffle on the luma-bucket blocking key (geometry is
    an output column, not part of the key) — the same shape as
    m_media_dedup's digest shuffle, with bucket cardinality growing
    with content diversity so no key is hot. At 100 TB, swap the
    bucket for a perceptual hash inside the same plan."""
    from pyspark.sql import Window as W

    base = m_h264_keyframes(spark, sf_dir)
    bucket = F.floor(
        F.floor(F.col("checksum") / (F.col("width") * F.col("height"))) / 16
    ).cast("int")
    df = base.select(
        "doc_id", "frame_no", "width", "height",
        bucket.alias("luma_bucket"),
    )
    w = W.partitionBy("luma_bucket")
    # NULLS LAST pins kept for consistency with the repo-wide
    # null-ordering contract (NULL_ORDER_AUDIT.md) even though decoded
    # columns are non-nullable here
    wo = w.orderBy(
        F.col("doc_id").asc_nulls_last(), F.col("frame_no").asc_nulls_last()
    )
    return df.select(
        "doc_id", "frame_no", "width", "height", "luma_bucket",
        F.count(F.lit(1)).over(w).alias("n_bucket"),
        (F.row_number().over(wo) == 1).alias("is_rep"),
    )


# ---------------------------------------------------------------------------
# Real H.264 GOP decode: IDR + P pictures, quarter-pel motion compensation
# ---------------------------------------------------------------------------


def _h264_gop_oracle(
    doc_where: str = "doc_id % 3 = 2", codec: str | None = None
) -> str:
    """Build the m_h264_gop closed form: a recursive CTE carries each
    video's luma as a LIST of per-pixel-row values (the fixtures are
    horizontally constant, which vertical motion + the 6-tap filter
    preserve), and every P step applies the spec's own arithmetic —
    edge-clamped sample fetch (8.4.2.2.1's unrestricted-MV clip),
    the [1,-5,20,20,-5,1] half-pel filter with Clip1((v+16)>>5),
    quarter-pel (a+b+1)>>1 averaging, the inter DC-only residual
    offset (4*level at qp 28), and the final Clip1. A decoder wrong in
    ANY of mvd/median prediction, P_Skip derivation, sub-pel
    interpolation, inter CAVLC, or the inter rescale diverges from
    this SQL. Integer-division notes: every `//` here is either on
    non-negative operands or an exact division, so floor-vs-truncate
    semantics cannot differ between DuckDB and the decoder."""
    clamp = "LEAST(GREATEST({}, 0), 16*mh - 1)"
    r = lambda off: f"rows[1 + {clamp.format(f'y + yi{off}')}]"  # noqa: E731
    h1 = (
        f"({r('-2')} - 5*{r('-1')} + 20*{r('')} + 20*{r('+1')}"
        f" - 5*{r('+2')} + {r('+3')})"
    )
    hv = f"(CASE WHEN {h1} + 16 < 0 THEN 0 ELSE LEAST(({h1} + 16) // 32, 255) END)"
    pred = (
        f"(CASE yf WHEN 0 THEN {r('')} "
        f"WHEN 1 THEN ({r('')} + {hv} + 1) // 2 "
        f"WHEN 2 THEN {hv} "
        f"ELSE ({hv} + {r('+1')} + 1) // 2 END)"
    )
    delta = "([0, 4, -4])[1 + (doc_id + 2*fno + y // 16) % 3]"
    codec_col = f"'{codec}' AS codec,\n       " if codec else ""
    return f"""
WITH RECURSIVE geo AS (
  SELECT doc_id,
         2 + (doc_id // 3) % 3 AS mw,
         2 + (doc_id // 9) % 3 AS mh,
         3 + (doc_id // 27) % 3 AS nf,
         16 * (2 + (doc_id // 3) % 3) - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 3) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE {doc_where}
), steps AS (
  SELECT doc_id, mw, mh, nf, w, h, 0 AS frame_no,
         list_transform(range(0, 16*mh), y ->
             40 + (7 * doc_id) % 160
             + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),
                 r -> ([0, 3, 5])[1 + (doc_id + r) % 3])), 0)) AS rows
  FROM geo
  UNION ALL
  SELECT doc_id, mw, mh, nf, w, h, fno,
         list_transform(range(0, 16*mh), y ->
             LEAST(GREATEST({pred} + {delta}, 0), 255))
  FROM (
    SELECT *, ((mvy % 4) + 4) % 4 AS yf,
           (mvy - (((mvy % 4) + 4) % 4)) // 4 AS yi
    FROM (
      SELECT *, frame_no + 1 AS fno,
             ((3 * doc_id + 7 * (frame_no + 1)) % 23) - 11 AS mvy
      FROM steps WHERE frame_no + 1 < nf
    )
  )
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 + (frame_no % 2) * 512 AS BIGINT)
         AS dts_ticks,
       (frame_no = 0) AS is_idr,
       {codec_col}CAST((w * list_sum(rows[1:h])) % 1000000007 AS BIGINT) AS checksum
FROM steps
"""


_H264_GOP_ORACLE = _h264_gop_oracle()
# avc1 row: same decoded pixels (the packaging must be transparent),
# half the doc population (doc_id % 6 = 2 ⊂ % 3 = 2) to bound cost,
# plus the codec fourcc column proving sample-entry selection.
_H264_AVC1_ORACLE = _h264_gop_oracle("doc_id % 6 = 2", codec="avc1")


def h264_gop_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL H.264 GOP-in-MP4 per video doc (doc_id % 3 = 2): an
    IDR access unit followed by 2..4 genuinely inter-coded P pictures,
    each motion-compensated from the previous decoded picture with a
    per-frame quarter-pel MV (mvx sweeps all horizontal fracs, mvy
    sweeps vertical fracs AND multi-pixel integer offsets, so edge
    clamping engages near the top/bottom) plus a per-MB-row DC-only
    CAVLC residual. Rows whose level is 0 collapse to P_Skip where the
    8.4.1.1 derivation allows, so skip runs, explicit mvd, and the MV
    median predictor all appear in every stream. Only the IDR is
    stss-marked sync."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        aus, w, h = _h264_gop_aus(d)
        # only the IDR is sync
        return (_m.mp4_mux(aus, w, h, sync_every=len(aus)),)

    return _synth_feed(
        spark, sf_dir, "doch264gop", (_h, _m), F.col("doc_id") % 3 == 2,
        make_blob,
    )


def _h264_gop_aus(d: int) -> tuple[list[bytes], int, int]:
    """(access units, cropped width, cropped height) of doc d's GOP —
    the IDR plus 2..4 P pictures shared by the mp4v and avc1 fixtures,
    so their decoded pixels are identical by construction."""
    from streams_spark.functions.h264 import (
        h264_encode_p_rows, h264_encode_rows,
    )

    mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
    crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
    aus = [
        h264_encode_rows(
            mw, mh, 40 + (7 * d) % 160,
            [(d + r) % 3 for r in range(1, mh)],
            crop_right=crop_r, crop_bottom=crop_b,
        )
    ]
    for f in range(1, 3 + (d // 27) % 3):
        mvx = ((5 * d + 3 * f) % 13) - 6
        mvy = ((3 * d + 7 * f) % 23) - 11
        levels = [[0, 1, -1][(d + 2 * f + r) % 3] for r in range(mh)]
        aus.append(
            h264_encode_p_rows(mw, mh, (mvx, mvy), levels, frame_num=f)
        )
    return aus, 16 * mw - crop_r, 16 * mh - crop_b


@register("m_h264_gop", oracle=_H264_GOP_ORACLE)
def m_h264_gop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 inter decode of whole GOPs: every sample of each
    video runs the full Annex-B pipeline in functions/h264.py — the
    IDR exactly as m_h264_keyframes, then each P picture through
    P-slice header parse, mb_skip_run + P_Skip MV derivation
    (8.4.1.1), mvd against the 16x16 median predictor (8.4.1.3),
    quarter-pel luma motion compensation (the 6-tap half-pel filter +
    quarter averaging of 8.4.2.2.1, with unrestricted-MV edge
    clamping), eighth-pel bilinear chroma MC, the inter coded_block_
    pattern mapping (Table 9-4), inter CAVLC residuals, and the
    no-Hadamard inter rescale — referenced against the PREVIOUS
    decoded picture exactly as the spec's DPB does (uncropped).

    The oracle replays the same arithmetic in a recursive SQL CTE
    (see _h264_gop_oracle), so a green row proves motion vectors,
    sub-pel interpolation, skip derivation, and inter residuals
    end-to-end, not just that frames parse. What the fixture's
    horizontal constancy cannot see (per-position horizontal taps,
    the center-j path, per-MB MV variation) is pytest-pinned against
    a literal per-pixel spec transcription in tests/test_h264_inter.py.

    Scale: identical shape to m_h264_keyframes — two chained map-only
    Arrow stages over a staged blob table, no shuffle; GOP decode is
    sequential WITHIN a video (the codec's own data dependency) and
    embarrassingly parallel across videos, partitions track cores.

    Reference contract: consumer-side decode of opaque payloads
    (reference server/messages.go:65)."""
    return _decode_gops(h264_gop_table_real(spark, sf_dir))


_GOP_SCHEMA = (
    "doc_id long, frame_no int, n_frames int, width int, "
    "height int, dts_ticks long, is_idr boolean, checksum bigint"
)


def _decode_gops(table: DataFrame) -> DataFrame:
    """Decode every sample of each GOP-in-MP4 blob in `table` through
    one H264Decoder per video (its DPB carries the references), one
    row per picture — the decode rule of m_h264_gop, m_h264_multiref,
    m_h264_rplm and m_h264_partitions."""
    import numpy as np

    from streams_spark.functions.h264 import H264Decoder
    from streams_spark.functions.mp4 import extract_samples

    def decode(doc_id, payload):
        buf = bytes(payload)
        track = extract_samples(buf)
        dec = H264Decoder()
        n_total = len(track.samples)
        for s in track.samples:
            fr = dec.decode(buf[s.offset : s.offset + s.size])
            h, w = fr.y.shape
            yield (
                int(doc_id), s.index, n_total,
                int(w), int(h), int(s.dts), bool(s.sync),
                int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
            )

    return decode_blobs(table, decode, _GOP_SCHEMA)


# ---------------------------------------------------------------------------
# Real H.264 in REAL-WORLD packaging: avc1 sample entry + avcC record
# ---------------------------------------------------------------------------


def h264_avc1_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m_h264_gop GOP streams for doc_id % 6 = 2, packaged the way
    every real-world H.264 MP4 is (ffmpeg, phones): `avc1` sample
    entry, SPS/PPS out-of-band in the avcC
    AVCDecoderConfigurationRecord, samples as length-prefixed NAL
    units instead of Annex-B. The encoded pictures are IDENTICAL to
    the mp4v/Annex-B fixture's — the packaging must be transparent to
    the decoded pixels, which is exactly what the shared closed-form
    oracle checks. nal_length_size varies 2/4 per doc so both prefix
    widths are driver-exercised."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        aus, w, h = _h264_gop_aus(d)
        return (_m.mp4_mux_avc(
            aus, w, h,
            nal_length_size=2 if d % 2 else 4,
            sync_every=len(aus),
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264avc1", (_h, _m), F.col("doc_id") % 6 == 2,
        make_blob,
    )


@register("m_h264_avc1", oracle=_H264_AVC1_ORACLE)
def m_h264_avc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode avc1/avcC-packaged H.264 MP4s — the real-world packaging
    (VERDICT r10 #2): demux resolves the avc1 sample entry, parses the
    avcC record (out-of-band SPS/PPS, NAL length-prefix size), converts
    each length-prefixed sample to Annex-B, feeds the parameter sets
    once, and decodes every frame of the GOP. Checksums must equal the
    same closed-form oracle the mp4v/Annex-B m_h264_gop row uses — the
    packaging is transparent or the row goes red.

    Scale: identical map-only Arrow shape to m_h264_gop; the
    per-sample conversion is O(bytes) with no extra copy of the blob.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.h264 import H264Decoder
    from streams_spark.functions.mp4 import (
        Mp4Error, avc_sample_to_annexb, avc_track_param_sets,
        extract_samples,
    )

    def decode(doc_id, payload):
        buf = bytes(payload)
        track = extract_samples(buf)
        if track.avcc is None:
            raise Mp4Error(f"doc {doc_id}: expected an avc1/avc3 track")
        dec = H264Decoder()
        n_total = len(track.samples)
        for s in track.samples:
            au = avc_sample_to_annexb(
                buf[s.offset : s.offset + s.size],
                track.avcc.nal_length_size,
            )
            if s.index == 0:
                au = avc_track_param_sets(track.avcc) + au
            fr = dec.decode(au)
            h, w = fr.y.shape
            yield (
                int(doc_id), s.index, n_total,
                int(w), int(h), int(s.dts), bool(s.sync), track.codec,
                int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
            )

    return decode_blobs(
        h264_avc1_table_real(spark, sf_dir), decode,
        "doc_id long, frame_no int, n_frames int, width int, "
        "height int, dts_ticks long, is_idr boolean, codec string, "
        "checksum bigint",
    )


# ---------------------------------------------------------------------------
# Real H.264 multi-reference P decode: 2-picture sliding-window DPB,
# per-row ref_idx_l0, te(v) coding (8.2.4.2.1 / 8.2.5.3 / 9.1.1)
# ---------------------------------------------------------------------------


def _h264_multiref_oracle() -> str:
    """Closed form for m_h264_multiref: like _h264_gop_oracle, but the
    recursive CTE carries TWO decoded pictures — `rows` (the previous
    picture) and `prows` (the one before it) — mirroring the decoder's
    2-deep sliding-window DPB. Each MB row of every P picture at
    frame_no >= 2 selects its reference per the fixture rule
    ref = (doc_id + frame_no + mb_row) % 2, exactly the ref_idx_l0 the
    encoder codes, so a decoder that resolves ref_idx to the wrong DPB
    picture (wrong list order, wrong window, wrong te(v) read — the
    1-bit INVERTED form at cMax 1 is the classic trap) diverges from
    this SQL on every multi-ref row. Frame 1 (DPB depth 1) is coded
    with num_ref_idx_l0_active = 1 and always references frame 0."""
    clamp = "LEAST(GREATEST({}, 0), 16*mh - 1)"
    # the per-y reference picture: rows (refIdx 0) or prows (refIdx 1)
    src = (
        "(CASE WHEN fno >= 2 AND (doc_id + fno + y // 16) % 2 = 1 "
        "THEN prows ELSE rows END)"
    )
    r = lambda off: f"{src}[1 + {clamp.format(f'y + yi{off}')}]"  # noqa: E731
    h1 = (
        f"({r('-2')} - 5*{r('-1')} + 20*{r('')} + 20*{r('+1')}"
        f" - 5*{r('+2')} + {r('+3')})"
    )
    hv = f"(CASE WHEN {h1} + 16 < 0 THEN 0 ELSE LEAST(({h1} + 16) // 32, 255) END)"
    pred = (
        f"(CASE yf WHEN 0 THEN {r('')} "
        f"WHEN 1 THEN ({r('')} + {hv} + 1) // 2 "
        f"WHEN 2 THEN {hv} "
        f"ELSE ({hv} + {r('+1')} + 1) // 2 END)"
    )
    delta = "([0, 4, -4])[1 + (doc_id + 2*fno + y // 16) % 3]"
    return f"""
WITH RECURSIVE geo AS (
  SELECT doc_id,
         2 + (doc_id // 3) % 3 AS mw,
         2 + (doc_id // 9) % 3 AS mh,
         4 + (doc_id // 27) % 2 AS nf,
         16 * (2 + (doc_id // 3) % 3) - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 3) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 6 = 1
), steps AS (
  SELECT doc_id, mw, mh, nf, w, h, 0 AS frame_no,
         list_transform(range(0, 16*mh), y ->
             40 + (7 * doc_id) % 160
             + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),
                 r -> ([0, 3, 5])[1 + (doc_id + r) % 3])), 0)) AS rows,
         CAST(NULL AS BIGINT[]) AS prows
  FROM geo
  UNION ALL
  SELECT doc_id, mw, mh, nf, w, h, fno,
         list_transform(range(0, 16*mh), y ->
             LEAST(GREATEST({pred} + {delta}, 0), 255)),
         rows
  FROM (
    SELECT *, ((mvy % 4) + 4) % 4 AS yf,
           (mvy - (((mvy % 4) + 4) % 4)) // 4 AS yi
    FROM (
      SELECT *, frame_no + 1 AS fno,
             ((3 * doc_id + 7 * (frame_no + 1)) % 23) - 11 AS mvy
      FROM steps WHERE frame_no + 1 < nf
    )
  )
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 + (frame_no % 2) * 512 AS BIGINT)
         AS dts_ticks,
       (frame_no = 0) AS is_idr,
       CAST((w * list_sum(rows[1:h])) % 1000000007 AS BIGINT) AS checksum
FROM steps
"""


_H264_MULTIREF_ORACLE = _h264_multiref_oracle()


def h264_multiref_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL multi-reference H.264 GOP-in-MP4 per video doc
    (doc_id % 6 = 1): an IDR (SPS max_num_ref_frames=2) followed by
    3..4 P pictures. Frame 1 codes num_ref_idx_l0_active=1; every
    later frame overrides to 2 active L0 references and gives each MB
    row its own ref_idx_l0 — (doc_id + frame + row) % 2 — so te(v)'s
    inverted single-bit form, the recency-ordered RefPicList0, the
    2-deep sliding window, AND the 8.4.1.3.1 cur-ref MVP matching all
    appear in every stream. Rows with a nonzero ref never collapse to
    P_Skip (8.4.1.1 pins skip to refIdx 0), so multi-ref MBs are
    always explicitly coded. Only the IDR is stss-marked sync."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
        aus = [
            _h.h264_encode_rows(
                mw, mh, 40 + (7 * d) % 160,
                [(d + r) % 3 for r in range(1, mh)],
                crop_right=crop_r, crop_bottom=crop_b,
                max_ref=2,
            )
        ]
        for f in range(1, 4 + (d // 27) % 2):
            mvx = ((5 * d + 3 * f) % 13) - 6
            mvy = ((3 * d + 7 * f) % 23) - 11
            levels = [[0, 1, -1][(d + 2 * f + r) % 3] for r in range(mh)]
            multi = {} if f == 1 else {
                "row_refs": [(d + f + r) % 2 for r in range(mh)],
                "num_ref_active": 2,
            }
            aus.append(_h.h264_encode_p_rows(
                mw, mh, (mvx, mvy), levels, frame_num=f, **multi,
            ))
        return (_m.mp4_mux(
            aus, 16 * mw - crop_r, 16 * mh - crop_b,
            sync_every=len(aus),  # only the IDR is sync
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264mref", (_h, _m), F.col("doc_id") % 6 == 1,
        make_blob,
    )


@register("m_h264_multiref", oracle=_H264_MULTIREF_ORACLE)
def m_h264_multiref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 MULTI-REFERENCE inter decode — the last baseline-
    profile P tool (A.2.1 allows up to 16 L0 references; real encoders
    default to 2-4): every sample runs the full pipeline with a 2-deep
    sliding-window DPB (8.2.5.3), recency-ordered RefPicList0
    (8.2.4.2.1: descending PicNum == most recent first), per-MB-row
    ref_idx_l0 coded as te(v) — the single INVERTED bit at cMax 1
    (9.1.1) — cur-ref-matched MV prediction (8.4.1.3.1), and motion
    compensation from whichever DPB picture each row names.

    The oracle replays the same arithmetic in a recursive SQL CTE
    carrying BOTH DPB pictures (see _h264_multiref_oracle), so a green
    row proves reference SELECTION end-to-end: resolving any ref_idx
    to the wrong picture — wrong list order, wrong window eviction,
    non-inverted te(v) — shifts whole MB rows and breaks the checksum.
    What the row-constant fixture cannot see (per-MB ref mixing inside
    a row, 16x8/8x16/8x8 ref_idx fan-out, the bS different-ref rule)
    is pytest-pinned in tests/test_h264_multiref.py.

    Scale: identical shape to m_h264_gop — one staged-blob scan, one
    map-only Arrow decode stage, no shuffle; decode is sequential
    within a video (the codec's data dependency), embarrassingly
    parallel across videos. The DPB holds 2 uncropped frames per
    in-flight video — bounded, small, per-task memory.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    return _decode_gops(h264_multiref_table_real(spark, sf_dir))


# ---------------------------------------------------------------------------
# Cross-container pixel dedup: the same video packaged as mp4v/Annex-B
# and as avc1/avcC is byte-different but pixel-identical
# ---------------------------------------------------------------------------


def _cross_container_oracle() -> str:
    gop = _h264_gop_oracle()
    avc = _h264_gop_oracle("doc_id % 6 = 2", codec="avc1")
    return f"""
WITH gop_frames AS ({gop}), avc_frames AS ({avc}),
u AS (
  SELECT doc_id, width, height, checksum, 'mp4v' AS container
  FROM gop_frames WHERE frame_no = 0
  UNION ALL
  SELECT doc_id, width, height, checksum, codec AS container
  FROM avc_frames WHERE frame_no = 0
)
SELECT doc_id, container,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       checksum,
       CAST(count(*) OVER k AS BIGINT) AS n_copies,
       CAST(count(DISTINCT container) OVER k AS BIGINT) AS n_containers,
       (row_number() OVER (k ORDER BY container ASC NULLS LAST,
                           doc_id ASC NULLS LAST) = 1) AS is_rep
FROM u
WINDOW k AS (PARTITION BY width, height, checksum)
"""


_CROSS_CONTAINER_ORACLE = _cross_container_oracle()


@register("m_cross_container_dedup", oracle=_CROSS_CONTAINER_ORACLE)
def m_cross_container_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-packaging-INVARIANT dedup: the avc1 fixture encodes
    the SAME pictures as the mp4v/Annex-B GOP fixture for its doc
    population (doc_id % 6 = 2), so the two staged corpora contain
    byte-different files (different sample entries, out-of-band vs
    in-band parameter sets, length-prefixed vs start-coded NALs) that
    are pixel-identical. Byte-digest dedup (m_media_dedup) can never
    pair them; this operator demuxes only each file's stss-marked IDR
    (keyframes_only pruning BEFORE any byte decodes), decodes it, and
    groups on the exact decoded-pixel key (width, height, checksum) —
    every avc1 file collides with its mp4v twin (n_containers = 2),
    and the representative election is deterministic. This is the
    production shape for "did we already ingest this video, in any
    packaging?".

    Scale: two map-only decode stages (one per staged corpus, IDR-only
    so one frame per file), a union, and ONE hash shuffle on the pixel
    key — the key's cardinality grows with content diversity, so no
    hot key. A perceptual hash drops into the same plan for near-dup.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.mp4 import (
        avc_sample_to_annexb, avc_track_param_sets, mp4_demux,
    )
    from pyspark.sql import Window as W

    def decode_idr(doc_id, payload):
        track, frames = mp4_demux(bytes(payload), keyframes_only=True)
        au = frames[0]
        if track.avcc is not None:
            au = avc_track_param_sets(track.avcc) + (
                avc_sample_to_annexb(au, track.avcc.nal_length_size)
            )
        fr = h264_decode(au)
        h, w = fr.y.shape
        yield (
            int(doc_id), track.codec, int(w), int(h),
            int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
        )

    # union the two staged corpora BEFORE the decode stage: decode_idr
    # already distinguishes packaging per blob (track.avcc), so one
    # Arrow stage over the unioned feed replaces two — same rows, one
    # python stage in the plan instead of two (r11 opt round)
    frames = decode_blobs(
        h264_gop_table_real(spark, sf_dir)
        .unionByName(h264_avc1_table_real(spark, sf_dir)),
        decode_idr,
        "doc_id long, container string, width int, height int, "
        "checksum bigint",
    )
    k = W.partitionBy("width", "height", "checksum")
    ko = k.orderBy(
        F.col("container").asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    return frames.select(
        "doc_id", "container", "width", "height", "checksum",
        F.count(F.lit(1)).over(k).alias("n_copies"),
        F.size(F.collect_set("container").over(k)).cast("long").alias(
            "n_containers"
        ),
        (F.row_number().over(ko) == 1).alias("is_rep"),
    )


# ---------------------------------------------------------------------------
# Real H.264 Intra_4x4 decode (mixed-macroblock-type pictures)
# ---------------------------------------------------------------------------


def _h264_i4x4_oracle() -> str:
    """Closed form for m_h264_intra4x4: band A (luma columns 0..15) is
    the I_PCM/Intra_16x16 ladder a(R); band B (columns 16..w-1) is
    Intra_4x4-decoded, a(R) + inter_dc_offset(level, 36) per 4-pixel
    row — the AC-path rescale at qp 36 is exactly 10*level, pinned by
    tests/test_h264_intra4x4.py."""
    aR = (
        "(40 + (7 * doc_id) % 160"
        " + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),"
        " r -> ([0, 3, 5])[1 + (doc_id + r) % 3])), 0))"
    )
    b_delta = (
        "(CASE WHEN y // 16 = 0 THEN 0 ELSE ([0, 10, -10])"
        "[1 + (doc_id + 2 * (y // 16) + 3 * ((y % 16) // 4)) % 3] END)"
    )
    return f"""
WITH geo AS (
  SELECT doc_id,
         16 * (2 + (doc_id // 3) % 3) - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 3) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 2
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(list_sum(list_transform(range(0, h), y ->
           16 * {aR} + (w - 16) * ({aR} + {b_delta})
       )) % 1000000007 AS BIGINT) AS checksum
FROM geo
"""


_H264_I4X4_ORACLE = _h264_i4x4_oracle()


def h264_i4x4_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw Annex-B IDR access unit per video doc whose picture
    mixes I_PCM, Intra_16x16, and Intra_4x4 macroblocks (see
    h264_encode_i4x4_rows): H/HU/DC 4x4 prediction modes appear in
    oracle-checked pixels, mode coding runs against the min(A,B)
    predictor with non-Intra_4x4 neighbors counting as DC, and the
    first interior MB of each row carries per-4x4 DC-only CAVLC levels
    under the intra Table 9-4 cbp 5 (luma quadrants 0+2)."""
    from streams_spark.functions import h264 as _h

    def make_blob(d):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        return (_h.h264_encode_i4x4_rows(
            mw, mh, 40 + (7 * d) % 160,
            [(d + r) % 3 for r in range(1, mh)],
            [
                [[0, 1, -1][(d + 2 * r + 3 * q) % 3] for q in range(4)]
                for r in range(1, mh)
            ],
            crop_right=2 * (d % 4),
            crop_bottom=2 * ((d // 5) % 3),
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264i4", (_h,), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_h264_intra4x4", oracle=_H264_I4X4_ORACLE)
def m_h264_intra4x4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 Intra_4x4 decode (8.3.1): each payload is a raw
    Annex-B IDR whose picture mixes all three I-slice macroblock
    families — the Intra_4x4 MBs decode 16 per-block prediction modes
    (prev_intra4x4_pred_mode_flag against the min(A,B) predictor),
    predict each 4x4 from neighbor samples whose availability follows
    DECODE ORDER (later blocks of the same MB see earlier ones), and
    add 16-coefficient CAVLC residuals selected by the intra Table 9-4
    CBP mapping. The oracle predicts the decoded luma checksum in
    closed form; the six prediction modes a horizontally-constant
    fixture cannot distinguish (V/DDL/DDR/VR/HD/VL) are pytest-pinned
    against the spec formulas on random neighborhoods
    (tests/test_h264_intra4x4.py).

    Scale: same map-only Arrow shape as every real-codec row; raw
    elementary streams (no container) keep this row focused on the
    slice-layer decode itself.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    return _decode_pictures(h264_i4x4_table_real(spark, sf_dir))


def _decode_pictures(table: DataFrame) -> DataFrame:
    """Decode each raw Annex-B picture blob in `table` to one
    (doc_id, width, height, luma checksum) row — the decode rule of
    m_h264_intra4x4 and m_h264_deblock."""
    import numpy as np

    from streams_spark.functions.h264 import h264_decode

    def decode(doc_id, payload):
        fr = h264_decode(bytes(payload))
        h, w = fr.y.shape
        yield (
            int(doc_id), int(w), int(h),
            int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
        )

    return decode_blobs(
        table, decode, "doc_id long, width int, height int, checksum bigint"
    )


# ---------------------------------------------------------------------------
# Real H.264 in-loop deblocking (8.7) over single-MB-column pictures
# ---------------------------------------------------------------------------


def _h264_deblock_oracle() -> str:
    """Closed form for m_h264_deblock: single-MB-column pictures have
    no vertical edges, so the filter reduces to the horizontal MB-edge
    pass per boundary — strong (|a-b| < (alpha>>2)+2 = 14 at qp 36),
    the one-tap bS-4 fallback (14 <= |a-b| < alpha = 50), or nothing —
    plus the second-order correction where the internal bS-3 edge at
    y0+4 re-adjusts row y0+2 with tc0(3,36) = 4. Constants 50/14/4 are
    Table 8-16/8-17 values pinned in tests/test_h264_deblock.py; the
    whole sequencing is decoder-vs-independent-reference tested there
    (including the multi-MB-column wavefront this fixture avoids)."""
    lvl = (
        "(CASE WHEN (doc_id + r) % 2 = 0 THEN 1 ELSE -1 END"
        " * ([0, 1, 2, 5, 9, 20, 26])[1 + (doc_id + 2 * r) % 7])"
    )
    off = f"CAST(floor((160.0 * {lvl} + 32) / 64) AS BIGINT)"
    anchor = (
        "128 + CAST(floor((160.0 * ((doc_id % 7) - 3) + 32) / 64) AS BIGINT)"
    )
    cur = "arows[1 + y // 16]"   # this MB row's constant (q side above)
    pv = "arows[y // 16]"        # row above's constant (a)
    nb = "arows[2 + y // 16]"    # row below's constant (b)
    # strong q-side values at the boundary ABOVE this row, then the
    # second-order bS-3 adjustment of q2 (tc0(3,36) = 4):
    q1p = f"((3 * {cur} + {pv} + 2) // 4)"
    q2p = f"((7 * {cur} + {pv} + 4) // 8)"
    q2pp = (
        f"({q2p} + GREATEST(-4, LEAST(4, CAST(floor(({q1p}"
        f" + {cur} - 2.0 * {q2p}) / 2) AS BIGINT))))"
    )
    fy = f"""CASE
          WHEN y % 16 <= 2 AND y >= 16 THEN
            CASE
              WHEN abs({pv} - {cur}) >= 50 THEN {cur}
              WHEN abs({pv} - {cur}) < 14 THEN
                CASE y % 16
                  WHEN 0 THEN (5 * {cur} + 3 * {pv} + 4) // 8
                  WHEN 1 THEN {q1p}
                  ELSE {q2pp}
                END
              WHEN y % 16 = 0 THEN {q1p}
              ELSE {cur}
            END
          WHEN y % 16 >= 13 AND y // 16 + 1 < mh THEN
            CASE
              WHEN abs({nb} - {cur}) >= 50 THEN {cur}
              WHEN abs({nb} - {cur}) < 14 THEN
                CASE y % 16
                  WHEN 13 THEN (7 * {cur} + {nb} + 4) // 8
                  WHEN 14 THEN (3 * {cur} + {nb} + 2) // 4
                  ELSE (5 * {cur} + 3 * {nb} + 4) // 8
                END
              WHEN y % 16 = 15 THEN (3 * {cur} + {nb} + 2) // 4
              ELSE {cur}
            END
          ELSE {cur}
        END"""
    return f"""
WITH geo AS (
  SELECT doc_id,
         2 + (doc_id // 9) % 4 AS mh,
         16 - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 4) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 2
), rv AS (
  SELECT doc_id, mh, w, h,
         list_transform(range(0, mh), R ->
             {anchor}
             + COALESCE(list_sum(list_transform(range(1, R + 1),
                 r -> {off})), 0)) AS arows
  FROM geo
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(list_sum(list_transform(range(0, h), y ->
           w * ({fy})
       )) % 1000000007 AS BIGINT) AS checksum
FROM rv
"""


_H264_DEBLOCK_ORACLE = _h264_deblock_oracle()


def h264_deblock_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw Annex-B IDR per video doc: a single-MB-column picture
    (no vertical edges) whose per-row steps sweep the filter regimes —
    |a-b| of 0/3/5/13 (full strong path), 23/33 (one-tap bS-4
    fallback), 50/65 (past alpha, untouched) — with the in-loop filter
    ENABLED (idc 0, zero offsets) and a DC-anchored first MB so every
    macroblock deblocks at the slice QP."""
    from streams_spark.functions import h264 as _h

    mags = [0, 1, 2, 5, 9, 20, 26]

    def make_blob(d):
        mh = 2 + (d // 9) % 4
        la = (d % 7) - 3
        levels = [
            mags[(d + 2 * r) % 7] * (1 if (d + r) % 2 == 0 else -1)
            for r in range(1, mh)
        ]
        return (_h.h264_encode_rows(
            1, mh, 128 + _h.dc_offset(la), levels,
            crop_right=2 * (d % 4),
            crop_bottom=2 * ((d // 5) % 3),
            deblock=True, anchor_level=la,
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264db", (_h,), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_h264_deblock", oracle=_H264_DEBLOCK_ORACLE)
def m_h264_deblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 in-loop deblocking (8.7): the decoder runs boundary-
    strength derivation, the Table 8-16 alpha/beta gates, and the bS-4
    strong / one-tap filters on every picture edge, and the oracle
    predicts the FILTERED luma checksum in closed form — including the
    second-order interaction where an internal bS-3 edge re-adjusts a
    row the MB-edge pass just wrote (tc0 clip at 4). The fixture
    sweeps step sizes across the strong/fallback/off thresholds, so a
    decoder with a wrong table value, a wrong rounding, or a wrong
    filter-order diverges. The multi-MB wavefront, inter bS 2/1/0,
    slice offsets, chroma filtering, and the I_PCM-QP-0 rule are
    pinned against an independent scalar reference in
    tests/test_h264_deblock.py.

    Scale: map-only Arrow decode over a staged blob table; the filter
    is part of the per-sample decode (in-loop, as the spec requires —
    P pictures reference FILTERED frames), so it parallelizes exactly
    like the rest of the codec surface.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    return _decode_pictures(h264_deblock_table_real(spark, sf_dir))


# ---------------------------------------------------------------------------
# Real H.264 sub-16x16 P partitions (16x8 / 8x16 / P_8x8)
# ---------------------------------------------------------------------------


def _h264_part_oracle() -> str:
    """Closed form for m_h264_partitions: every P picture applies, per
    MB row, a partition mode — 16x8 / 8x16 / P_8x8 (modes 1-3, 8-row
    bands) or the r11 sub-partitioned P_8x8 modes (4: all-8x4 with
    swapped middle bands t,b,b,t; 5: 4x8 top quadrants + 4x4 bottom
    quadrants, bands t,t,b,t) — whose 4-row bands carry independent
    integer-pel vertical MVs (8x16 shares one MV across the row — its
    left/right partitions still code separate mvd against the 8.4.1.3
    directional predictors), plus the per-row DC residual. The rows
    list advances by edge-clamped shifts at band granularity, so a
    decoder wrong in partition geometry, sub_mb_type fan-out, mvd
    order, the MVP rules at any grain, or per-partition MC placement
    diverges."""
    clamp = "LEAST(GREATEST({}, 0), 16*mh - 1)"
    dyT = "(((3 * doc_id + 5 * fno + 7 * (y // 16)) % 9) - 4)"
    dyB = "(((doc_id + 7 * fno + 3 * (y // 16)) % 9) - 4)"
    mode = "(1 + (doc_id + fno + y // 16) % 5)"
    band = "((y % 16) // 4)"
    dy = (
        f"(CASE WHEN {mode} = 2 THEN {dyT} "
        f"WHEN {mode} = 4 THEN "
        f"(CASE WHEN {band} IN (1, 2) THEN {dyB} ELSE {dyT} END) "
        f"WHEN {mode} = 5 THEN "
        f"(CASE WHEN {band} = 2 THEN {dyB} ELSE {dyT} END) "
        f"WHEN y % 16 < 8 THEN {dyT} ELSE {dyB} END)"
    )
    delta = "([0, 4, -4])[1 + (doc_id + 2 * fno + y // 16) % 3]"
    nxt = (
        f"LEAST(GREATEST(rows[1 + {clamp.format(f'y + {dy}')}]"
        f" + {delta}, 0), 255)"
    )
    return f"""
WITH RECURSIVE geo AS (
  SELECT doc_id,
         2 + (doc_id // 3) % 3 AS mw,
         2 + (doc_id // 9) % 3 AS mh,
         3 + (doc_id // 27) % 2 AS nf,
         16 * (2 + (doc_id // 3) % 3) - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 3) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 2
), steps AS (
  SELECT doc_id, mw, mh, nf, w, h, 0 AS frame_no,
         list_transform(range(0, 16*mh), y ->
             40 + (7 * doc_id) % 160
             + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),
                 r -> ([0, 3, 5])[1 + (doc_id + r) % 3])), 0)) AS rows
  FROM geo
  UNION ALL
  SELECT doc_id, mw, mh, nf, w, h, fno,
         list_transform(range(0, 16*mh), y -> {nxt})
  FROM (
    SELECT *, frame_no + 1 AS fno
    FROM steps WHERE frame_no + 1 < nf
  )
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 + (frame_no % 2) * 512 AS BIGINT)
         AS dts_ticks,
       CAST((w * list_sum(rows[1:h])) % 1000000007 AS BIGINT) AS checksum
FROM steps
"""


_H264_PART_ORACLE = _h264_part_oracle()


def h264_part_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL H.264 GOP per video doc whose P pictures are built
    ENTIRELY from sub-16x16 partitions: each MB row cycles 16x8 /
    8x16 / P_8x8 / all-8x4 sub-partitions / mixed 4x8+4x4
    sub-partitions (the full Table 7-13 + Table 7-18 P tree), bands
    move with independent integer-pel vertical MVs plus per-partition
    fractional horizontal components, and each row carries a DC
    residual — so mvd parse order (including the 7.3.5.2 sub_mb_pred
    nesting), the MVP rules at every grain, per-partition MC, and the
    per-4x4 motion bookkeeping all land in oracle-checked pixels."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
        aus = [
            _h.h264_encode_rows(
                mw, mh, 40 + (7 * d) % 160,
                [(d + r) % 3 for r in range(1, mh)],
                crop_right=crop_r, crop_bottom=crop_b,
            )
        ]
        for f in range(1, 3 + (d // 27) % 2):
            row_modes = []
            for R in range(mh):
                m = 1 + (d + f + R) % 5
                dy_t = ((3 * d + 5 * f + 7 * R) % 9) - 4
                dy_b = ((d + 7 * f + 3 * R) % 9) - 4
                mvx_t = ((5 * d + 3 * f + 11 * R) % 13) - 6
                mvx_b = ((5 * d + 3 * f + 11 * R + 4) % 13) - 6
                mv_t = (mvx_t, 4 * dy_t)
                mv_b = mv_t if m == 2 else (mvx_b, 4 * dy_b)
                level = [0, 1, -1][(d + 2 * f + R) % 3]
                row_modes.append((m, mv_t, mv_b, level))
            aus.append(
                _h.h264_encode_p_partitions(mw, mh, row_modes, frame_num=f)
            )
        return (_m.mp4_mux(
            aus, 16 * mw - crop_r, 16 * mh - crop_b, sync_every=len(aus),
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264part", (_h, _m), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_h264_partitions", oracle=_H264_PART_ORACLE)
def m_h264_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 sub-16x16 inter decode: P_L0_L0_16x8, P_L0_L0_8x16,
    and P_8x8 macroblocks (Table 7-13) — including the r11 sub-8x8
    partition tree (Table 7-18 sub_mb_types 8x4/4x8/4x4 with the
    7.3.5.2 mvd nesting) — with per-partition mvd against the 8.4.1.3
    MV prediction INCLUDING the two-partition directional preferences
    (16x8: B-then-A, 8x16: A-then-C; none at sub-8x8 grain), per-4x4
    motion bookkeeping (a later partition's predictor sees the earlier
    ones, same-MB undecoded blocks unavailable per 6.4.11.7),
    per-partition quarter-pel MC composited into the macroblock, and
    the usual inter CAVLC residual path. The oracle replays the
    band-granular motion in a recursive CTE; what horizontal constancy
    hides (per-partition horizontal fracs, 8x16 left/right mvd
    asymmetry, per-sub-partition MV variation) is pytest-pinned in
    tests/test_h264_inter.py against a literal spec transcription of
    the MVP rules.

    Scale: identical map-only Arrow shape to m_h264_gop.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    # every partitions-GOP picture but the first is a P picture, so
    # the shared rule's is_idr column carries nothing the oracle checks
    return _decode_gops(h264_part_table_real(spark, sf_dir)).drop("is_idr")


# ---------------------------------------------------------------------------
# Real H.264 multi-slice pictures (slice-bounded prediction)
# ---------------------------------------------------------------------------


def _h264_slices_oracle() -> str:
    """Closed form for m_h264_slices: one slice per MB of a 1-MB-wide
    picture. Intra prediction cannot cross slice boundaries, so every
    MB DC-predicts from NOTHING (128) + its own level — a(R) is
    per-row independent, NOT cumulative (a single-slice decoder would
    accumulate and diverge). Deblocking follows the per-slice idc:
    0 filters across the boundaries (the m_h264_deblock strong/one-tap
    closed form incl. the second-order row), 1 off, 2 on-but-not-
    across-slice-boundaries — and every horizontal MB edge here IS a
    slice boundary, so idc 2 leaves the picture untouched."""
    a_of = (
        "128 + CAST(floor((160.0 * ((CASE WHEN (doc_id + {r}) % 2 = 0"
        " THEN 1 ELSE -1 END) * ([0, 1, 2, 5, 9, 20, 26])"
        "[1 + (doc_id + 2 * ({r})) % 7]) + 32) / 64) AS BIGINT)"
    )
    cur = f"({a_of.format(r='y // 16')})"
    pv = f"({a_of.format(r='y // 16 - 1')})"
    nb = f"({a_of.format(r='y // 16 + 1')})"
    q1p = f"((3 * {cur} + {pv} + 2) // 4)"
    q2p = f"((7 * {cur} + {pv} + 4) // 8)"
    q2pp = (
        f"({q2p} + GREATEST(-4, LEAST(4, CAST(floor(({q1p}"
        f" + {cur} - 2.0 * {q2p}) / 2) AS BIGINT))))"
    )
    fy = f"""CASE
          WHEN idc <> 0 THEN {cur}
          WHEN y % 16 <= 2 AND y >= 16 THEN
            CASE
              WHEN abs({pv} - {cur}) >= 50 THEN {cur}
              WHEN abs({pv} - {cur}) < 14 THEN
                CASE y % 16
                  WHEN 0 THEN (5 * {cur} + 3 * {pv} + 4) // 8
                  WHEN 1 THEN {q1p}
                  ELSE {q2pp}
                END
              WHEN y % 16 = 0 THEN {q1p}
              ELSE {cur}
            END
          WHEN y % 16 >= 13 AND y // 16 + 1 < mh THEN
            CASE
              WHEN abs({nb} - {cur}) >= 50 THEN {cur}
              WHEN abs({nb} - {cur}) < 14 THEN
                CASE y % 16
                  WHEN 13 THEN (7 * {cur} + {nb} + 4) // 8
                  WHEN 14 THEN (3 * {cur} + {nb} + 2) // 4
                  ELSE (5 * {cur} + 3 * {nb} + 4) // 8
                END
              WHEN y % 16 = 15 THEN (3 * {cur} + {nb} + 2) // 4
              ELSE {cur}
            END
          ELSE {cur}
        END"""
    return f"""
WITH geo AS (
  SELECT doc_id,
         2 + (doc_id // 9) % 4 AS mh,
         (doc_id // 7) % 3 AS idc,
         16 - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 4) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 2
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(2 + (doc_id // 9) % 4 AS INTEGER) AS n_slices,
       CAST(list_sum(list_transform(range(0, h), y ->
           w * ({fy})
       )) % 1000000007 AS BIGINT) AS checksum
FROM geo
"""


_H264_SLICES_ORACLE = _h264_slices_oracle()


def h264_slices_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw Annex-B IDR per video doc, the picture split into one
    slice per macroblock (h264_encode_sliced_rows): per-slice anchors
    sweep the deblock threshold regimes and docs cycle all three
    disable_deblocking_filter_idc values."""
    from streams_spark.functions import h264 as _h

    mags = [0, 1, 2, 5, 9, 20, 26]

    def make_blob(d):
        mh = 2 + (d // 9) % 4
        levels = [
            mags[(d + 2 * r) % 7] * (1 if (d + r) % 2 == 0 else -1)
            for r in range(mh)
        ]
        return (_h.h264_encode_sliced_rows(
            mh, levels,
            deblock_idc=(d // 7) % 3,
            crop_right=2 * (d % 4),
            crop_bottom=2 * ((d // 5) % 3),
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264sl", (_h,), F.col("doc_id") % 3 == 2,
        make_blob,
    )


@register("m_h264_slices", oracle=_H264_SLICES_ORACLE)
def m_h264_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 multi-slice decode: pictures split into one slice
    per macroblock, decoded as ONE picture with slice-BOUNDED
    prediction — intra samples, MV predictors, and CAVLC nC contexts
    never cross first_mb_in_slice boundaries, per-slice QP and
    deblocking parameters are tracked per MB, and the filter honours
    idc 0 (across boundaries), 1 (off), and 2 (not across boundaries)
    per slice. The oracle's per-row-INDEPENDENT anchors are the proof:
    a decoder that lets prediction cross slices accumulates row values
    and diverges on every picture.

    Scale: map-only Arrow decode over a staged blob table, like every
    real-codec row.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.h264 import annexb_split

    def decode(doc_id, payload):
        buf = bytes(payload)
        n_slices = sum(
            1 for nal in annexb_split(buf)
            if nal and (nal[0] & 0x1F) in (1, 5)
        )
        fr = h264_decode(buf)
        h, w = fr.y.shape
        yield (
            int(doc_id), int(w), int(h), n_slices,
            int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
        )

    return decode_blobs(
        h264_slices_table_real(spark, sf_dir), decode,
        "doc_id long, width int, height int, n_slices int, "
        "checksum bigint",
    )


def _h264_fmo_oracle() -> str:
    """Closed form for m_h264_fmo over 1-MB-wide pictures: the SQL
    recomputes the slice-group map PER TYPE from first principles
    (8.2.2.1/2/3/5/6/7 degenerate cleanly at PicWidthInMbs=1), then
    models the two FMO-visible effects independently of the decoder:
    DC prediction chains exactly along same-group row adjacency, and
    each row's QP is the slice's mb_qp_delta prefix sum at that row's
    IN-GROUP position — so a wrong map, wrong NextMbAddress walk, or
    wrong QP sequencing all move the checksum. dc_offset's integer
    form (8.5.10 for qP>=12) is floor((lvl * v[qP%6] * 2^(qP/6-2)
    + 32) / 64)."""
    # in-group position of row u (count of earlier same-group rows)
    pos_u = "len(list_filter(range(0, u), w -> sg[w + 1] = sg[u + 1]))"
    qp_u = (
        f"CAST(30 + list_sum(list_transform(range(0, {pos_u} + 1), "
        "p -> ((doc_id // (p + 1) + sg[u + 1]) % 3) - 1)) AS BIGINT)"
    )
    lvl_u = (
        "(([0, 1, 2, 5, 9, 20, 26])[1 + (doc_id + 3 * u) % 7]"
        " * (CASE WHEN (doc_id + u) % 2 = 0 THEN 1 ELSE -1 END))"
    )
    off_u = (
        f"CAST(floor(({lvl_u}"
        f" * ([10, 11, 13, 14, 16, 18])[1 + {qp_u} % 6]"
        f" * ([2, 4, 8, 16])[{qp_u} // 6 - 2] + 32) / 64.0) AS BIGINT)"
    )
    # row u contributes to row y iff every row in [u, y] shares y's group
    in_chain = (
        "list_min(list_transform(range(u, y + 1), w -> "
        "CASE WHEN sg[w + 1] = sg[y + 1] THEN 1 ELSE 0 END)) = 1"
    )
    # per-type map value for row i (type 4 and 5 share the band form:
    # at W=1 the wipe's column-major traversal IS the raster)
    t0_runs = "(1 + (doc_id // 5) % 2)"
    t0_cyc = f"({t0_runs} + 1 + (doc_id // 7) % 2)"
    t2_u0 = "((doc_id // 5) % mh)"
    t4_cyc = "(1 + (doc_id // 5) % (mh - 1))"
    t4_d = "((doc_id // 11) % 2)"
    t5_rate = "(1 + (doc_id // 7) % 2)"
    t5_cyc = f"(1 + (doc_id // 5) % ((mh + {t5_rate} - 1) // {t5_rate}))"
    t5_units = f"LEAST({t5_cyc} * {t5_rate}, mh)"
    t5_d = "((doc_id // 13) % 2)"
    sg_i = f"""CASE
        WHEN t = 0 THEN
          CASE WHEN i % {t0_cyc} < {t0_runs} THEN 0 ELSE 1 END
        WHEN t = 1 THEN i % 2
        WHEN t = 2 THEN
          CASE WHEN i >= {t2_u0}
                AND i <= {t2_u0} + (doc_id // 7) % (mh - {t2_u0})
               THEN 0 ELSE 1 END
        WHEN t = 4 THEN
          CASE WHEN i < (CASE WHEN {t4_d} = 1
                              THEN mh - {t4_cyc} ELSE {t4_cyc} END)
               THEN {t4_d} ELSE 1 - {t4_d} END
        WHEN t = 5 THEN
          CASE WHEN i < (CASE WHEN {t5_d} = 1
                              THEN mh - {t5_units} ELSE {t5_units} END)
               THEN {t5_d} ELSE 1 - {t5_d} END
        ELSE (doc_id // (i + 1)) % 2
      END"""
    return f"""
WITH geo AS (
  SELECT doc_id,
         4 + (doc_id // 9) % 4 AS mh,
         ([0, 1, 2, 4, 5, 6])[1 + (doc_id // 3) % 6] AS t
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 1
), mp AS (
  SELECT doc_id, mh, t,
         list_transform(range(0, mh), i -> {sg_i}) AS sg
  FROM geo
)
SELECT doc_id,
       16 AS width,
       CAST(16 * mh AS INTEGER) AS height,
       CAST(t AS INTEGER) AS map_type,
       CAST((CASE WHEN list_contains(sg, 0) THEN 1 ELSE 0 END)
          + (CASE WHEN list_contains(sg, 1) THEN 1 ELSE 0 END)
          AS INTEGER) AS n_slices,
       CAST(len(list_filter(sg, v -> v = 0)) AS INTEGER) AS group0_size,
       CAST((256 * list_sum(list_transform(range(0, mh), y ->
           128 + list_sum(list_transform(range(0, y + 1), u ->
               CASE WHEN {in_chain} THEN {off_u} ELSE 0 END)))))
           % 1000000007 AS BIGINT) AS checksum
FROM mp
"""


_H264_FMO_ORACLE = _h264_fmo_oracle()


def _fmo_doc_config(d: int) -> tuple[int, int, dict, int]:
    """(mb_h, map_type, encode_pps fmo params, change_cycle) for doc
    d — the Python mirror of the oracle's geo/map CTEs."""
    mh = 4 + (d // 9) % 4
    t = [0, 1, 2, 4, 5, 6][(d // 3) % 6]
    cycle = 0
    if t == 0:
        fmo = {
            "n_groups": 2, "map_type": 0,
            "run_length": (1 + (d // 5) % 2, 1 + (d // 7) % 2),
        }
    elif t == 1:
        fmo = {"n_groups": 2, "map_type": 1}
    elif t == 2:
        u0 = (d // 5) % mh
        fmo = {
            "n_groups": 2, "map_type": 2,
            "top_left": (u0,),
            "bottom_right": (u0 + (d // 7) % (mh - u0),),
        }
    elif t == 4:
        fmo = {
            "n_groups": 2, "map_type": 4,
            "change_direction": (d // 11) % 2, "change_rate": 1,
        }
        cycle = 1 + (d // 5) % (mh - 1)
    elif t == 5:
        rate = 1 + (d // 7) % 2
        fmo = {
            "n_groups": 2, "map_type": 5,
            "change_direction": (d // 13) % 2,
            "change_rate": rate,
        }
        # slice_group_change_cycle must fit 0..Ceil(size/rate) (7.4.3)
        cycle = 1 + (d // 5) % ((mh + rate - 1) // rate)
    else:
        fmo = {
            "n_groups": 2, "map_type": 6,
            "slice_group_id": tuple((d // (i + 1)) % 2 for i in range(mh)),
        }
    return mh, t, fmo, cycle


def h264_fmo_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One raw Annex-B IDR per video doc whose PPS splits the 1-MB-wide
    picture into FMO slice groups — the map type cycles all six
    W=1-expressible derivations (0/1/2/4/5/6; box-out needs 2-D and is
    pytest-pinned instead), one slice per group with per-MB
    mb_qp_delta, odd docs emitting their slices in reversed order
    (ASO)."""
    from streams_spark.functions import h264 as _h

    mags = [0, 1, 2, 5, 9, 20, 26]

    def make_blob(d):
        mh, _, fmo, cycle = _fmo_doc_config(d)
        m = _h._fmo_fixture_map(mh, fmo, cycle)
        levels = [
            mags[(d + 3 * r) % 7] * (1 if (d + r) % 2 == 0 else -1)
            for r in range(mh)
        ]
        deltas = [
            [
                ((d // (p + 1) + g) % 3) - 1
                for p in range(sum(1 for v in m if v == g))
            ]
            for g in range(2)
        ]
        return (_h.h264_encode_fmo(
            mh, levels, deltas, fmo, cycle,
            slice_order=[1, 0] if d % 2 else None,
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264fmo", (_h,), F.col("doc_id") % 3 == 1,
        make_blob,
    )


@register("m_h264_fmo", oracle=_H264_FMO_ORACLE)
def m_h264_fmo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 FMO decode: pictures whose PPS partitions the MB
    raster into slice groups, one slice per group walking NextMbAddress
    order (8.2.2.8), slices arriving out of order on odd docs (ASO).
    The reported group0_size comes from the DECODER's own
    slice_group_map derivation (h264_slice_group_sizes) and the
    checksum from the decoded pixels, while the oracle recomputes both
    from first principles per map type — so the map derivation, the
    NextMbAddress walk, slice-bounded prediction across interleaved
    groups, and per-slice QP sequencing are all value-checked.

    Scale: map-only Arrow decode over a staged blob table, like every
    real-codec row.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.h264 import annexb_split
    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.h264 import h264_slice_group_sizes

    def decode(doc_id, payload):
        buf = bytes(payload)
        n_slices = sum(
            1 for nal in annexb_split(buf)
            if nal and (nal[0] & 0x1F) in (1, 5)
        )
        fr = h264_decode(buf)
        d = int(doc_id)
        _, map_type, _, _ = _fmo_doc_config(d)
        sizes = h264_slice_group_sizes(buf)
        h, w = fr.y.shape
        yield (
            d, int(w), int(h), int(map_type), n_slices, int(sizes[0]),
            int(fr.y.astype(np.int64).sum()) % 1_000_000_007,
        )

    return decode_blobs(
        h264_fmo_table_real(spark, sf_dir), decode,
        "doc_id long, width int, height int, map_type int, "
        "n_slices int, group0_size int, checksum bigint",
    )


# ---------------------------------------------------------------------------
# Real AAC ADTS frame census (the audio sibling of m_mp3_census)
# ---------------------------------------------------------------------------

_AAC_ORACLE = """
WITH v AS (
  SELECT doc_id,
         3 + (doc_id // 3) % 5 AS nf,
         (doc_id // 7) % 13 AS sfi,
         1 + (doc_id // 11) % 2 AS channels,
         doc_id % 5 AS lead_junk,
         CASE WHEN doc_id % 4 = 0 THEN 10 + (doc_id % 23) ELSE 0 END
           AS id3_bytes
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 3 = 0
), f AS (
  SELECT doc_id, nf, sfi, channels, lead_junk, id3_bytes,
         list_transform(range(0, nf), i ->
             CASE WHEN (doc_id + i) % 3 = 0 THEN 1 ELSE 0 END) AS crcs,
         list_transform(range(0, nf), i ->
             CASE WHEN (doc_id + i) % 3 = 0 THEN 1
                  ELSE 1 + (doc_id + i) % 2 END) AS blocks,
         list_transform(range(0, nf), i ->
             20 + (7 * doc_id + 13 * i) % 50) AS payloads
  FROM v
)
SELECT doc_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(([96000, 88200, 64000, 48000, 44100, 32000, 24000,
              22050, 16000, 12000, 11025, 8000, 7350])[1 + sfi]
            AS INTEGER) AS samplerate,
       CAST(channels AS INTEGER) AS channels,
       CAST(1024 * list_sum(blocks) AS BIGINT) AS total_samples,
       CAST(7 * nf + 2 * list_sum(crcs) + list_sum(payloads) AS BIGINT)
         AS frame_bytes,
       CAST(list_sum(crcs) AS INTEGER) AS crc_frames,
       CAST(list_sum(list_transform(blocks, b ->
            CASE WHEN b > 1 THEN 1 ELSE 0 END)) AS INTEGER)
         AS multi_block_frames,
       CAST(lead_junk AS INTEGER) AS junk_bytes,
       CAST(id3_bytes AS INTEGER) AS id3_bytes
FROM f
"""


def aac_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL ADTS elementary stream per audio doc (doc_id % 3 = 0):
    3..7 frames sweeping all 13 sampling-frequency indices, mono and
    stereo, CRC and multi-raw-data-block frames, leading junk, and an
    ID3v2 tag on every fourth doc."""
    from streams_spark.functions import aac as _a

    def make_blob(d):
        frames = []
        for i in range(3 + (d // 3) % 5):
            crc = (d + i) % 3 == 0
            blocks = 1 if crc else 1 + (d + i) % 2
            frames.append((20 + (7 * d + 13 * i) % 50, blocks, crc))
        return (_a.adts_build(
            frames,
            sfi=(d // 7) % 13,
            channels=1 + (d // 11) % 2,
            lead_junk=d % 5,
            id3_size=(10 + (d % 23)) if d % 4 == 0 else 0,
            seed=d,
        ),)

    return _synth_feed(
        spark, sf_dir, "docaac", (_a,), F.col("doc_id") % 3 == 0, make_blob,
    )


@register("m_aac_census", oracle=_AAC_ORACLE)
def m_aac_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata census over REAL AAC ADTS elementary streams
    (ISO 14496-3 1.A.2.2): the scanner skips the ID3v2 tag, resyncs
    past junk with next-frame validation, and hops frame-to-frame by
    the 13-bit aac_frame_length — reporting frame count, sample rate,
    channel configuration, total samples (1024 per raw data block,
    so multi-block frames must be counted correctly), stream bytes,
    CRC-protected and multi-block frame counts, and junk/tag bytes.
    Everything comes from the SCAN of genuinely framed bytes; the
    oracle predicts each field in closed form from the synthesis rule.
    False syncs, truncation, reserved frequency indices, and the
    trailing-junk demotion semantics are pytest-covered
    (tests/test_aac.py).

    Scale: two chained map-only Arrow stages, no shuffle; per-blob
    cost is header hops, not byte scans, once synced. Same posture as
    m_mp3_census — a PCM decoder plugs in via decode_fn= without
    touching the census.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    from streams_spark.functions.aac import adts_scan

    def census(doc_id, payload):
        scan = adts_scan(bytes(payload))
        fr = scan.frames
        yield (
            int(doc_id),
            len(fr),
            fr[0].sample_rate if fr else 0,
            fr[0].channels if fr else 0,
            1024 * sum(f.blocks for f in fr),
            sum(f.size for f in fr),
            sum(1 for f in fr if f.crc),
            sum(1 for f in fr if f.blocks > 1),
            scan.junk_bytes,
            scan.id3_bytes,
        )

    return decode_blobs(
        aac_table_real(spark, sf_dir), census,
        "doc_id long, n_frames int, samplerate int, channels int, "
        "total_samples bigint, frame_bytes bigint, crc_frames int, "
        "multi_block_frames int, junk_bytes int, id3_bytes int",
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (storage-level dedup over opaque payloads)
# ---------------------------------------------------------------------------

CDC_WINDOW = 8  # bytes hashed per boundary probe
CDC_DIVISOR = 32  # P(boundary) = 1/32 per position -> ~32-byte avg chunks

_CDC_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text AS s, len(text) AS n
  FROM documents WHERE doc_id IS NOT NULL
),
b AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, s, unnest(range(8, n + 1)) AS i FROM m)
  WHERE CAST(('0x' || substr(md5(substr(s, i - 7, 8)), 1, 4))
             AS INTEGER) % 32 = 0
),
bs AS (SELECT doc_id, list_sort(list(i)) AS bs FROM b GROUP BY doc_id),
withb AS (
  SELECT m.doc_id, m.media_type, m.s, m.n, coalesce(bs.bs, []) AS bs
  FROM m LEFT JOIN bs USING (doc_id)
),
idx AS (
  SELECT doc_id, media_type, s,
         list_prepend(0, bs) AS st, list_append(bs, n) AS en,
         unnest(range(1, len(bs) + 2)) AS k
  FROM withb
),
c AS (
  SELECT media_type, md5(substr(s, st[k] + 1, en[k] - st[k])) AS h,
         length(substr(s, st[k] + 1, en[k] - st[k])) AS bytes
  FROM idx WHERE en[k] > st[k]
),
g AS (
  SELECT media_type, h, count(*) AS cnt, any_value(bytes) AS bytes
  FROM c GROUP BY media_type, h
)
SELECT media_type,
       CAST(sum(cnt) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS distinct_chunks,
       CAST(sum(cnt * bytes) AS BIGINT) AS logical_bytes,
       CAST(sum(bytes) AS BIGINT) AS stored_bytes,
       floor(sum(bytes) * 1.0 / sum(cnt * bytes) * 10000 + 0.5) / 10000
         AS dedup_ratio
FROM g GROUP BY media_type
"""


def cdc_chunk_table(
    spark: SparkSession,
    sf_dir: str,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Chunk-level frame (doc_id, media_type, start, end, chunk_md5,
    bytes) from content-defined chunking of every payload.

    A chunk boundary is declared after byte position i whenever
    md5(payload[i-W+1 .. i]) % D == 0 — the boundary depends only on the
    LOCAL W-byte window, so identical content regions re-align to
    identical chunks even when shifted by inserts/deletes upstream
    (the property fixed-size blocking lacks, and the reason backup/
    object stores chunk this way; Muthitacharoen et al., LBFS SOSP'01).
    The probe hash is engine-portable md5 (the repo-wide idiom) rather
    than a rolling Gear/Rabin chain: boundary tests stay independent
    per position, which is what makes the op expressible as ONE
    declarative plan in both engines instead of a stateful scan.

    Scale shape: the boundary probe is a generator explode (positions)
    feeding codegen md5 — map-only, no shuffle, output only the
    boundary hits (~n/D rows). One partial-agg'd groupBy(doc_id)
    collects each doc's boundary list (tiny: positions only), which
    joins back onto the payload row to slice chunks inside the
    projection. Only 16-byte chunk digests + lengths shuffle for the
    corpus-wide chunk-store rollup — payload bytes NEVER shuffle. At
    100 TB the probe explode is the dominant map cost (one md5 per
    byte); a real deployment fuses it into a mapInPandas gear-hash
    chunker per partition (same downstream shape), which the decode_fn
    seam above already demonstrates for codecs.
    """
    media = media_table(spark, sf_dir)
    base = media.select(
        "doc_id",
        "media_type",
        F.decode("payload", "utf-8").alias("s"),
    )
    return cdc_chunks_of(base, window=window, divisor=divisor)


def cdc_chunks_of(
    base: DataFrame, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> DataFrame:
    """CDC chunk frame over any (doc_id, media_type, s:string) frame —
    the reusable core of cdc_chunk_table (see its docstring for the
    boundary rule and scale shape)."""
    base = base.withColumn("n", F.length("s"))
    probe = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(window), F.col("n"))).alias("i"),
        "s",
    ).where(F.col("n") >= window)
    h16 = F.conv(
        F.substring(
            F.md5(F.substring("s", F.col("i") - window + 1, window)), 1, 4
        ),
        16,
        10,
    ).cast("int")
    bounds = (
        probe.where(h16 % divisor == 0)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("bs"))
    )
    withb = base.join(bounds, "doc_id", "left").withColumn(
        "bs", F.coalesce("bs", F.array().cast("array<int>"))
    )
    z = F.explode(
        F.arrays_zip(
            F.concat(F.array(F.lit(0)), F.col("bs")).alias("start"),
            F.concat(F.col("bs"), F.array(F.col("n"))).alias("end"),
        )
    )
    # bytes = length of the ACTUAL sliced content, not end-start
    # arithmetic: a conflicting-duplicate doc_id (two rows, different
    # payloads — seeded-fuzz class) merges both rows' boundary lists,
    # and a boundary beyond the shorter payload clamps its slice, so
    # end-start would attach DIFFERENT byte counts to occurrences of
    # the SAME chunk_md5 — and first()/any_value() then pick different
    # representatives per engine. Content length is a pure function of
    # the hash, so the group representative is deterministic.
    chunk = F.substring(
        "s", F.col("z.start") + 1, F.col("z.end") - F.col("z.start")
    )
    return (
        withb.select("doc_id", "media_type", "s", z.alias("z"))
        .select(
            "doc_id",
            "media_type",
            F.col("z.start").alias("start"),
            F.col("z.end").alias("end"),
            F.md5(chunk).alias("chunk_md5"),
            F.length(chunk).cast("long").alias("bytes"),
        )
        .where(F.col("end") > F.col("start"))
    )


@register("m_cdc_chunks", oracle=_CDC_ORACLE)
def m_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality chunk-store profile of content-defined chunking:
    how many chunks, how many distinct after global (per-modality)
    dedup, logical vs stored bytes, and the dedup ratio — the planning
    query run before turning on chunk-level dedup in a blob store
    (the reference stores payloads as opaque entry bytes,
    /root/reference/server/messages.go:65; CDC is how a storage engine
    dedups THOSE without understanding them). Ratio uses the repo's
    cross-engine floor-rounding rule."""
    chunks = cdc_chunk_table(spark, sf_dir)
    g = chunks.groupBy("media_type", "chunk_md5").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("bytes").alias("bytes"),
    )
    ratio = F.sum("bytes") / F.sum(F.col("cnt") * F.col("bytes"))
    return g.groupBy("media_type").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("distinct_chunks"),
        F.sum(F.col("cnt") * F.col("bytes")).alias("logical_bytes"),
        F.sum("bytes").alias("stored_bytes"),
        (F.floor(ratio * 10000 + F.lit(0.5)) / 10000).alias("dedup_ratio"),
    )


# ---------------------------------------------------------------------------
# Real animated-GIF per-frame census (functions/gif.py)
# ---------------------------------------------------------------------------

_GIF_ORACLE = """
WITH geo AS (
  SELECT doc_id,
         8 + (doc_id % 5) * 10 AS nc,
         16 + (doc_id % 3) * 8 AS w,
         16 + ((doc_id // 3) % 3) * 8 AS h,
         2 + (doc_id // 2) % 3 AS nf
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 4 = 1
), fr AS (
  SELECT doc_id, nc, w, h, nf, unnest(range(0, nf)) AS k
  FROM geo
), shaped AS (
  SELECT doc_id, nc, nf, k,
         CASE WHEN k = 0 THEN 0
              ELSE (5 * k + doc_id) % (w - 8) END AS x,
         CASE WHEN k = 0 THEN 0
              ELSE (3 * k + doc_id) % (h - 8) END AS y,
         CASE WHEN k = 0 THEN w ELSE 5 + (doc_id + k) % 4 END AS fw,
         CASE WHEN k = 0 THEN h ELSE 4 + (doc_id + 2 * k) % 5 END AS fh,
         (k = 0 AND doc_id % 2 = 1) AS interlaced,
         (k > 0 AND k % 2 = 1) AS has_transp,
         (k = 1 AND doc_id % 3 = 0) AS local_pal
  FROM fr
), px AS (
  SELECT *,
         -- decoded palette index at flat position i inside the frame
         list_transform(range(0, fw * fh), i ->
             CASE WHEN k = 0
                  THEN ((i % fw) + 2 * (i // fw) + doc_id) % (nc - 1)
                  ELSE (3 * (i % fw) + (i // fw) + doc_id + k) % nc
             END) AS idxs
  FROM shaped
)
SELECT doc_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(x AS INTEGER) AS x,
       CAST(y AS INTEGER) AS y,
       CAST(fw AS INTEGER) AS width,
       CAST(fh AS INTEGER) AS height,
       -- the wire color table is padded to a power of two; nc stays
       -- the synthesis-rule size for the index/pixel formulas
       CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 32 WHEN 2 THEN 32
            WHEN 3 THEN 64 ELSE 64 END AS INTEGER) AS palette_size,
       CAST(interlaced AS INTEGER) AS interlaced,
       CAST(has_transp AS INTEGER) AS has_transparency,
       CAST(local_pal AS INTEGER) AS local_palette,
       CAST(CASE WHEN has_transp THEN
                len(list_filter(idxs, v -> v = nc - 1)) ELSE 0 END
            AS INTEGER) AS n_transparent,
       CAST(list_sum(idxs) AS BIGINT) AS idx_sum,
       CAST(list_sum(list_transform(
                CASE WHEN has_transp
                     THEN list_filter(idxs, v -> v != nc - 1)
                     ELSE idxs END,
                j -> CASE WHEN local_pal
                     THEN (19*j + 5*doc_id) % 256 + (29*j + 7*doc_id) % 256
                          + (37*j + 11*doc_id) % 256
                     ELSE (17*j + doc_id) % 256 + (23*j + 2*doc_id) % 256
                          + (31*j + 3*doc_id) % 256 END))
            AS BIGINT) AS rgb_sum
FROM px
"""


def _gif_doc_config(d: int):
    nc = 8 + (d % 5) * 10
    w = 16 + (d % 3) * 8
    h = 16 + ((d // 3) % 3) * 8
    nf = 2 + (d // 2) % 3
    return nc, w, h, nf


def _gif_palette(d: int, nc: int, local: bool):
    import numpy as np

    j = np.arange(nc, dtype=np.int64)
    if local:
        cols = ((19 * j + 5 * d) % 256, (29 * j + 7 * d) % 256,
                (37 * j + 11 * d) % 256)
    else:
        cols = ((17 * j + d) % 256, (23 * j + 2 * d) % 256,
                (31 * j + 3 * d) % 256)
    return np.stack(cols, axis=1).astype(np.uint8)


def gif_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL animated GIF89a per image doc (doc_id % 4 = 1): a full
    interlaced-or-not base frame plus 1..3 sub-rectangle patch frames
    sweeping transparency (odd frames), disposal 1, per-frame delays,
    a local color table on frame 1 of every third doc, and palette
    sizes 8..48 (so the LZW stream exercises code widths 3..6 plus
    growth). Every structural feature the census reports is synthesized
    from a closed-form doc_id rule the oracle reproduces."""
    import numpy as np

    from streams_spark.functions import gif as _g

    def make_blob(d):
        nc, w, h, nf = _gif_doc_config(d)
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        base = ((xx + 2 * yy + d) % (nc - 1)).astype(np.uint8)
        frames = [_g.GifFrameSpec(base, interlaced=(d % 2 == 1))]
        for k in range(1, nf):
            fy, fx = np.meshgrid(
                np.arange(4 + (d + 2 * k) % 5), np.arange(5 + (d + k) % 4),
                indexing="ij",
            )
            frames.append(_g.GifFrameSpec(
                ((3 * fx + fy + d + k) % nc).astype(np.uint8),
                x=(5 * k + d) % (w - 8), y=(3 * k + d) % (h - 8),
                palette=(
                    _gif_palette(d, nc, local=True)
                    if k == 1 and d % 3 == 0 else None
                ),
                transparent=(nc - 1) if k % 2 == 1 else None,
                disposal=1, delay_cs=k,
            ))
        gpal = _gif_palette(d, nc, local=False)
        return (_g.gif_encode(w, h, frames, gpal, loop_count=0),)

    return _synth_feed(
        spark, sf_dir, "docgif", (_g,), F.col("doc_id") % 4 == 1, make_blob,
    )


@register("m_gif_frames", oracle=_GIF_ORACLE)
def m_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame census over REAL animated GIFs (GIF89a spec): LZW at
    code widths 3..6 with mid-stream growth, 4-pass row interlace,
    graphic-control transparency, local color tables, and
    sub-rectangle frame placement. Every reported number — geometry,
    flags, transparent-pixel count, raw index sum, and the
    palette-resolved RGB sum over opaque pixels — is computed from the
    DECODED structures (indices + palette arrays), never from the
    synthesis rule, and the oracle predicts each in closed form; a
    decoder wrong in LZW growth, de-interlacing, GCE scoping, or
    palette selection diverges on the first affected frame row.
    External-file validation (CPython/IDLE icons, including two real
    interlaced GIFs and an 87a banner) lives in tests/test_interop.py.

    Scale: one staged-blob scan -> repartition -> one map-only Arrow
    decode stage fanning frames out without a shuffle (same posture as
    m_mp4_frames). Per-payload decode is the codec's own sequential
    data dependency; parallelism is across blobs.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.gif import gif_decode

    def census(doc_id, payload):
        g = gif_decode(bytes(payload))
        for k, fr in enumerate(g.frames):
            idx = fr.indices.astype(np.int64)
            if fr.transparent is None:
                opaque = np.ones(idx.shape, dtype=bool)
                n_transp = 0
            else:
                opaque = idx != fr.transparent
                n_transp = int((~opaque).sum())
            pal = fr.palette.astype(np.int64)
            yield (
                int(doc_id), k, len(g.frames), fr.x, fr.y,
                idx.shape[1], idx.shape[0],
                len(fr.palette), int(fr.interlaced),
                int(fr.transparent is not None),
                int(fr.local_palette), n_transp,
                int(idx.sum()), int(pal[idx[opaque]].sum()),
            )

    return decode_blobs(
        gif_table_real(spark, sf_dir), census,
        "doc_id long, frame_idx int, n_frames int, x int, y int, "
        "width int, height int, palette_size int, interlaced int, "
        "has_transparency int, local_palette int, n_transparent int, "
        "idx_sum bigint, rgb_sum bigint",
    )


# ---------------------------------------------------------------------------
# Encoding-invariant image dedup across FIVE container formats
# ---------------------------------------------------------------------------

_IMAGE_FORMAT_DEDUP_ORACLE = """
SELECT doc_id,
       CAST(5 AS INTEGER) AS n_blobs,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 2 ELSE 1 END AS INTEGER)
         AS n_clusters,
       CAST(CASE WHEN doc_id % 10 = 7 THEN 4 ELSE 5 END AS INTEGER)
         AS max_cluster,
       CASE WHEN doc_id % 10 = 7 THEN 'bmp' ELSE '' END AS odd_format
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
WHERE doc_id % 5 = 2
"""


def image_format_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 16-color palette image packaged FIVE ways per doc
    (doc_id % 5 = 2): PNG (zlib/filters), GIF (LZW, interlaced on odd
    docs), BMP (bottom-up BGR + row padding), PPM (raw), and baseline
    TIFF (strips) — all byte-lossless containers of identical RGB
    content. Every tenth doc's BMP flips one pixel so the operator has
    genuine near-miss negatives, not just positives."""
    import numpy as np

    from streams_spark.functions import codecs as _c
    from streams_spark.functions import gif as _g
    from streams_spark.functions import rasters as _r

    def make_blob(d):
        nc = 16
        w, h = 12 + d % 9, 10 + (2 * d) % 7
        pal = _gif_palette(d, nc, local=False)
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        idx = ((2 * xx + 3 * yy + d) % nc).astype(np.uint8)
        rgb = pal[idx]
        bmp = rgb
        if d % 10 == 7:
            bmp = rgb.copy()
            bmp[0, 0] = pal[(int(idx[0, 0]) + 1) % nc]
        gif = _g.GifFrameSpec(idx, interlaced=(d % 2 == 1))
        return [
            ("png", _c.png_encode(rgb)),
            ("gif", _g.gif_encode(w, h, [gif], pal)),
            ("ppm", _r.pnm_encode(rgb)),
            ("tiff", _r.tiff_encode(rgb)),
            ("bmp", _r.bmp_encode(bmp)),
        ]

    return _synth_feed(
        spark, sf_dir, "docimgfmt", (_c, _g, _r), F.col("doc_id") % 5 == 2,
        make_blob, "doc_id long, format string, payload binary",
    )


def _sniff_rgb(payload: bytes):
    """Magic-dispatch an image payload to its decoder; returns (h,w,3)
    uint8 RGB (alpha dropped, palettes resolved)."""
    import numpy as np

    from streams_spark.functions.codecs import png_decode
    from streams_spark.functions.gif import gif_composite, gif_decode
    from streams_spark.functions.rasters import (
        RasterError, bmp_decode, pnm_decode, tiff_decode,
    )

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        arr = png_decode(payload)
    elif payload[:3] == b"GIF":
        arr = gif_composite(gif_decode(payload))
    elif payload[:2] == b"BM":
        arr = bmp_decode(payload)
    elif payload[:2] in (b"P5", b"P6"):
        arr = pnm_decode(payload)
    elif payload[:4] in (b"II*\x00", b"MM\x00*"):
        arr = tiff_decode(payload)
    else:
        raise RasterError("unrecognized image magic")
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    return arr[:, :, :3]


@register("m_image_format_dedup", oracle=_IMAGE_FORMAT_DEDUP_ORACLE)
def m_image_format_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-invariant dedup across five REAL image containers: the
    pixel-level sibling of m_cross_container_dedup (mp4v/avc1) and
    m_video_pixel_dedup. Each payload is decoded by magic sniff
    through a DIFFERENT codec path (zlib+filters, LZW+interlace,
    BGR+stride, raw, TIFF strips); a position-weighted checksum over
    the decoded RGB is the dedup key, so all five decoders must agree
    on every byte of every pixel for the clusters to close — one wrong
    stride, flip, or channel order anywhere and n_clusters diverges
    from the oracle. Every tenth doc's BMP differs by ONE pixel and
    must land in its own cluster (the near-miss negative), and the
    operator reports which format broke away.

    Scale: staged-blob scan -> map-only decode+checksum (no pixel
    leaves the task) -> ONE hash shuffle on (doc_id) for the
    cluster-size aggregation — the bucketed-dedup shape, never
    all-pairs. At 100 TB the checksum doubles as the blocking key for
    cross-DOC exact dedup, same plan.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    def decode(doc_id, fmt, payload):
        arr = _sniff_rgb(bytes(payload)).astype(np.int64).ravel()
        weights = np.arange(1, arr.size + 1, dtype=np.int64)
        checksum = int((arr * weights).sum() % 1_000_000_007)
        yield (int(doc_id), str(fmt), checksum)

    decoded = decode_blobs(
        image_format_table_real(spark, sf_dir), decode,
        "doc_id long, format string, checksum bigint",
    )
    clusters = decoded.groupBy("doc_id", "checksum").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sort_array(F.collect_list("format")).alias("formats"),
    )
    return clusters.groupBy("doc_id").agg(
        F.sum("sz").cast("int").alias("n_blobs"),
        F.count(F.lit(1)).cast("int").alias("n_clusters"),
        F.max("sz").cast("int").alias("max_cluster"),
        # the formats of any singleton clusters, comma-joined ('' when
        # all five agree) — pins WHICH decoder broke away
        F.array_join(
            F.sort_array(F.flatten(F.collect_list(
                F.when(F.col("sz") == 1, F.col("formats"))
                .otherwise(F.array())
            ))), ","
        ).alias("odd_format"),
    )


# ---------------------------------------------------------------------------
# Encoding-invariant audio dedup across WAV / AU / AIFF / G.711
# ---------------------------------------------------------------------------

_AUDIO_CONTAINER_DEDUP_ORACLE = """
SELECT doc_id,
       CAST(4 AS INTEGER) AS n_blobs,
       CAST(CASE WHEN doc_id % 12 = 10 THEN 3 ELSE 2 END AS INTEGER)
         AS n_clusters,
       CAST(CASE WHEN doc_id % 12 = 10 THEN 2 ELSE 3 END AS INTEGER)
         AS max_cluster,
       CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS rate,
       CAST(120 + doc_id % 80 AS INTEGER) AS n_samples,
       CASE WHEN doc_id % 12 = 10 THEN 'aiff,ulaw' ELSE 'ulaw' END
         AS odd_format
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
WHERE doc_id % 6 = 4
"""


def _audio_doc_samples(d: int):
    import numpy as np

    n = 120 + d % 80
    i = np.arange(n, dtype=np.int64)
    s = ((i * (i + 3) * 7 + 31 * d) % 4001) - 2000
    # sample 0 is pinned to 1..7: never a G.711 reconstruction level
    # (segment-0 mu-law levels are multiples of 8), so the companded
    # variant ALWAYS differs from every PCM packaging
    s[0] = d % 7 + 1
    return s.astype(np.int32)


def audio_container_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same int16 PCM recording packaged FOUR ways per audio doc
    (doc_id % 6 = 4): WAV (RIFF little-endian), AU (big-endian), AIFF
    (big-endian + 80-bit extended rate), and a G.711 mu-law AU — the
    lossy near-duplicate that must NOT join the exact cluster. Every
    twelfth doc's AIFF is one sample off (an independent remaster),
    giving the operator genuine negatives in the lossless tier too."""
    import numpy as np

    from streams_spark.functions import au_aiff as _aa
    from streams_spark.functions import codecs as _c

    def make_blob(d):
        rate = 8000 * (1 + d % 3)
        s = _audio_doc_samples(d)
        aiff = s
        if d % 12 == 10:
            aiff = s.copy()
            aiff[1] += 2
        return [
            ("wav", _c.wav_encode(s.astype(np.int16), rate)),
            ("au", _aa.au_encode(s, rate, 1, encoding=3)),
            ("aiff", _aa.aiff_encode(aiff, rate)),
            ("ulaw", _aa.au_encode(s, rate, 1, encoding=1)),
        ]

    return _synth_feed(
        spark, sf_dir, "docaudiofmt", (_aa, _c), F.col("doc_id") % 6 == 4,
        make_blob, "doc_id long, format string, payload binary",
    )


@register("m_audio_container_dedup", oracle=_AUDIO_CONTAINER_DEDUP_ORACLE)
def m_audio_container_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-invariant audio dedup across REAL containers: WAV, AU,
    and AIFF packagings of identical PCM must collapse into one exact
    cluster (three decoders, three byte orders, three header layouts),
    the G.711 mu-law companding of the same recording must break away
    (lossy near-dup), and the every-twelfth-doc one-sample AIFF
    remaster must form its own cluster. The dedup key is a
    position-weighted checksum over DECODED samples, so sign
    extension, endianness, or rate parsing wrong in ANY decoder
    diverges from the oracle; the reported rate is COALESCE-checked
    equal across all four headers (80-bit extended float included).
    External cross-container ground truth (CPython's pluck corpus in
    all three containers + companded variants) is pinned in
    tests/test_interop.py.

    Scale: staged-blob scan -> map-only decode+checksum -> ONE hash
    shuffle on doc_id for cluster aggregation (bucketed dedup, never
    all-pairs) — the audio sibling of m_image_format_dedup.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    import numpy as np

    from streams_spark.functions.au_aiff import aiff_decode, au_decode
    from streams_spark.functions.codecs import wav_decode

    def decode(doc_id, fmt, payload):
        buf = bytes(payload)
        if buf[:4] == b"RIFF":
            s, rate, _ch = wav_decode(buf)
        elif buf[:4] == b".snd":
            s, rate, _ch = au_decode(buf)
        elif buf[:4] == b"FORM":
            s, rate, _ch, _bits = aiff_decode(buf)
        else:
            raise ValueError("unrecognized audio magic")
        s = np.asarray(s, dtype=np.int64).ravel()
        weights = np.arange(1, s.size + 1, dtype=np.int64)
        checksum = int(
            ((s * weights).sum() % 1_000_000_007 + 1_000_000_007)
            % 1_000_000_007
        )
        yield (int(doc_id), str(fmt), checksum, int(rate), s.size)

    decoded = decode_blobs(
        audio_container_table_real(spark, sf_dir), decode,
        "doc_id long, format string, checksum bigint, rate int, n int",
    )
    clusters = decoded.groupBy("doc_id", "checksum").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sort_array(F.collect_list("format")).alias("formats"),
        F.min("rate").alias("rate_min"),
        F.max("rate").alias("rate_max"),
        F.min("n").alias("n_min"),
        F.max("n").alias("n_max"),
    )
    return clusters.groupBy("doc_id").agg(
        F.sum("sz").cast("int").alias("n_blobs"),
        F.count(F.lit(1)).cast("int").alias("n_clusters"),
        F.max("sz").cast("int").alias("max_cluster"),
        # all four containers must declare the SAME rate and length;
        # min==max collapses to the oracle's closed-form value (a
        # header-parse bug yields a row the oracle rejects)
        F.when(
            (F.min("rate_min") == F.max("rate_max")), F.min("rate_min")
        ).otherwise(F.lit(-1)).cast("int").alias("rate"),
        F.when(
            (F.min("n_min") == F.max("n_max")), F.min("n_min")
        ).otherwise(F.lit(-1)).cast("int").alias("n_samples"),
        F.array_join(
            F.sort_array(F.flatten(F.collect_list(
                F.when(F.col("sz") == 1, F.col("formats"))
                .otherwise(F.array())
            ))), ","
        ).alias("odd_format"),
    )


# ---------------------------------------------------------------------------
# Real H.264 reference-list modification + adaptive marking decode
# ---------------------------------------------------------------------------


def _h264_rplm_oracle() -> str:
    """Closed form for m_h264_rplm: the multiref recursive CTE carrying
    THREE decoded pictures — rows (F[n-1]), prows (F[n-2]), pprows
    (F[n-3]) — because adaptive marking makes the DPB non-contiguous.
    The fixture GOP is F0 IDR; F1 single-ref; F2 two-ref initial
    order; F3 RPLM-swapped (8.2.4.3.1 op idc 0, abs_diff 2 -> the
    OLDER picture to index 0) and carrying MMCO 1 that forgets F2
    AFTER F3 decodes; F4 therefore resolves {ref0, ref1} = {F3, F1};
    F5 (every other doc) is back to plain sliding-window order. A
    decoder that ignores the modification, applies marking before the
    current picture's prediction, forgets the wrong picture, or lets
    the sliding window run on the MMCO picture diverges from this SQL
    on whole MB rows of F3/F4."""
    clamp = "LEAST(GREATEST({}, 0), 16*mh - 1)"
    ref = "((doc_id + fno + y // 16) % 2)"
    src = (
        f"(CASE WHEN fno = 1 THEN rows "
        f"WHEN fno = 3 THEN (CASE WHEN {ref} = 1 THEN rows ELSE prows END) "
        f"WHEN fno = 4 THEN (CASE WHEN {ref} = 1 THEN pprows ELSE rows END) "
        f"ELSE (CASE WHEN {ref} = 1 THEN prows ELSE rows END) END)"
    )
    r = lambda off: f"{src}[1 + {clamp.format(f'y + yi{off}')}]"  # noqa: E731
    h1 = (
        f"({r('-2')} - 5*{r('-1')} + 20*{r('')} + 20*{r('+1')}"
        f" - 5*{r('+2')} + {r('+3')})"
    )
    hv = f"(CASE WHEN {h1} + 16 < 0 THEN 0 ELSE LEAST(({h1} + 16) // 32, 255) END)"
    pred = (
        f"(CASE yf WHEN 0 THEN {r('')} "
        f"WHEN 1 THEN ({r('')} + {hv} + 1) // 2 "
        f"WHEN 2 THEN {hv} "
        f"ELSE ({hv} + {r('+1')} + 1) // 2 END)"
    )
    delta = "([0, 4, -4])[1 + (doc_id + 2*fno + y // 16) % 3]"
    return f"""
WITH RECURSIVE geo AS (
  SELECT doc_id,
         2 + (doc_id // 3) % 3 AS mw,
         2 + (doc_id // 9) % 3 AS mh,
         5 + (doc_id // 27) % 2 AS nf,
         16 * (2 + (doc_id // 3) % 3) - 2 * (doc_id % 4) AS w,
         16 * (2 + (doc_id // 9) % 3) - 2 * ((doc_id // 5) % 3) AS h
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL)
  WHERE doc_id % 6 = 5
), steps AS (
  SELECT doc_id, mw, mh, nf, w, h, 0 AS frame_no,
         list_transform(range(0, 16*mh), y ->
             40 + (7 * doc_id) % 160
             + COALESCE(list_sum(list_transform(range(1, y // 16 + 1),
                 r -> ([0, 3, 5])[1 + (doc_id + r) % 3])), 0)) AS rows,
         CAST(NULL AS BIGINT[]) AS prows,
         CAST(NULL AS BIGINT[]) AS pprows
  FROM geo
  UNION ALL
  SELECT doc_id, mw, mh, nf, w, h, fno,
         list_transform(range(0, 16*mh), y ->
             LEAST(GREATEST({pred} + {delta}, 0), 255)),
         rows,
         prows
  FROM (
    SELECT *, ((mvy % 4) + 4) % 4 AS yf,
           (mvy - (((mvy % 4) + 4) % 4)) // 4 AS yi
    FROM (
      SELECT *, frame_no + 1 AS fno,
             ((3 * doc_id + 7 * (frame_no + 1)) % 23) - 11 AS mvy
      FROM steps WHERE frame_no + 1 < nf
    )
  )
)
SELECT doc_id,
       CAST(frame_no AS INTEGER) AS frame_no,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((frame_no // 2) * 1536 + (frame_no % 2) * 512 AS BIGINT)
         AS dts_ticks,
       (frame_no = 0) AS is_idr,
       CAST((w * list_sum(rows[1:h])) % 1000000007 AS BIGINT) AS checksum
FROM steps
"""


_H264_RPLM_ORACLE = _h264_rplm_oracle()


def h264_rplm_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL H.264 GOP-in-MP4 per video doc (doc_id % 6 = 5)
    exercising reference-list modification and adaptive marking: F2
    codes two active references in initial order; F3 carries a
    7.3.3.1 ref_pic_list_modification that SWAPS the list (op idc 0,
    abs_diff_pic_num_minus1 1) AND a 7.3.3.3 adaptive
    dec_ref_pic_marking whose MMCO 1 forgets F2 once F3 is stored; F4
    then resolves its two references to the non-contiguous DPB
    {F3, F1}; F5 (every other doc) returns to plain sliding-window
    order. Per-MB-row ref_idx (doc_id + frame + row) % 2 as in the
    multiref family."""
    from streams_spark.functions import h264 as _h
    from streams_spark.functions import mp4 as _m

    def make_blob(d):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
        aus = [
            _h.h264_encode_rows(
                mw, mh, 40 + (7 * d) % 160,
                [(d + r) % 3 for r in range(1, mh)],
                crop_right=crop_r, crop_bottom=crop_b,
                max_ref=2,
            )
        ]
        for f in range(1, 5 + (d // 27) % 2):
            mvx = ((5 * d + 3 * f) % 13) - 6
            mvy = ((3 * d + 7 * f) % 23) - 11
            levels = [[0, 1, -1][(d + 2 * f + r) % 3] for r in range(mh)]
            multi = {} if f == 1 else {
                "row_refs": [(d + f + r) % 2 for r in range(mh)],
                "num_ref_active": 2,
                "rplm": [(0, 1)] if f == 3 else None,
                "mmco_forget": [0] if f == 3 else None,
            }
            aus.append(_h.h264_encode_p_rows(
                mw, mh, (mvx, mvy), levels, frame_num=f, **multi,
            ))
        return (_m.mp4_mux(
            aus, 16 * mw - crop_r, 16 * mh - crop_b, sync_every=len(aus),
        ),)

    return _synth_feed(
        spark, sf_dir, "doch264rplm", (_h, _m), F.col("doc_id") % 6 == 5,
        make_blob,
    )


@register("m_h264_rplm", oracle=_H264_RPLM_ORACLE)
def m_h264_rplm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 reference-picture-list modification + adaptive
    marking decode: every stream carries a 7.3.3.1 RPLM that reorders
    RefPicList0 away from the 8.2.4.2.1 initial order (picNumLXPred
    arithmetic, 8.2.4.3.1) and an MMCO-1 adaptive marking (8.2.5.4.1)
    that forgets a mid-GOP picture, leaving a NON-CONTIGUOUS DPB the
    next frame must resolve references against. The oracle replays
    the whole GOP in a recursive CTE carrying three decoded pictures
    (see _h264_rplm_oracle): ignoring the modification, mistiming the
    marking, or letting the sliding window run on the MMCO picture
    shifts whole MB rows of F3/F4 and breaks the checksum. What the
    row-constant fixture cannot see (predictor chaining across
    multiple ops, PicNum wraparound, per-SLICE modification, the
    non-conforming raises) is pytest-pinned in
    tests/test_h264_rplm.py.

    Scale: identical to m_h264_multiref — one staged-blob scan, one
    map-only Arrow decode stage, no shuffle; the DPB keeps at most 2
    uncropped frames of per-task state.

    Reference contract: consumer-side decode of opaque payloads
    (/root/reference/server/messages.go:65)."""
    return _decode_gops(h264_rplm_table_real(spark, sf_dir))
