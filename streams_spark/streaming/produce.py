"""Transactional produce path: validated, idempotent, exactly-once appends.

Reproduces the observable guarantees of the reference's 2-phase commit
produce pipeline (/root/reference/server/pebble/service.go:296-335,
410-523): sequence contiguity per (space, segment), atomic chunk commit,
and duplicate-transaction rejection — using the Structured Streaming sink
contract instead of a WAL + quorum: an idempotent foreachBatch keyed by
batchId (a committed-batch ledger) gives the same exactly-once result
from the consumer's viewpoint (SURVEY.md §7).

Both commit paths, the batch verb `client.produce` and
`streaming_produce`, append through the same steps, the reference's
peek tails → check `seq == last+1` → commit: `validate_batch` runs ONE
grouped aggregate over (records ⋈ tails → lag window) whose rows are at
once the contiguity check and the SegmentStatus; `stamp_records` adds
the arrival timestamp and trx identity, taking trx_number from those
status rows on the driver; one write commits the stamped batch. A small
append costs about its number of Spark jobs, so no step runs a job of
its own that another step's job could carry.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


class SequenceError(ValueError):
    """ERR_SEQUENCE_MISMATCH analog (/root/reference/server/pebble/service.go:349)."""


def local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side frame of `rows` under a flat DDL `schema`,
    built through Arrow from pandas, so it plans as a LocalRelation. A frame built from a Python list is a
    LogicalRDD over a Python RDD instead: evaluating it starts Python
    workers (over a second of CPU per use)."""
    import pandas as pd

    names = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def validate_batch(
    records: DataFrame, last_sequences: DataFrame | None = None
) -> list:
    """Check per-segment sequence contiguity against the log tails and
    return the batch's SegmentStatus rows, sorted by (space, segment).
    Any violation rejects the whole chunk, like the reference rejects
    the transaction (service.go:345-363).

    One query: records ⋈ tails → lag window → the one grouped aggregate
    of `segment_status`, whose extra column is each segment's smallest
    bad (sequence, expected) pair; the same collect validates the batch
    and is its status. A NULL sequence is bad: it equals no expected
    value. The tails join is a shuffled hash join on (space, segment),
    so its exchange is also the one the window and the aggregate need:
    the query runs a tails shuffle, a records shuffle and the result,
    where a broadcast of the tails would add a collect job of its own.

    records: (space, segment, sequence, payload[, metadata])
    last_sequences: (space, segment, last_sequence) — from peek_all; None
    means empty log (all segments start at 1).
    """
    if last_sequences is None:
        df = records.withColumn("last_sequence", F.lit(0).cast("long"))
    else:
        df = records.join(
            last_sequences.hint("shuffle_hash"), ["space", "segment"], "left"
        )
    w = Window.partitionBy("space", "segment").orderBy("sequence")
    prev = F.coalesce(F.lag("sequence").over(w), "last_sequence", F.lit(0))
    df = df.withColumn("expected", prev + 1)
    bad = F.when(
        ~F.col("sequence").eqNullSafe(F.col("expected")),
        F.struct("sequence", "expected"),
    )
    status = sorted(
        segment_status(df, F.min(bad).alias("bad")),
        key=lambda r: [(k is not None, k) for k in (r.space, r.segment)],
    )
    for r in status:
        if r.bad is not None:
            raise SequenceError(
                f"sequence mismatch in ({r.space}, {r.segment}): "
                f"got {r.bad.sequence}, expected {r.bad.expected}"
            )
    return [
        Row(**{k: v for k, v in r.asDict().items() if k != "bad"}) for r in status
    ]


def stamp_records(
    batch: DataFrame, status: list, node_id: str | None = None
) -> DataFrame:
    """Server-side stamping of a validated batch: arrival timestamp, trx
    identity (trx_id, trx_node) and trx_number, the segment's 1-based
    index in `status` (validate_batch's rows, sorted by space, segment).

    The index reaches the rows as a `local_frame` broadcast-joined on
    (space, segment): no job ranks the segments, and each row costs one
    hash probe, where a literal map lookup scans every key per row (a
    2,000-segment batch on 4 vCPUs: 20 s of CPU against 0.5 s). The left join keeps
    a record with a NULL key (its trx_number NULL) rather than drop it.
    """
    ranks = local_frame(
        batch.sparkSession,
        [(r.space, r.segment, i) for i, r in enumerate(status, 1)],
        "space string, segment string, trx_number long",
    )
    return (
        batch.withColumn("timestamp", F.current_timestamp())
        .withColumn("trx_id", F.lit(str(uuid.uuid4())))
        .withColumn("trx_node", F.lit(node_id or str(uuid.uuid4())))
        .join(F.broadcast(ranks), ["space", "segment"], "left")
    )


def segment_status(batch: DataFrame, *extra_aggs) -> list:
    """SegmentStatus rows of a batch (server/messages.go:38-45): per
    (space, segment) first/last sequence and count, plus any
    `extra_aggs` computed in the same pass (validate_batch's violation
    check). Shared by the batch produce verb and the streaming sink so
    the status shape cannot drift between the two commit paths."""
    return (
        batch.groupBy("space", "segment")
        .agg(
            F.min("sequence").alias("first_sequence"),
            F.max("sequence").alias("last_sequence"),
            F.count(F.lit(1)).alias("n"),
            *extra_aggs,
        )
        .collect()
    )


def _log_has_data(spark, log_dir: str) -> bool:
    """True iff the log path exists and contains at least one
    non-hidden entry — resolved through the Hadoop FileSystem of the
    path's scheme, so s3a://, hdfs:// and file:// logs all answer
    correctly. A driver-local os.path check would silently report a
    REMOTE log as absent and let validation run against
    last_sequence=0 (the duplicate-append failure mode the explicit
    check exists to prevent)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(log_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (name.startswith(".") or name.startswith("_")):
            return True
    return False


class IdempotentLogSink:
    """foreachBatch sink with a committed-batch ledger.

    Phase 1 (write) / phase 2 (commit) of the reference's 2PC become:
    check ledger → write parquet → record batchId. Re-delivery of a batch
    after failure is a no-op — the same duplicate-write guard as the
    reference's pending-transaction window (service.go:722-758).

    Rollback (service.go:509-523): each batch writes under its own
    `commit_batch=<id>` partition, and the ledger file is the commit
    point. A batch killed between the parquet write and the ledger write
    leaves phase-1 residue that (a) `read_committed` never surfaces
    (batch id absent from the ledger), and (b) the next delivery of the
    same batchId deletes before rewriting — so a crashed commit can
    neither duplicate rows nor leak uncommitted ones.
    """

    def __init__(self, log_dir: str, ledger_dir: str, hub=None) -> None:
        self.log_dir = log_dir
        self.ledger_dir = ledger_dir
        self.hub = hub  # optional SubscriptionHub for post-commit notify
        os.makedirs(ledger_dir, exist_ok=True)

    def _ledger_path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"batch-{batch_id}.json")

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._ledger_path(batch_id))

    def committed_ids(self) -> list[int]:
        return sorted(
            int(n[len("batch-") : -len(".json")])
            for n in os.listdir(self.ledger_dir)
            if n.startswith("batch-") and n.endswith(".json")
        )

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"commit_batch={batch_id}")

    def rollback(self, batch_id: int) -> None:
        """Delete phase-1 residue of an uncommitted batch (the explicit
        Rollback verb). Refuses to touch committed batches."""
        if self.committed(batch_id):
            raise ValueError(f"batch {batch_id} is committed; cannot roll back")
        shutil.rmtree(self._batch_dir(batch_id), ignore_errors=True)

    def read_committed(self, spark) -> DataFrame:
        """The read-committed view of the log: only batches whose ledger
        record exists. The isin filter prunes whole `commit_batch=`
        partition directories at the scan, so uncommitted residue is
        never read, let alone surfaced. A sink that has committed
        nothing yet reads as an EMPTY frame (canonical event-log
        schema), not a PATH_NOT_FOUND crash — 'only committed batches'
        includes the zero-batches case."""
        ids = self.committed_ids()
        if not ids or not _log_has_data(spark, self.log_dir):
            from streams_spark.schema import EVENT_LOG_SCHEMA

            return spark.createDataFrame([], EVENT_LOG_SCHEMA)
        df = spark.read.parquet(self.log_dir)
        return df.where(F.col("commit_batch").isin(ids)).drop("commit_batch")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):
            return  # duplicate delivery — exactly-once no-op
        self.rollback(batch_id)  # clear residue of a crashed prior attempt
        # materialize once: the write and the status agg would otherwise
        # each re-execute the batch plan
        batch_df = batch_df.localCheckpoint()
        (
            batch_df.withColumn("commit_batch", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("commit_batch", "space")
            .parquet(self.log_dir)
        )
        status = segment_status(batch_df)
        # SegmentStatus notification analog (server/messages.go:38-45)
        tmp = self._ledger_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "segments": [r.asDict() for r in status],
                },
                f,
                default=str,
            )
        os.rename(tmp, self._ledger_path(batch_id))
        if self.hub is not None:
            # post-commit notification, like the reference's
            # notifySupervisor(SegmentStatus) after a committed chunk
            # (/root/reference/server/pebble/service.go:388-392)
            self.hub.notify_batch(batch_id, [r.asDict() for r in status])

    def statuses(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.ledger_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.ledger_dir, name)) as f:
                    out.append(json.load(f))
        return out


def streaming_produce(
    spark,
    records_dir: str,
    log_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    hub=None,
    max_files_per_trigger: int = 1,
):
    """The full reference produce pipeline as one streaming query:
    records stream in → per chunk: peek current tails → validate
    contiguity (validate_batch) → stamp (stamp_records) → idempotent
    commit → SegmentStatus notification; the same steps as
    `client.produce`, so stamping and validation have one path.

    Mirrors /root/reference/server/pebble/service.go:296-335 end to end:
    ChunkByCount becomes maxFilesPerTrigger micro-batching, the WAL+2PC
    becomes the batchId ledger, notifySupervisor becomes the hub. A chunk
    with a sequence gap aborts the query (the transaction), leaving the
    log exactly as it was — rejection is all-or-nothing per chunk.

    Returns the StreamingQuery (AvailableNow: drains existing records and
    stops; re-run after new records arrive for ConsumerContext-style
    tailing).
    """
    from streams_spark import client

    sink = IdempotentLogSink(log_dir, ledger_dir, hub=hub)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if sink.committed(batch_id):
            return
        # Empty-log detection is EXPLICIT (Hadoop-FS path check, so
        # s3a://hdfs:// logs resolve correctly), not exception-driven: a
        # transient read error on a NON-empty log must abort the batch,
        # not silently validate against last_sequence=0 and append
        # duplicate sequences. Only genuinely-absent logs take the
        # tails=None path. Tails come from the READ-COMMITTED view:
        # peeking raw files would count phase-1 residue of a crashed
        # batch and push the expected sequence past the committed tail,
        # wedging every retry on a phantom gap.
        if _log_has_data(batch_df.sparkSession, log_dir):
            log = sink.read_committed(batch_df.sparkSession)
            tails = client.peek_all(log).select(
                "space", "segment", F.col("sequence").alias("last_sequence")
            )
        else:  # first batch: no log yet
            tails = None
        status = validate_batch(batch_df, tails)
        sink(stamp_records(batch_df, status), batch_id)

    stream = (
        spark.readStream.schema(
            "space string, segment string, sequence long, payload binary"
        )
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(records_dir)
    )
    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
