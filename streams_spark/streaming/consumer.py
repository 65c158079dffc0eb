"""ConsumerContext: resumable, offset-checkpointed consumption.

The reference's consumer loop (/root/reference/consumer_context.go:24-47,
57-183) is: enumerate from offset → drain → wait for tickle → re-enumerate
from the new offset. That is precisely Structured Streaming's incremental
execution: a file-source readStream + checkpointed offsets; `tickle` is
the file-source's directory listing; `Trigger.AvailableNow` is the
"drain what exists now" mode (SURVEY.md §2.5).

Six constructors mirror the reference's (multi-space / space / segment ×
from-time / from-offset), expressed as filters on the streamed log.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_spark.schema import EVENT_LOG_SCHEMA


class ConsumerContext:
    """Tail an event-log directory (parquet files in EVENT_LOG_SCHEMA
    layout) with exactly-once, checkpoint-resumable delivery."""

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        checkpoint_dir: str,
        spaces: list[str] | None = None,
        segment: str | None = None,
        min_timestamp: _dt.datetime | None = None,
    ) -> None:
        self.spark = spark
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        self.spaces = spaces
        self.segment = segment
        self.min_timestamp = min_timestamp

    # -- constructors mirroring consumer_context.go:57-183 ------------------

    @classmethod
    def for_space(cls, spark, log_dir, checkpoint_dir, space, **kw):
        return cls(spark, log_dir, checkpoint_dir, spaces=[space], **kw)

    @classmethod
    def for_segment(cls, spark, log_dir, checkpoint_dir, space, segment, **kw):
        return cls(
            spark, log_dir, checkpoint_dir, spaces=[space], segment=segment, **kw
        )

    @classmethod
    def for_spaces(cls, spark, log_dir, checkpoint_dir, spaces, **kw):
        return cls(spark, log_dir, checkpoint_dir, spaces=spaces, **kw)

    # -----------------------------------------------------------------------

    def _source(self) -> DataFrame:
        df = (
            self.spark.readStream.schema(EVENT_LOG_SCHEMA)
            .option("maxFilesPerTrigger", "16")
            .parquet(self.log_dir)
        )
        if self.spaces is not None:
            df = df.where(F.col("space").isin(self.spaces))
        if self.segment is not None:
            df = df.where(F.col("segment") == self.segment)
        if self.min_timestamp is not None:
            df = df.where(F.col("timestamp") > F.lit(self.min_timestamp))
        return df

    def consume_available(self, handler) -> None:
        """Drain everything currently in the log through `handler(df, batch_id)`,
        recording progress in the checkpoint — the AvailableNow analog of the
        reference's enumerate-then-wait loop. Calling again after new files
        appear delivers only the delta (offset resume, consumer_context.go:166-183).
        """
        q = (
            self._source()
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def start(self, handler, processing_time: str = "1 second"):
        """Continuous tailing (the subscription form — client.go:188-206):
        returns the running StreamingQuery; caller stops it."""
        return (
            self._source()
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
