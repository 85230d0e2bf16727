"""Consume path: topic → durable sink with commit-after-flush.

Reference parity (PyConnectSink, R12-R20 of SURVEY.md §2.1). The
reference's contract, proven by its tests
(test/test_pyconnectsink.py:93-126):

1. records are buffered, then flushed by the user's ``on_flush``;
2. offsets are committed **only after** a successful flush;
3. a failed flush prevents the commit → replay on restart
   (at-least-once, duplicates possible, loss impossible).

Spark-native mapping: the micro-batch IS the flush buffer.
``foreachBatch(on_flush)`` runs the user flush; Structured Streaming
writes the batch's offsets to the checkpoint commit log only after
``foreachBatch`` returns successfully — exactly guarantee (2). A crash
inside ``on_flush`` fails the batch, the offset is not committed, and the
restarted query replays the same batch — guarantee (3).

``EpochFileSink`` upgrades (3) to exactly-once: its flush writes the
batch as an epoch-named directory by streaming/epoch.py's rule, so a
replay rewrites the same directory instead of appending twice.

Message-type dispatch (R13: STANDARD/NO_MESSAGE/ERROR/EOF) collapses:
Spark sources surface only data rows; errors fail the query
(→ status machine); EOF = ``trigger(availableNow=True)``.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pyconnect_spark.config import SinkConfig
from pyconnect_spark.streaming.core import BaseConnector
from pyconnect_spark.streaming.epoch import write_epoch
from pyconnect_spark.streaming.source import RECORD_SCHEMA


class SparkSink(BaseConnector):
    """Topic-location → user flush sink connector.

    Override :meth:`on_flush` (batch DataFrame + epoch id) — the analogue
    of the reference's buffered ``on_message_received`` + ``on_flush``
    pair, at micro-batch granularity.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: SinkConfig,
        *,
        schema: Optional[T.StructType] = None,
        stop_at_end: bool = True,
        max_crash_restarts: int = 0,
    ):
        super().__init__(
            spark,
            checkpoint_location=config.checkpoint_location,
            stop_at_end=stop_at_end,
            max_crash_restarts=max_crash_restarts,
        )
        self.config = config
        self.schema = schema or RECORD_SCHEMA
        if not config.topics:
            raise ValueError("SinkConfig.topics is required")

    # ---- overridables ----
    def read_stream(self) -> DataFrame:
        """Default: file-'topic' directories (JSON-lines)."""
        [topic] = self.config.topics  # file mode: single topic dir
        return self.spark.readStream.schema(self.schema).json(topic)

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        """User flush: persist the micro-batch durably. Runs to completion
        BEFORE the batch's offsets commit to the checkpoint."""
        raise NotImplementedError

    # ---- plumbing ----
    def _write(self, writer: DataStreamWriter) -> StreamingQuery:
        return writer.foreachBatch(self._flush_wrapper).start()

    def _flush_wrapper(self, batch: DataFrame, epoch_id: int) -> None:
        # Bounded in-place flush retry, opt-in via sink_flush_retry_count
        # (default 0 = reference-parity semantics: one flush failure
        # crashes the sink, the uncommitted batch replays on restart —
        # test_s03). The reference's sink_commit_retry_count guards its
        # OFFSET COMMIT to Kafka; in this engine the commit is the
        # checkpoint write, whose transient-failure retries live in the
        # filesystem client, so the user-facing knob here is flush retry:
        # a transient on_flush failure (throttled object store, connection
        # blip) retries in place before the batch is declared failed.
        retries = self.config.sink_flush_retry_count
        attempt = 0
        while True:
            try:
                self.on_flush(batch, epoch_id)
                return
            except Exception:
                attempt += 1
                if attempt > retries:
                    raise


class FileSink(SparkSink):
    """JSON-lines append sink — parity with the reference's file_sink
    example (examples/file_sink/file_sink.py:34-67): flush appends
    {"key": ..., "value": ...} lines to one file.

    The append is idempotence-free by design (at-least-once, like the
    reference); an exactly-once file sink would write per-epoch part
    files keyed by epoch_id instead.
    """

    def __init__(self, *args, out_path: str, **kw):
        super().__init__(*args, **kw)
        self.out_path = out_path
        self.flushed_batches: list[int] = []

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        rows = batch.select("key", "value").collect()
        os.makedirs(os.path.dirname(self.out_path) or ".", exist_ok=True)
        with open(self.out_path, "a") as f:
            for r in rows:
                f.write(json.dumps({"key": r["key"], "value": r["value"]}) + "\n")
        self.flushed_batches.append(epoch_id)


class EpochFileSink(SparkSink):
    """Exactly-once JSON-lines sink: each micro-batch becomes the
    directory ``out_dir/epoch-%010d.jsonl`` of executor-written part
    files, promoted by streaming/epoch.py's tmp-write + rename. A replayed
    batch (crash after flush, before the checkpoint commit) rewrites and
    re-promotes the *same* directory, so downstream readers observe each
    record exactly once — upgrading the reference's at-least-once
    contract where the sink target supports idempotent writes."""

    def __init__(self, *args, out_dir: str, **kw):
        super().__init__(*args, **kw)
        self.out_dir = out_dir

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        """The executors write the rows (the driver never sees them); the
        driver's promote is a delete and a rename on ``out_dir``'s
        FileSystem."""
        write_epoch(
            batch.select(F.to_json(F.struct("key", "value")).alias("line")),
            f"{self.out_dir}/epoch-{epoch_id:010d}.jsonl",
            "text",
        )


class RecordCallbackSink(SparkSink):
    """Migration shim for reference users whose logic lives in the
    per-record ``on_message_received`` hook (pyconnectsink.py:196-221).

    The callback runs per record ON THE EXECUTORS (``foreachPartition``
    inside the micro-batch), so porting keeps per-record granularity
    without funnelling data through the driver. Semantics that carry
    over: a raising callback fails the batch → no offset commit → replay
    (at-least-once, reference guarantee 3). Semantics that change: the
    callback must be a plain picklable callable (not a bound method that
    drags the SparkSession along), and side effects must be executor-safe
    (idempotent external writes, not driver-memory mutation) — which is
    also true of any real Kafka Connect sink task.
    """

    def __init__(self, *args, on_record: Callable[[Optional[str], Optional[str]], None], **kw):
        super().__init__(*args, **kw)
        self._on_record = on_record

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        fn = self._on_record  # capture the callable, not self

        def run_partition(rows) -> None:
            for r in rows:
                fn(r["key"], r["value"])

        batch.select("key", "value").foreachPartition(run_partition)


class DlqFileSink(SparkSink):
    """Dead-letter-queue sink: per batch, rows failing a validation
    predicate are routed to a DLQ directory (JSON-lines, with the failure
    reason and epoch id attached) instead of failing the query — the
    Kafka-Connect errors.tolerance=all + DLQ-topic pattern. Valid rows
    append to the main output; both writes complete before the batch's
    offsets commit, so neither side can be lost (at-least-once on both
    paths). The predicate and reason are Column expressions evaluated
    executor-side — no row ever reaches the driver."""

    def __init__(
        self,
        *args,
        out_path: str,
        dlq_path: str,
        valid: Column,
        reason: Column,
        **kw,
    ):
        super().__init__(*args, **kw)
        self.out_path = out_path
        self.dlq_path = dlq_path
        self._valid = valid
        self._reason = reason
        self.n_good = 0
        self.n_dlq = 0

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        flagged = batch.withColumn("_valid", self._valid).cache()
        try:
            good = flagged.filter(F.col("_valid")).drop("_valid")
            bad = (
                flagged.filter(~F.col("_valid"))
                .drop("_valid")
                .withColumn("_dlq_reason", self._reason)
                .withColumn("_dlq_epoch", F.lit(epoch_id))
            )
            # Each count rides its own write job.
            n_good, n_dlq = Observation(), Observation()
            good.observe(n_good, F.count(F.lit(1)).alias("n")).write.mode("append").json(
                self.out_path
            )
            bad.observe(n_dlq, F.count(F.lit(1)).alias("n")).write.mode("append").json(
                self.dlq_path
            )
            self.n_good += n_good.get["n"]
            self.n_dlq += n_dlq.get["n"]
        finally:
            flagged.unpersist()


class CallbackSink(SparkSink):
    """Sink driven by a plain callable — the test harness's
    PyConnectTestSink analogue (test/utils.py:244-302): records land in
    ``flushed_messages`` via the user function; failure injection is a
    matter of raising from the callable."""

    def __init__(self, *args, flush_fn: Callable[[DataFrame, int], None], **kw):
        super().__init__(*args, **kw)
        self._flush_fn = flush_fn

    def on_flush(self, batch: DataFrame, epoch_id: int) -> None:
        self._flush_fn(batch, epoch_id)
