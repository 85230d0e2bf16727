"""Produce path: external records → topic.

Reference parity (PyConnectSource, R6-R11 of SURVEY.md §2.1): a source
reads ``(key, value)`` records sequentially and publishes them to a topic,
persisting its read position so a restart resumes where it left off.

Spark-native re-expression:

- the record stream is a streaming DataFrame with ``key`` / ``value``
  columns (the reference's fundamental abstraction);
- "publish to topic" = ``writeStream`` to a topic *location*: here a
  JSON-lines directory (the file "topic" used by the reference's own
  examples, examples/file_source/file_source.py); streaming/kafka.py's
  ``KafkaSource`` is the same connector writing to a Kafka topic;
- ``seek``/``get_index``/offset-topic machinery (pyconnectsource.py:90-138,
  208-250) is the checkpoint: file sources track consumed files, Kafka
  sources track offsets, all recovered on restart automatically;
- EOF handling (R19): ``stop_at_end`` (``trigger(availableNow=True)``,
  set in ``BaseConnector``) drains everything then stops — the "stop at
  end of data" mode; ``stop_at_end=False`` is the continuous
  poll-forever behavior (reference default: sleep + retry,
  pyconnectsource.py:198-206).

JSON-lines record format parity (one object per line):
``{"key": ..., "value": ...}`` — examples/file_source/file_source.py:52-56.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pyconnect_spark.config import SourceConfig
from pyconnect_spark.streaming.core import BaseConnector

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


class SparkSource(BaseConnector):
    """File(JSON-lines) → topic-location source connector.

    Subclass points: override :meth:`read_stream` to plug any streaming
    source (rate, socket, custom Python data source), and
    :meth:`transform` to reshape records before publish.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: SourceConfig,
        *,
        input_dir: str,
        schema: Optional[T.StructType] = None,
        stop_at_end: bool = True,
        max_crash_restarts: int = 0,
        reader_options: Optional[dict] = None,
    ):
        super().__init__(
            spark,
            checkpoint_location=config.checkpoint_location,
            stop_at_end=stop_at_end,
            max_crash_restarts=max_crash_restarts,
        )
        self.config = config
        self.input_dir = input_dir
        self.schema = schema or RECORD_SCHEMA
        # Micro-batch granularity / rate limiting — the Spark analogue of
        # the reference's per-message poll + need_flush() cadence knobs
        # (poll_timeout, flush-every-N): e.g. {"maxFilesPerTrigger": 1}
        # caps each batch at one input file (availableNow still drains
        # everything, in bounded batches), and Kafka sources take
        # maxOffsetsPerTrigger the same way.
        self.reader_options = dict(reader_options or {})

    # ---- overridables ----
    def read_stream(self) -> DataFrame:
        """The record stream. Default: JSON-lines directory with the
        reference's {"key","value"} record shape."""
        reader = self.spark.readStream.schema(self.schema)
        for k, v in self.reader_options.items():
            reader = reader.option(k, v)
        return reader.json(self.input_dir)

    def _write(self, writer: DataStreamWriter) -> StreamingQuery:
        # File-"topic": a directory named after the topic, JSON-lines parts.
        return writer.format("json").start(self.config.topic)


class RecordsSource(SparkSource):
    """Test-harness source producing from an in-memory record list —
    parity with the reference's PyConnectTestSource (test/utils.py:167-241).
    Records are staged to a JSON-lines file, then streamed normally so the
    full checkpoint/recovery path is exercised."""

    def __init__(self, spark, config, records, *, staging_dir: str, **kw):
        os.makedirs(staging_dir, exist_ok=True)
        import json

        path = os.path.join(staging_dir, "records.jsonl")
        with open(path, "w") as f:
            for key, value in records:
                f.write(json.dumps({"key": key, "value": value}) + "\n")
        super().__init__(spark, config, input_dir=staging_dir, **kw)
