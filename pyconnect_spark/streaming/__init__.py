"""Connector framework on Structured Streaming.

Re-expression of the reference's connector semantics
(/root/reference/src/pyconnect/{core,pyconnectsource,pyconnectsink}.py):

- `core`     — connector lifecycle + status machine (R1-R5); builds and
               awaits every connector's one StreamingQuery
- `source`   — produce path: records → topic (R6-R11)
- `sink`     — consume path: topic → durable sink with commit-after-flush
               at-least-once delivery (R12-R20)
- `epoch`    — epoch-versioned directories: the exactly-once write rule
               of EpochFileSink and the streaming state folds
- `kafka`    — Kafka + Confluent-Avro wiring and the KafkaSource connector
               (gated on the spark-sql-kafka jar, absent in this image)
- `windows`  — event-time windowing/watermark/dedup helpers (S04-S06)
- `stateful` — custom stateful operators on applyInPandasWithState
"""

from pyconnect_spark.streaming.core import BaseConnector, Status  # noqa: F401
from pyconnect_spark.streaming.sink import SparkSink  # noqa: F401
from pyconnect_spark.streaming.source import SparkSource  # noqa: F401
