"""avro_connector_drain: the connector framework's whole data path.

Closed loop, backlog drain. A run writes RECORDS_PER_ROUND keyed records
to JSON-lines files; in each round the source connector infers Avro
schemas from the first record and publishes Confluent-framed Avro to a
fresh file topic, and the sink connector drains the topic in bounded
batches, decodes, and promotes one epoch directory per batch (exactly
once). Few large batches let the per-record codec weigh against the fixed
cost of each batch.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections import Counter

from pyspark.sql import functions as F

from pyconnect_spark.config import SinkConfig, SourceConfig
from pyconnect_spark.functions import avro_codec
from pyconnect_spark.functions.avro import avro_to_spark_type, create_schema_from_record
from pyconnect_spark.streaming.sink import EpochFileSink
from pyconnect_spark.streaming.source import SparkSource

import gen
from harness import median, percentile, read_epochs, stream_metrics

RECORDS_PER_ROUND = 16000
FILES_PER_ROUND = 8
FILES_PER_BATCH = 4  # both connectors: two batches per round, one file per core
KEY_SCHEMA_ID, VALUE_SCHEMA_ID = 1, 2


def _first_record(input_dir: str) -> dict:
    first = sorted(os.listdir(input_dir))[0]
    with open(os.path.join(input_dir, first)) as f:
        return json.loads(f.readline())


class AvroSource(SparkSource):
    """Publishes each record as Confluent-framed Avro; the schemas are
    inferred from the first record, as the reference source does on its
    first produce."""

    def __init__(self, spark, config, *, input_dir: str, **kw):
        first = _first_record(input_dir)
        self.key_schema = create_schema_from_record("key", first["key"])
        self.value_schema = create_schema_from_record("value", first["value"], optional_primitives=True)
        self.value_type = avro_to_spark_type(self.value_schema)[0]
        schema = f"key string, value {self.value_type.simpleString()}"
        super().__init__(
            spark, config, input_dir=input_dir, schema=schema,
            reader_options={"maxFilesPerTrigger": FILES_PER_BATCH}, **kw,
        )

    def transform(self, df):
        return df.select(
            avro_codec.to_avro_py(F.col("key"), self.key_schema, schema_id=KEY_SCHEMA_ID).alias("key"),
            avro_codec.to_avro_py(F.col("value"), self.value_schema, schema_id=VALUE_SCHEMA_ID).alias("value"),
        )


class AvroEpochSink(EpochFileSink):
    """Drains the Avro topic in bounded batches and decodes it; the flush
    is EpochFileSink's tmp-write + promote."""

    def __init__(self, spark, config, *, source: AvroSource, tracer, **kw):
        super().__init__(spark, config, schema="key binary, value binary", **kw)
        self.source = source
        self.tracer = tracer

    def read_stream(self):
        [topic] = self.config.topics
        return self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", FILES_PER_BATCH).json(topic)

    def transform(self, df):
        src = self.source
        return df.select(
            avro_codec.from_avro_py(F.col("key"), src.key_schema, "string", confluent_framed=True).alias("key"),
            avro_codec.from_avro_py(
                F.col("value"), src.value_schema, src.value_type.simpleString(), confluent_framed=True
            ).alias("value"),
        )

    def on_flush(self, batch, epoch_id):
        with self.tracer.span("sink.flush", epoch=epoch_id):
            super().on_flush(batch, epoch_id)


def _canon(value: dict) -> str:
    # to_json leaves out null fields; the generator writes them as null.
    return json.dumps({"note": None, **value}, sort_keys=True)


def _inputs(ctx, seed: int, n: int) -> tuple[list[tuple[str, dict]], str, Counter]:
    """Records, the directory holding them as files, and the multiset the
    sink must deliver."""
    records = gen.make_records(seed, n)
    in_dir = tempfile.mkdtemp(prefix="avro-in-", dir=ctx.work)
    gen.write_record_files(records, in_dir, FILES_PER_ROUND)
    return records, in_dir, Counter((k, _canon(v)) for k, v in records)


def _round(ctx, in_dir: str, want: Counter) -> dict:
    """One produce + drain of ``in_dir`` through a fresh topic."""
    root = tempfile.mkdtemp(prefix="avro-", dir=ctx.work)
    topic, out = os.path.join(root, "topic"), os.path.join(root, "out")
    os.makedirs(topic)

    wall0, t0 = time.time(), time.perf_counter()
    n = sum(want.values())
    with ctx.tracer.span("avro.round", records=n):
        with ctx.tracer.span("source.produce"):
            source = AvroSource(
                ctx.spark,
                SourceConfig(bootstrap_servers="localhost:9092", topic=topic, checkpoint_location=os.path.join(root, "ck-src")),
                input_dir=in_dir,
            )
            source.run()
        t1 = time.perf_counter()
        with ctx.tracer.span("sink.consume"):
            AvroEpochSink(
                ctx.spark,
                SinkConfig(bootstrap_servers="localhost:9092", topics=[topic], checkpoint_location=os.path.join(root, "ck-sink")),
                source=source,
                tracer=ctx.tracer,
                out_dir=out,
            ).run()
    t2 = time.perf_counter()

    epochs = read_epochs(out).values()
    got = Counter()
    latencies = []
    for durable, lines in epochs:
        for line in lines:
            rec = json.loads(line)
            got[(rec["key"], _canon(rec["value"]))] += 1
        latencies += [(durable - wall0) * 1000.0] * len(lines)
    failed = sum(((want - got) + (got - want)).values())
    return {
        "produce_s": t1 - t0,
        "consume_s": t2 - t1,
        "seconds": t2 - t0,
        "records": n,
        "failed": failed,
        "latencies": latencies,
        "batch_sizes": [len(lines) for _, lines in epochs],
        "schemas": (source.key_schema, source.value_schema),
    }


def _codec_metrics(records, key_schema, value_schema) -> dict[str, float]:
    """In-process encode/decode cost of the codec on this run's records:
    key plus value both ways, and the bytes of the same payloads."""
    t = time.perf_counter()
    encoded = [(avro_codec.encode(k, key_schema), avro_codec.encode(v, value_schema)) for k, v in records]
    enc = time.perf_counter() - t
    t = time.perf_counter()
    for k, v in encoded:
        avro_codec.decode(k, key_schema)
        avro_codec.decode(v, value_schema)
    dec = time.perf_counter() - t
    return {
        "avro_codec.encode_us_per_record": enc / len(records) * 1e6,
        "avro_codec.decode_us_per_record": dec / len(records) * 1e6,
        "avro_codec.bytes_per_record": sum(len(k) + len(v) for k, v in encoded) / len(records),
    }


def warm(ctx) -> None:
    # After one warm-up round of 8,000 records, full rounds still ran
    # 4.3 s, 3.4 s, then a steady 2.8 s: a second, full round takes the
    # JVM's per-record paths most of the way, so every measured round
    # runs near the steady speed rather than part-way through compiling.
    for i, n in enumerate((8000, RECORDS_PER_ROUND)):
        _, in_dir, want = _inputs(ctx, ctx.seed * 1000 + 999 - i, n)
        _round(ctx, in_dir, want)


def measure(ctx) -> dict:
    """Rounds over the same RECORDS_PER_ROUND records, each through a fresh
    topic, while another round at least half fits in ``ctx.seconds``; input
    writing and checks stay off the clock."""
    records, in_dir, want = _inputs(ctx, ctx.seed, RECORDS_PER_ROUND)
    rounds = []
    while not rounds or sum(r["seconds"] for r in rounds) + rounds[-1]["seconds"] / 2 < ctx.seconds:
        rounds.append(_round(ctx, in_dir, want))

    # Medians over rounds: one round slowed by the host moves them little.
    attempted = sum(r["records"] for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    out = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "records_per_s": median([r["records"] / r["seconds"] for r in rounds]),
            "latency_p50_ms": median([percentile(r["latencies"], 50) for r in rounds]),
            "latency_p95_ms": median([percentile(r["latencies"], 95) for r in rounds]),
            "result_recall": (attempted - failed) / attempted,
        },
        "samples": {
            "rounds": len(rounds),
            "latency": sum(len(r["latencies"]) for r in rounds),
            "round_s": [round(r["seconds"], 2) for r in rounds],
        },
    }
    if ctx.tracer.enabled:
        sizes = [s for r in rounds for s in r["batch_sizes"]]
        flush_ms = [d * 1000 for d in ctx.tracer.durations("sink.flush")]
        out["layers"] = {
            "source.produce_s": median([r["produce_s"] for r in rounds]),
            "sink.consume_s": median([r["consume_s"] for r in rounds]),
            "sink.flush_ms_p50": percentile(flush_ms, 50),
            "sink.flush_ms_p95": percentile(flush_ms, 95),
            "sink.batches": len(sizes),
            "sink.records_per_batch": sum(sizes) / len(sizes),
            **stream_metrics(ctx.tracer, ""),
            **_codec_metrics(records, *rounds[-1]["schemas"]),
        }
    return out
