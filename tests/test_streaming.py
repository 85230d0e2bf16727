"""Connector-framework semantics tests — the reference's integration
scenarios (SURVEY.md §2.3 S01-S06) re-expressed on the file-based topic
transport (no Kafka broker in this image; the Kafka path shares all the
code above the transport options).

S01 roundtrip · S02 checkpoint resume · S03/S03b crash → at-least-once
(+resume hook) · S04 stream window == batch window · S05 watermark
late-drop · S06/S06b stream dedup (± watermark) · S07 session window ·
S08 stateful running totals · S09 stream-stream join · S10 custom Python
source offsets · S11 exactly-once epoch sink · S12 Avro wire roundtrip ·
S11c continuous epoch sink until stop() · S13 stream-static broadcast
enrichment · S15 reader-options rate limiting · S16 stream OHLC ==
batch OHLC (merge-compatible min_by/max_by) · S17 per-record callback
migration shim (executor-side on_message_received) · S18 left-outer
stream-stream join (null emission on watermark-driven state eviction) ·
S19 RocksDB state-store provider parity (the 100 TB streaming-state
configuration) · S29 streaming MinHash-LSH near-dup filter (persistent
bucket store, deterministic md5 banding, at-least-once) · S30
streaming mergeable-quantile state (versioned daily KLL sketch table,
epoch-keyed replay safety, dashboard reads state only) · S31
streaming Count-Min heavy-hitter state (additive counters; streamed
state == batch sketch table-for-table, one-sided-error probes).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from pyconnect_spark.config import SinkConfig, SourceConfig
from pyconnect_spark.streaming.core import PyConnectError, Status
from pyconnect_spark.streaming.sink import CallbackSink, FileSink
from pyconnect_spark.streaming.source import RecordsSource, SparkSource
from pyconnect_spark.streaming.windows import stream_dedup, tumbling_window_agg

RECORDS = [(f"k{i:02d}", f"v{i:02d}") for i in range(15)]  # 15, like the reference


def _source_cfg(tmp, topic_dir):
    return SourceConfig(
        bootstrap_servers="localhost:9092",
        topic=topic_dir,
        checkpoint_location=os.path.join(tmp, "src-ckpt"),
    )


def _sink_cfg(tmp, topic_dir, name="ckpt"):
    return SinkConfig(
        bootstrap_servers="localhost:9092",
        topics=[topic_dir],
        checkpoint_location=os.path.join(tmp, f"sink-{name}"),
    )


def _read_jsonl(path):
    out = []
    with open(path) as f:
        for line in f:
            d = json.loads(line)
            out.append((d["key"], d["value"]))
    return out


def test_s01_roundtrip(spark, tmp_path):
    """Source publishes all records to the topic; sink flushes all of them
    (mirror of test_sink_integration.py:57-63)."""
    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s01")
    src = RecordsSource(
        spark, _source_cfg(tmp, topic), RECORDS, staging_dir=os.path.join(tmp, "in")
    )
    src.run()
    assert src.status is Status.STOPPED

    out = os.path.join(tmp, "out.jsonl")
    sink = FileSink(spark, _sink_cfg(tmp, topic), out_path=out)
    sink.run()
    assert sink.status is Status.STOPPED
    assert sorted(_read_jsonl(out)) == sorted(RECORDS)


def test_s02_resume_from_checkpoint(spark, tmp_path):
    """Restarting with the same checkpoint consumes only new data — the
    reference's offset-resume scenario (test_sink_integration.py:66-88)."""
    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s02")
    staging = os.path.join(tmp, "in")
    src = RecordsSource(spark, _source_cfg(tmp, topic), RECORDS, staging_dir=staging)
    src.run()

    out = os.path.join(tmp, "out.jsonl")
    sink_cfg = _sink_cfg(tmp, topic)
    FileSink(spark, sink_cfg, out_path=out).run()
    assert sorted(_read_jsonl(out)) == sorted(RECORDS)

    # new records arrive on the topic (same source checkpoint → only new file)
    extra = [("k99", "v99"), ("k98", "v98")]
    with open(os.path.join(staging, "more.jsonl"), "w") as f:
        for k, v in extra:
            f.write(json.dumps({"key": k, "value": v}) + "\n")
    src2 = SparkSource(spark, _source_cfg(tmp, topic), input_dir=staging)
    src2.run()

    # fresh sink instance, same checkpoint: gets ONLY the new records
    sink2 = FileSink(spark, sink_cfg, out_path=out)
    sink2.run()
    assert sorted(_read_jsonl(out)) == sorted(RECORDS + extra)


def test_s03_crash_then_resume_at_least_once(spark, tmp_path):
    """A flush crash prevents the offset commit; the restarted sink
    replays the batch → union of flushes ⊇ inputs, sink status machine
    reports CRASHED (mirror of test_sink_integration.py:91-107 and
    test_pyconnectsink.py:93-110)."""
    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s03")
    RecordsSource(
        spark, _source_cfg(tmp, topic), RECORDS, staging_dir=os.path.join(tmp, "in")
    ).run()

    flushed: list[tuple[str, str]] = []
    calls = {"n": 0}

    def failing_flush(batch, epoch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected flush failure")
        flushed.extend((r["key"], r["value"]) for r in batch.collect())

    cfg = _sink_cfg(tmp, topic, "s03")
    sink = CallbackSink(spark, cfg, flush_fn=failing_flush)
    with pytest.raises(PyConnectError):
        sink.run()
    assert sink.status is Status.CRASHED
    assert flushed == []  # nothing durably flushed, nothing committed

    sink2 = CallbackSink(spark, cfg, flush_fn=failing_flush)  # calls["n"] now > 1
    sink2.run()
    assert sink2.status is Status.STOPPED
    assert sorted(set(flushed)) == sorted(RECORDS)  # replayed batch, no loss


def test_s03b_crash_hook_resume(spark, tmp_path):
    """on_crash_during_run returning RUNNING resumes the query from the
    checkpoint inside one run() call (reference core.py:258-269)."""
    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s03b")
    RecordsSource(
        spark, _source_cfg(tmp, topic), RECORDS, staging_dir=os.path.join(tmp, "in")
    ).run()

    flushed: list[tuple[str, str]] = []
    calls = {"n": 0}

    def flaky_flush(batch, epoch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient failure")
        flushed.extend((r["key"], r["value"]) for r in batch.collect())

    class ResumingSink(CallbackSink):
        def on_crash_during_run(self):
            return Status.RUNNING

    sink = ResumingSink(
        spark,
        _sink_cfg(tmp, topic, "s03b"),
        flush_fn=flaky_flush,
        max_crash_restarts=2,
    )
    sink.run()
    assert sink.status is Status.STOPPED
    assert sorted(set(flushed)) == sorted(RECORDS)


def test_s04_stream_window_equals_batch(spark, tmp_path):
    """Tumbling-window counts over a drained stream equal the batch
    groupBy(window) on the same data."""
    from pyconnect_spark.catalog import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    staged = str(tmp_path / "events-parquet")
    events.write.parquet(staged)

    batch = tumbling_window_agg(
        spark.read.parquet(staged), "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")]
    )
    batch_rows = {
        (r["window"]["start"], r["event_type"]): r["n"] for r in batch.collect()
    }

    stream = spark.readStream.schema(events.schema).parquet(staged)
    agg = tumbling_window_agg(stream, "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")])
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("s04_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM s04_out").collect()
    }
    assert stream_rows == batch_rows


def test_s05_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a watermark: a row arriving behind
    the advanced watermark is dropped. Two runs over one checkpoint make
    the batch boundary (and thus the watermark advance) deterministic —
    the watermark survives in the checkpoint between runs."""
    d = tmp_path / "late-in"
    d.mkdir()
    ckpt = str(tmp_path / "s05-ckpt")

    def run_once(qname):
        # memory sink cannot recover from a checkpoint — use foreachBatch
        # (which can) and collect emitted rows into a plain list.
        emitted: list = []
        stream = spark.readStream.schema("k string, ts timestamp").json(str(d))
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda b, eid: emitted.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    early = [{"k": "a", "ts": f"2024-01-01 10:{m:02d}:00"} for m in range(0, 30, 5)]
    with open(d / "0-early.jsonl", "w") as f:
        for r in early:
            f.write(json.dumps(r) + "\n")
    run_once("s05_run1")  # advances watermark to 10:25 - 10m = 10:15

    with open(d / "1-late.jsonl", "w") as f:
        f.write(json.dumps({"k": "a", "ts": "2024-01-01 10:29:00"}) + "\n")
        f.write(json.dumps({"k": "late", "ts": "2024-01-01 09:00:00"}) + "\n")
    rows2 = run_once("s05_run2")
    keys2 = {r["k"] for r in rows2}
    assert "late" not in keys2  # 09:00 row dropped behind the watermark

    # the on-time 10:29 row's window (10:25) is in state, not yet emitted —
    # emitted windows across both runs never include the late key
    assert all(r["k"] == "a" for r in rows2)


def test_s06_stream_dedup_equals_batch_distinct(spark, tmp_path):
    d = tmp_path / "dup-in"
    d.mkdir()
    rows = [{"key": f"k{i % 5}", "value": f"v{i % 5}"} for i in range(25)]
    with open(d / "dups.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    batch_distinct = (
        spark.read.schema("key string, value string").json(str(d)).distinct().count()
    )
    stream = spark.readStream.schema("key string, value string").json(str(d))
    q = (
        stream_dedup(stream, ["key", "value"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s06_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT * FROM s06_out").count() == batch_distinct == 5


def test_s07_session_window_stream(spark, tmp_path):
    """Session-window aggregation on a stream equals gap-based batch
    sessionization for completed sessions."""
    from pyconnect_spark.streaming.windows import session_window_agg

    d = tmp_path / "sess-in"
    d.mkdir()
    rows = (
        [{"u": 1, "ts": f"2024-01-01 10:{m:02d}:00"} for m in (0, 5, 10)]  # session A
        + [{"u": 1, "ts": "2024-01-01 12:00:00"}]  # session B (gap > 30m)
        + [{"u": 2, "ts": "2024-01-01 10:00:00"}]
    )
    with open(d / "rows.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("u long, ts timestamp").json(str(d))
    agg = session_window_agg(
        stream, "ts", "30 minutes", ["u"], [F.count("*").alias("n")], watermark="0 seconds"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("s07_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        (r["u"], r["n"]) for r in spark.sql("SELECT u, n FROM s07_out").collect()
    }
    # session A (3 events) closed below the final watermark; later sessions may
    # remain in state — assert the closed one surfaced correctly
    assert (1, 3) in out


def test_s08_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-key state persists across micro-batches
    within a run and across restarts via the checkpoint."""
    from pyconnect_spark.streaming.stateful import running_totals_per_user

    d = tmp_path / "state-in"
    d.mkdir()
    ckpt = str(tmp_path / "state-ckpt")

    def run_once(fname, rows):
        with open(d / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        collected = []
        stream = spark.readStream.schema("user_id long, value double").json(str(d))
        q = (
            running_totals_per_user(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, eid: collected.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["user_id"]: (r["n_events"], r["total_value"]) for r in collected}

    first = run_once("b1.jsonl", [{"user_id": 1, "value": 10.0}, {"user_id": 1, "value": 5.0}, {"user_id": 2, "value": 1.0}])
    assert first[1] == (2, 15.0) and first[2] == (1, 1.0)
    # second run, same checkpoint: state restored, totals accumulate
    second = run_once("b2.jsonl", [{"user_id": 1, "value": 2.5}])
    assert second[1] == (3, 17.5)


def test_s09_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition
    equals the batch join over the same data."""
    imp_d = tmp_path / "impressions"
    clk_d = tmp_path / "clicks"
    imp_d.mkdir(); clk_d.mkdir()
    imps = [{"ad": i % 3, "its": f"2024-01-01 10:{i:02d}:00"} for i in range(10)]
    clks = [{"ad": i % 3, "cts": f"2024-01-01 10:{i + 1:02d}:30"} for i in range(8)]
    with open(imp_d / "i.jsonl", "w") as f:
        for r in imps:
            f.write(json.dumps(r) + "\n")
    with open(clk_d / "c.jsonl", "w") as f:
        for r in clks:
            f.write(json.dumps(r) + "\n")

    def build(left, right):
        cond = (
            (left["ad"] == right["ad"])
            & (right["cts"] >= left["its"])
            & (right["cts"] <= left["its"] + F.expr("INTERVAL 5 MINUTES"))
        )
        return left.join(right, cond).select(left["ad"], "its", "cts")

    b = build(
        spark.read.schema("ad long, its timestamp").json(str(imp_d)),
        spark.read.schema("ad long, cts timestamp").json(str(clk_d)),
    )
    batch_rows = sorted(map(tuple, b.collect()))

    ls = (
        spark.readStream.schema("ad long, its timestamp")
        .json(str(imp_d))
        .withWatermark("its", "1 hour")
    )
    rs = (
        spark.readStream.schema("ad long, cts timestamp")
        .json(str(clk_d))
        .withWatermark("cts", "1 hour")
    )
    q = (
        build(ls, rs)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s09_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = sorted(map(tuple, spark.sql("SELECT * FROM s09_out").collect()))
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_s06b_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    horizon are suppressed; key-state is bounded by the watermark."""
    d = tmp_path / "dupw-in"
    d.mkdir()
    rows = [
        {"key": "a", "ts": "2024-01-01 10:00:00"},
        {"key": "a", "ts": "2024-01-01 10:00:30"},  # dup within horizon
        {"key": "b", "ts": "2024-01-01 10:01:00"},
    ]
    with open(d / "r.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("key string, ts timestamp").json(str(d))
    q = (
        stream_dedup(stream, ["key"], ts_col="ts", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s06b_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = [r["key"] for r in spark.sql("SELECT key FROM s06b_out").collect()]
    assert sorted(out) == ["a", "b"]


def test_s10_python_datasource_offsets(spark, tmp_path):
    """Custom Python streaming data source: offsets checkpoint, a second
    run resumes where the first stopped (reference get_index/seek parity)."""
    from pyconnect_spark.streaming.pysource import RecordStreamDataSource

    spark.dataSource.register(RecordStreamDataSource)
    ckpt = str(tmp_path / "pysrc-ckpt")

    def drain(n_records):
        # each availableNow run advances one read(); loop until the source
        # reports no new records — the streaming twin of the reference's
        # poll loop (core.py:155-161)
        got = []
        while True:
            batch_got = []
            stream = (
                spark.readStream.format("pyconnect_records")
                .option("n_records", n_records)
                .option("batch_size", 7)
                .load()
            )
            q = (
                stream.writeStream.outputMode("append")
                .foreachBatch(
                    lambda b, eid: batch_got.extend((r["key"], r["value"]) for r in b.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if not batch_got:
                return got
            got.extend(batch_got)

    first = drain(20)
    assert sorted(first) == sorted((f"key_{i}", f"value_{i}") for i in range(20))
    # "more data arrives": same source, larger high-watermark, same checkpoint
    second = drain(30)
    assert sorted(second) == sorted((f"key_{i}", f"value_{i}") for i in range(20, 30))


def _epoch_sink_replays_exactly_once(spark, tmp, out_dir):
    """Crash an EpochFileSink after its write, before the commit, then
    restart it; the epochs under ``out_dir`` (a path or a ``file://`` URI
    of ``tmp/epochs``) must hold each record once."""
    from pyconnect_spark.streaming.sink import EpochFileSink

    topic = os.path.join(tmp, "topic-s11")
    RecordsSource(
        spark, _source_cfg(tmp, topic), RECORDS, staging_dir=os.path.join(tmp, "in")
    ).run()

    local_out = os.path.join(tmp, "epochs")
    cfg = _sink_cfg(tmp, topic, "s11")

    class CrashAfterWrite(EpochFileSink):
        def on_flush(self, batch, epoch_id):
            super().on_flush(batch, epoch_id)
            raise RuntimeError("crash AFTER durable write, BEFORE commit")

    crashing = CrashAfterWrite(spark, cfg, out_dir=out_dir)
    with pytest.raises(PyConnectError):
        crashing.run()
    files_after_crash = sorted(os.listdir(local_out))
    assert files_after_crash  # the write did land

    def read_epoch_dir(d):
        """Each epoch is a DIRECTORY of executor-written part files."""
        rows = []
        for part in sorted(os.listdir(d)):
            if part.startswith("part-"):
                rows += _read_jsonl(os.path.join(d, part))
        return rows

    # restart replays the SAME epoch; directory re-promoted, not duplicated
    EpochFileSink(spark, cfg, out_dir=out_dir).run()
    finals = sorted(f for f in os.listdir(local_out) if f.endswith(".jsonl"))
    assert all(os.path.isdir(os.path.join(local_out, f)) for f in finals)
    all_rows = []
    for fn in finals:
        all_rows += read_epoch_dir(os.path.join(local_out, fn))
    assert sorted(all_rows) == sorted(RECORDS)  # exactly once, no dups
    # the flush path must never funnel data through the driver
    import inspect

    src = inspect.getsource(EpochFileSink.on_flush)
    assert ".collect()" not in src


def test_s11_epoch_file_sink_exactly_once(spark, tmp_path):
    """EpochFileSink: a replayed epoch rewrites the same part file, so the
    directory never contains duplicates (exactly-once observable effect)."""
    _epoch_sink_replays_exactly_once(spark, str(tmp_path), str(tmp_path / "epochs"))


def test_s11b_epoch_file_sink_over_a_file_uri(spark, tmp_path):
    """S11 with ``out_dir`` given as a ``file://`` URI: the promote goes
    through the URI's Hadoop FileSystem, not through Python's ``os``."""
    _epoch_sink_replays_exactly_once(spark, str(tmp_path), (tmp_path / "epochs").as_uri())


def test_s11c_epoch_file_sink_runs_until_stopped(spark, tmp_path):
    """The continuous connector path: an EpochFileSink with
    ``stop_at_end=False`` runs in a thread across two file arrivals until
    ``stop()``. It ends STOPPED, its thread exits, and each record lands
    once across the epoch directories."""
    import threading
    import time

    from pyconnect_spark.streaming.sink import EpochFileSink

    tmp = str(tmp_path)
    topic, staging, out = (os.path.join(tmp, d) for d in ("topic-s11c", "staging", "epochs"))
    os.makedirs(topic)
    os.makedirs(staging)
    sink = EpochFileSink(spark, _sink_cfg(tmp, topic, "s11c"), out_dir=out, stop_at_end=False)
    runner = threading.Thread(target=sink.run, name="s11c-sink")
    runner.start()
    try:
        deadline = time.time() + 60
        while sink._query is None and runner.is_alive() and time.time() < deadline:
            time.sleep(0.05)
        assert sink._query is not None
        for i, part in enumerate((RECORDS[:8], RECORDS[8:])):
            name = f"f{i}.jsonl"
            with open(os.path.join(staging, name), "w") as f:
                for k, v in part:
                    f.write(json.dumps({"key": k, "value": v}) + "\n")
            os.rename(os.path.join(staging, name), os.path.join(topic, name))
            sink._query.processAllAvailable()
    finally:
        sink.stop()
        runner.join(timeout=60)
    assert not runner.is_alive()
    assert sink.status is Status.STOPPED
    epochs = sorted(d for d in os.listdir(out) if d.endswith(".jsonl"))
    assert len(epochs) == 2
    rows = [
        rec
        for d in epochs
        for part in sorted(os.listdir(os.path.join(out, d)))
        if part.startswith("part-")
        for rec in _read_jsonl(os.path.join(out, d, part))
    ]
    assert sorted(rows) == sorted(RECORDS)


def test_s17_record_callback_shim(spark, tmp_path):
    """RecordCallbackSink: per-record on_message_received migration shim —
    the callback observes every record individually, executor-side (each
    invocation drops a file; local-mode executors share the test FS)."""
    from pyconnect_spark.streaming.sink import RecordCallbackSink

    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s14")
    RecordsSource(
        spark, _source_cfg(tmp, topic), RECORDS, staging_dir=os.path.join(tmp, "in")
    ).run()

    seen_dir = os.path.join(tmp, "seen")
    os.makedirs(seen_dir)

    def per_record(key, value):  # plain picklable callable, no session ref
        with open(os.path.join(seen_dir, key), "w") as f:
            f.write(value)

    sink = RecordCallbackSink(spark, _sink_cfg(tmp, topic, "s14"), on_record=per_record)
    sink.run()
    assert sink.status is Status.STOPPED
    got = sorted((k, open(os.path.join(seen_dir, k)).read()) for k in os.listdir(seen_dir))
    assert got == sorted(RECORDS)


def test_s01b_nested_record_values(spark, tmp_path):
    """A1-fixture parity: records with nested dict values ({'a': str,
    'b': long}) flow through the connector with an explicit struct schema."""
    from pyspark.sql import types as T

    tmp = str(tmp_path)
    topic = os.path.join(tmp, "topic-s01b")
    staging = os.path.join(tmp, "in")
    os.makedirs(staging)
    nested = [
        {"key": f"K{i:08d}", "value": {"a": "x" * 64, "b": i * 37 % 1000}}
        for i in range(15)
    ]
    with open(os.path.join(staging, "r.jsonl"), "w") as f:
        for r in nested:
            f.write(json.dumps(r) + "\n")

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField(
                "value",
                T.StructType(
                    [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
                ),
            ),
        ]
    )
    SparkSource(
        spark, _source_cfg(tmp, topic), input_dir=staging, schema=schema
    ).run()

    flushed = []
    sink = CallbackSink(
        spark,
        _sink_cfg(tmp, topic, "s01b"),
        schema=schema,
        flush_fn=lambda b, e: flushed.extend(b.collect()),
    )
    sink.run()
    got = sorted((r["key"], r["value"]["a"], r["value"]["b"]) for r in flushed)
    want = sorted((r["key"], r["value"]["a"], r["value"]["b"]) for r in nested)
    assert got == want


def test_kafka_option_building(spark):
    """Kafka reader/writer option construction (pure; the jar-gated part
    is exercised only when spark-sql-kafka is on the classpath)."""
    from pyconnect_spark.streaming.kafka import (
        kafka_available,
        sink_reader_options,
        source_writer_options,
    )

    cfg = SinkConfig(
        bootstrap_servers="b1:9092,b2:9092",
        topics="t1,t2",
        group_id="g1",
        checkpoint_location="/tmp/x",
        kafka_opts={"security.protocol": "SASL_SSL"},
    )
    opts = sink_reader_options(cfg)
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "t1,t2"
    assert opts["startingOffsets"] == "earliest"  # reference: earliest reset
    assert opts["kafka.security.protocol"] == "SASL_SSL"

    regex_cfg = SinkConfig(
        bootstrap_servers="b:9092", topics=["^pyconnect-.*"], checkpoint_location="/tmp/x"
    )
    assert sink_reader_options(regex_cfg)["subscribePattern"] == "^pyconnect-.*"

    with pytest.raises(ValueError):
        sink_reader_options(
            SinkConfig(bootstrap_servers="b:9092", topics=["plain", "^rx"], checkpoint_location="/tmp/x")
        )

    src = SourceConfig(bootstrap_servers="b:9092", topic="out-t", checkpoint_location="/tmp/x")
    assert source_writer_options(src)["topic"] == "out-t"
    assert kafka_available(spark) is False  # jar not in this image


def test_s12_avro_wire_roundtrip(spark, tmp_path):
    """The reference's full serialization path, jar-free: infer Avro
    schemas from the first record, encode key+value as Confluent-framed
    Avro binary, stream through a binary 'topic' (parquet key/value —
    exactly the Kafka source's column shape), decode on the sink side."""
    from pyconnect_spark.functions.avro import create_schema_from_record
    from pyconnect_spark.functions.avro_codec import from_avro_py, to_avro_py
    from pyspark.sql import functions as F

    records = [(f"K{i}", {"a": f"payload-{i}", "b": i * 101}) for i in range(15)]
    key_schema = create_schema_from_record("key", records[0][0])
    value_schema = create_schema_from_record("value", records[0][1])

    tmp = str(tmp_path)
    staging = os.path.join(tmp, "in")
    os.makedirs(staging)
    with open(os.path.join(staging, "r.jsonl"), "w") as f:
        for k, v in records:
            f.write(json.dumps({"key": k, "value": v}) + "\n")

    topic = os.path.join(tmp, "avro-topic")
    stream = (
        spark.readStream.schema("key string, value struct<a:string,b:long>")
        .json(staging)
        .select(
            to_avro_py(F.col("key"), key_schema, schema_id=7).alias("key"),
            to_avro_py(F.col("value"), value_schema, schema_id=8).alias("value"),
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(tmp, "ck"))
        .trigger(availableNow=True)
        .start(topic)
    )
    q.awaitTermination()

    # sink side: binary key/value columns — the Kafka source's shape
    consumed = (
        spark.read.parquet(topic)
        .select(
            from_avro_py(F.col("key"), key_schema, "string", confluent_framed=True).alias("k"),
            from_avro_py(
                F.col("value"), value_schema, "struct<a:string,b:bigint>", confluent_framed=True
            ).alias("v"),
        )
        .collect()
    )
    got = sorted((r["k"], r["v"]["a"], r["v"]["b"]) for r in consumed)
    want = sorted((k, v["a"], v["b"]) for k, v in records)
    assert got == want


def test_s13_stream_static_enrich(spark, tmp_path):
    """Stream-static broadcast enrichment equals the batch join; no
    watermark needed (static side is not stateful)."""
    from pyconnect_spark.streaming.windows import stream_static_enrich

    ev_d = tmp_path / "sevents"
    ev_d.mkdir()
    rows = [{"user": i % 5, "val": i} for i in range(20)]
    with open(ev_d / "e.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    static = spark.createDataFrame(
        [(0, "gold"), (1, "silver"), (2, "bronze")], "user long, tier string"
    )

    batch = sorted(
        map(
            tuple,
            stream_static_enrich(
                spark.read.schema("user long, val long").json(str(ev_d)),
                static,
                on="user",
            ).collect(),
        )
    )

    q = (
        stream_static_enrich(
            spark.readStream.schema("user long, val long").json(str(ev_d)),
            static,
            on="user",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s13_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = sorted(map(tuple, spark.sql("SELECT * FROM s13_out").collect()))
    assert stream_rows == batch
    assert len(stream_rows) == 20
    # users 3,4 have no tier -> survive with null (left semantics)
    assert any(r[-1] is None for r in stream_rows)


def test_s15_rate_limited_batches(spark, tmp_path):
    """reader_options rate limiting: maxFilesPerTrigger=1 over N staged
    files drains in N bounded micro-batches under availableNow — the
    Spark analogue of the reference's flush-every-N cadence (R15)."""
    d = tmp_path / "rate-in"
    d.mkdir()
    for i in range(3):
        with open(d / f"f{i}.jsonl", "w") as f:
            for j in range(5):
                f.write(json.dumps({"key": f"k{i}-{j}", "value": "v"}) + "\n")

    batch_sizes = []
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda b, eid: batch_sizes.append(b.count()))
        .option("checkpointLocation", str(tmp_path / "rate-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(batch_sizes) == 15
    assert len([b for b in batch_sizes if b > 0]) == 3  # one file per batch
    assert all(b <= 5 for b in batch_sizes)

    # the SparkSource wrapper carries the same options through
    from pyconnect_spark.streaming.source import SparkSource

    src = SparkSource(
        spark,
        _source_cfg(str(tmp_path), str(tmp_path / "topic")),
        input_dir=str(d),
        reader_options={"maxFilesPerTrigger": 1},
    )
    plan_opts = src.read_stream()
    assert plan_opts.isStreaming


def test_s16_stream_ohlc_equals_batch(spark, tmp_path):
    """OHLC bars computed on a drained stream equal the batch ts13 shape:
    min_by/max_by aggregates are merge-compatible, so they work unchanged
    under incremental micro-batch execution (complete mode)."""
    from pyconnect_spark.catalog import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    staged = str(tmp_path / "events-parquet")
    events.write.parquet(staged)

    # Same total-order key as ts13 (operators/timeseries.py): wall-clock
    # rendering sorts lexicographically == chronologically and is valid on
    # both TIMESTAMP and TIMESTAMP_NTZ inputs.
    ordk = F.format_string(
        "%s:%012d", F.date_format("ts", "yyyyMMddHHmmssSSSSSS"), F.col("event_id")
    )

    def ohlc(df):
        return (
            df.select("ts", "event_type", "value", ordk.alias("ord"))
            .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(
                F.round(F.min_by("value", F.col("ord")), 2).alias("open"),
                F.round(F.max("value"), 2).alias("high"),
                F.round(F.min("value"), 2).alias("low"),
                F.round(F.max_by("value", F.col("ord")), 2).alias("close"),
                F.count("*").alias("n"),
            )
        )

    key = lambda r: (r["w"]["start"], r["event_type"])  # noqa: E731
    batch_rows = {
        key(r): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in ohlc(spark.read.parquet(staged)).collect()
    }

    stream = spark.readStream.schema(events.schema).parquet(staged)
    q = (
        ohlc(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("s16_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        key(r): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in spark.sql("SELECT * FROM s16_out").collect()
    }
    assert stream_rows == batch_rows


def test_s18_stream_stream_left_outer_join(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows emit immediately;
    unmatched left rows emit null-padded only after the watermark passes
    the end of their join window (state eviction). A sentinel event far in
    the future advances both watermarks so every real left row expires
    before the availableNow drain finishes."""
    imp_d = tmp_path / "lo-impressions"
    clk_d = tmp_path / "lo-clicks"
    imp_d.mkdir(); clk_d.mkdir()
    # ads 0..5 at 10:00..10:05; clicks only for even ads, 30s after
    imps = [{"ad": i, "its": f"2024-01-01 10:{i:02d}:00"} for i in range(6)]
    clks = [{"ad": i, "cts": f"2024-01-01 10:{i:02d}:30"} for i in range(0, 6, 2)]
    with open(imp_d / "i1.jsonl", "w") as f:
        for r in imps:
            f.write(json.dumps(r) + "\n")
    with open(clk_d / "c1.jsonl", "w") as f:
        for r in clks:
            f.write(json.dumps(r) + "\n")
    # sentinel batch: pushes both watermarks hours past every join window
    with open(imp_d / "i2.jsonl", "w") as f:
        f.write(json.dumps({"ad": 99, "its": "2024-01-01 18:00:00"}) + "\n")
    with open(clk_d / "c2.jsonl", "w") as f:
        f.write(json.dumps({"ad": 98, "cts": "2024-01-01 18:00:00"}) + "\n")

    def build(left, right):
        cond = (
            (left["ad"] == right["ad"])
            & (right["cts"] >= left["its"])
            & (right["cts"] <= left["its"] + F.expr("INTERVAL 5 MINUTES"))
        )
        return left.join(right, cond, "left_outer").select(left["ad"], "its", "cts")

    ls = (
        spark.readStream.schema("ad long, its timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(imp_d))
        .withWatermark("its", "10 seconds")
    )
    rs = (
        spark.readStream.schema("ad long, cts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(clk_d))
        .withWatermark("cts", "10 seconds")
    )
    q = (
        build(ls, rs)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s18_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["ad"], str(r["its"]), None if r["cts"] is None else str(r["cts"]))
        for r in spark.sql("SELECT * FROM s18_out").collect()
    }
    # matched even ads carry their click; odd ads expired unmatched -> null
    expect_matched = {
        (i, f"2024-01-01 10:{i:02d}:00", f"2024-01-01 10:{i:02d}:30")
        for i in range(0, 6, 2)
    }
    expect_null = {(i, f"2024-01-01 10:{i:02d}:00", None) for i in range(1, 6, 2)}
    assert expect_matched <= got, got
    assert expect_null <= got, got
    # no spurious matches beyond sentinels
    assert got - expect_matched - expect_null <= {
        (99, "2024-01-01 18:00:00", None)
    }, got


def test_s19_rocksdb_state_store_provider(spark, tmp_path):
    """The same stateful windowed aggregation runs correctly on the
    RocksDB state-store provider — the provider the engine's scale notes
    prescribe for 100 TB streaming state (bounded executor memory,
    changelog checkpointing). Results must equal the batch aggregate and
    therefore the default HDFS-backed provider's."""
    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.streaming.windows import tumbling_window_agg

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    staged = str(tmp_path / "rocks-events")
    events.write.parquet(staged)

    batch = tumbling_window_agg(
        spark.read.parquet(staged), "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")]
    )
    batch_rows = {
        (r["window"]["start"], r["event_type"]): r["n"] for r in batch.collect()
    }

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocksdb)
    try:
        stream = spark.readStream.schema(events.schema).parquet(staged)
        agg = tumbling_window_agg(
            stream, "ts", "5 minutes", ["event_type"], [F.count("*").alias("n")]
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("s19_out")
            .option("checkpointLocation", str(tmp_path / "rocks-ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    stream_rows = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM s19_out").collect()
    }
    assert stream_rows == batch_rows


def test_s20_stream_pii_scrub_equals_batch(spark, tmp_path):
    """The tx15 redaction pack is stateless column logic, so it must run
    UNCHANGED inside a Structured Streaming micro-batch and produce
    byte-identical results to the batch pass — the scan-tier scrub
    deployed on an ingest stream instead of a backfill."""
    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.operators.text import redact_frame

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    staged = str(tmp_path / "docs-parquet")
    docs.repartition(4).write.parquet(staged)

    batch = {
        r["doc_id"]: (r["n_term"], r["redacted_sha"], r["clean"])
        for r in redact_frame(spark.read.parquet(staged)).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(staged)
    q = (
        redact_frame(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s20_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["n_term"], r["redacted_sha"], r["clean"])
        for r in spark.sql("SELECT * FROM s20_out").collect()
    }
    assert got == batch
    assert len(got) == docs.count()


def test_s21_streaming_cusum_equals_ordered_fold(spark, tmp_path):
    """Streaming CUSUM (ts18's twin): per-type state carries (n, S, max S)
    across micro-batches AND a restart; the final statistic equals a
    pure-Python fold over the full event-time-ordered sequence."""
    from pyconnect_spark.streaming.stateful import cusum_per_key

    mu = 5.0
    d = tmp_path / "cusum-in"
    d.mkdir()
    ckpt = str(tmp_path / "cusum-ckpt")
    schema = "event_id long, ts timestamp, event_type string, value double"

    def rows_for(hours, base_id):
        out = []
        for i, h in enumerate(hours):
            for j, v in enumerate([3.0, 9.5, 6.25, 1.0]):
                out.append(
                    {
                        "event_id": base_id + i * 10 + j,
                        "ts": f"2024-02-01 {h:02d}:{j:02d}:00",
                        "event_type": "a" if j % 2 == 0 else "b",
                        "value": v,
                    }
                )
        return out

    def run_once(fname, rows):
        with open(d / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        collected = []
        stream = spark.readStream.schema(schema).json(str(d))
        q = (
            cusum_per_key(stream, mu)
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, eid: collected.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["event_type"]: (r["n_seen"], r["cusum"], r["max_cusum"]) for r in collected}

    chunk1 = rows_for([0, 1, 2], 0)
    chunk2 = rows_for([3, 4], 1000)
    run_once("c1.jsonl", chunk1)
    got = run_once("c2.jsonl", chunk2)  # same checkpoint: state restored

    # pure-Python replay over the full ordered sequence
    want = {}
    for r in sorted(chunk1 + chunk2, key=lambda r: (r["ts"], r["event_id"])):
        n, s, m = want.get(r["event_type"], (0, 0.0, 0.0))
        s = max(0.0, s + (r["value"] - mu))
        want[r["event_type"]] = (n + 1, s, max(m, s))
    for k, (n, s, m) in want.items():
        assert got[k] == (n, round(s, 6), round(m, 6)), (k, got[k], (n, s, m))


def test_s22_flush_retry_bounded(spark, tmp_path):
    """Reference parity (sink_commit_retry_count): a transient flush
    failure is retried in-place up to N times before the batch fails;
    with enough retries the query completes and the batch commits once."""
    from pyconnect_spark.config import SinkConfig
    from pyconnect_spark.streaming.sink import SparkSink

    topic = tmp_path / "topic"
    topic.mkdir()
    with open(topic / "r.jsonl", "w") as f:
        for i in range(5):
            f.write(json.dumps({"key": f"k{i}", "value": f"v{i}"}) + "\n")

    class FlakySink(SparkSink):
        def __init__(self, *a, fail_times: int, **kw):
            super().__init__(*a, **kw)
            self.fail_times = fail_times
            self.attempts = 0
            self.flushed: list[int] = []

        def on_flush(self, batch, epoch_id):
            self.attempts += 1
            if self.attempts <= self.fail_times:
                raise RuntimeError("transient flush failure")
            self.flushed.append(batch.count())

    cfg = SinkConfig(
        bootstrap_servers="localhost:9092",
        topics=[str(topic)],
        checkpoint_location=str(tmp_path / "ckpt-ok"),
        sink_flush_retry_count=2,
    )
    sink = FlakySink(spark, cfg, fail_times=2)
    sink.run()
    assert sink.attempts == 3  # two failures + one success, same batch
    assert sum(sink.flushed) == 5  # flushed exactly once after retries

    # with retries exhausted the query must fail (batch stays uncommitted)
    cfg2 = SinkConfig(
        bootstrap_servers="localhost:9092",
        topics=[str(topic)],
        checkpoint_location=str(tmp_path / "ckpt-fail"),
        sink_flush_retry_count=1,
    )
    sink2 = FlakySink(spark, cfg2, fail_times=5)
    import pytest as _pytest

    with _pytest.raises(Exception):
        sink2.run()
    assert sink2.attempts == 2  # initial + 1 retry, then give up


def test_s23_dead_letter_queue_routes_bad_rows(spark, tmp_path):
    """DLQ pattern (Kafka Connect errors.tolerance=all): rows failing
    validation land in the DLQ with a reason, valid rows in the main
    output, and the query completes instead of crashing."""
    from pyspark.sql import functions as F

    from pyconnect_spark.config import SinkConfig
    from pyconnect_spark.streaming.sink import DlqFileSink

    topic = tmp_path / "topic"
    topic.mkdir()
    rows = [{"key": f"k{i}", "value": (f"v{i}" if i % 3 else "")} for i in range(9)]
    with open(topic / "r.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    sink = DlqFileSink(
        spark,
        SinkConfig(
            bootstrap_servers="localhost:9092",
            topics=[str(topic)],
            checkpoint_location=str(tmp_path / "ckpt"),
        ),
        out_path=out,
        dlq_path=dlq,
        valid=F.length("value") > 0,
        reason=F.lit("empty value"),
    )
    sink.run()
    good = spark.read.json(out)
    bad = spark.read.json(dlq)
    assert sink.n_good == good.count() == 6
    assert sink.n_dlq == bad.count() == 3
    assert {r["key"] for r in bad.collect()} == {"k0", "k3", "k6"}
    assert set(bad.columns) >= {"key", "value", "_dlq_reason", "_dlq_epoch"}
    assert bad.filter(F.col("_dlq_reason") == "empty value").count() == 3


def test_s24_corrupt_records_route_to_dlq(spark, tmp_path):
    """Schema-drift ingestion: PERMISSIVE JSON parsing surfaces unparseable
    lines in _corrupt_record, and the DLQ sink routes them aside while
    clean rows flow — bad input degrades to a DLQ entry, never a crashed
    query or a silently dropped line."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pyconnect_spark.config import SinkConfig
    from pyconnect_spark.streaming.sink import DlqFileSink

    topic = tmp_path / "topic"
    topic.mkdir()
    lines = [
        json.dumps({"key": "k0", "value": "v0"}),
        '{"key": "k1", "value": ',  # truncated — unparseable
        json.dumps({"key": "k2", "value": "v2"}),
        "not json at all",
    ]
    with open(topic / "r.jsonl", "w") as f:
        f.write("\n".join(lines) + "\n")

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )

    class CorruptTolerantSink(DlqFileSink):
        def read_stream(self):
            [t] = self.config.topics
            return (
                self.spark.readStream.schema(schema)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .json(t)
            )

    out = str(tmp_path / "out")
    dlq = str(tmp_path / "dlq")
    sink = CorruptTolerantSink(
        spark,
        SinkConfig(
            bootstrap_servers="localhost:9092",
            topics=[str(topic)],
            checkpoint_location=str(tmp_path / "ckpt"),
        ),
        out_path=out,
        dlq_path=dlq,
        valid=F.col("_corrupt_record").isNull(),
        reason=F.lit("unparseable json"),
        schema=schema,
    )
    sink.run()
    good = spark.read.json(out)
    # NB: reading back a field literally named _corrupt_record collides
    # with the JSON reader's internal corrupt-column name (it comes back
    # null); point the internal name elsewhere to read it as plain data.
    bad = spark.read.option("columnNameOfCorruptRecord", "_cr_internal").json(dlq)
    assert {r["key"] for r in good.collect()} == {"k0", "k2"}
    assert bad.count() == 2
    # the DLQ preserves the raw offending line for replay/debugging
    raw = {r["_corrupt_record"] for r in bad.collect()}
    assert "not json at all" in raw


def test_s25_stream_minhash_signatures_equal_batch(spark, tmp_path):
    """dd03's MinHash signature stage is a stateless map-only transform
    (shingle -> hash -> k-wide fold), so it must run UNCHANGED inside a
    Structured Streaming micro-batch and produce bit-identical
    signatures to the batch pass — near-dup sketching deployed at INGEST
    time (each new doc gets its signature as it lands; the band/bucket
    join against the historical index then runs as a stream-static join
    or a periodic batch, both downstream of this stage)."""
    from pyconnect_spark.catalog import load_table
    from pyconnect_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    staged = str(tmp_path / "docs-parquet")
    docs.repartition(4).write.parquet(staged)

    batch = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signatures(spark.read.parquet(staged)).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(staged)
    q = (
        minhash_signatures(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s25_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: tuple(r["signature"])
        for r in spark.sql("SELECT * FROM s25_out").collect()
    }
    assert got == batch
    assert len(got) == docs.count()


def test_s26_ingest_dedup_against_history(spark, tmp_path):
    """Ingest-time exact dedup: a stream of arriving docs left-anti joins
    (stream-static) a historical fingerprint table, so known content
    never re-enters the corpus. The static side re-resolves per batch
    (same mechanism as S13), and the join keys on md5 fingerprints —
    16-byte keys, no text in the exchange. Result must equal the batch
    anti-join over the same inputs."""
    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("f")
    )
    hist_path = str(tmp_path / "history")
    history.write.parquet(hist_path)

    arriving = str(tmp_path / "arriving")
    docs.repartition(3).write.parquet(arriving)

    hist_static = spark.read.parquet(hist_path)
    batch = {
        r["doc_id"]
        for r in spark.read.parquet(arriving)
        .withColumn("f", F.md5("text"))
        .join(hist_static, "f", "left_anti")
        .collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(arriving)
    q = (
        stream.withColumn("f", F.md5("text"))
        .join(hist_static, "f", "left_anti")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("s26_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM s26_out").collect()}
    assert got == batch
    assert got  # odd-id docs (and any even-id docs with unique text) survive


def test_s27_ingest_boilerplate_score_against_static_freq(spark, tmp_path):
    """Ingest-time boilerplate scoring: arriving docs compute their
    8-word-chunk keys in the micro-batch (stateless array expressions)
    and join a STATIC corpus chunk-frequency table to get their shared-
    chunk fraction — tx16's detector deployed at the ingest boundary,
    with the historical frequency table refreshed offline. Scores must
    equal the batch computation against the same frequency table."""
    from pyspark.sql import functions as F

    from pyconnect_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def chunk_frame(df):
        w = F.split(F.trim(F.col("text")), r"\s+")
        n = F.floor(F.size(w) / F.lit(8.0)).cast("int")
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        keys = F.transform(idx, lambda g: F.md5(F.concat_ws(" ", F.slice(w, g * 8 + 1, 8))))
        return df.select("doc_id", F.explode(keys).alias("chunk_key"))

    freq_path = str(tmp_path / "chunk-freq")
    chunk_frame(docs).groupBy("chunk_key").agg(
        F.count_distinct("doc_id").alias("df")
    ).write.parquet(freq_path)
    freq = spark.read.parquet(freq_path)

    arriving = str(tmp_path / "arriving")
    docs.limit(100).repartition(2).write.parquet(arriving)

    def score(df):
        return (
            chunk_frame(df)
            .join(freq, "chunk_key", "left")
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(F.when(F.col("df") >= 2, 1.0).otherwise(0.0)) / F.count("*"), 6
                ).alias("shared_frac")
            )
        )

    batch = {
        r["doc_id"]: r["shared_frac"]
        for r in score(spark.read.parquet(arriving)).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(arriving)
    q = (
        score(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("s27_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: r["shared_frac"]
        for r in spark.sql("SELECT * FROM s27_out").collect()
    }
    assert got == batch
    assert any(v > 0 for v in got.values())


def test_s28_streaming_cdc_apply_via_merge_upsert(spark, tmp_path):
    """Streaming CDC apply: micro-batches of change records upsert into a
    parquet target via merge_upsert inside foreachBatch — the
    no-table-format version of MERGE-based CDC sinks. Batches arrive in
    file order (maxFilesPerTrigger=1), each batch rewrites only the
    partitions it touches, and the final table equals applying the same
    changes sequentially in batch."""
    import glob
    import json

    from pyspark.sql import functions as F

    from pyconnect_spark.sources.layout import merge_upsert

    target = str(tmp_path / "cdc-target")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, part string, v double",
    )
    merge_upsert(spark, target, base, key_cols=["id"], partition_by=["part"])

    # two CDC batches staged as separate files; second supersedes first for id=2
    ind = tmp_path / "changes"
    ind.mkdir()
    batches = [
        [(2, "a", 20.0), (4, "c", 40.0)],
        [(2, "a", 200.0), (3, "b", 30.0)],
    ]
    for i, rows in enumerate(batches):
        with open(ind / f"batch-{i}.json", "w") as f:
            for r in rows:
                f.write(json.dumps({"id": r[0], "part": r[1], "v": r[2]}) + "\n")

    schema = "id long, part string, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(ind))
    )

    def apply_batch(df, _epoch):
        merge_upsert(
            df.sparkSession,
            target,
            df.select("id", "part", "v"),
            key_cols=["id"],
            partition_by=["part"],
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["id"]: (r["part"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert got == {
        1: ("a", 1.0),
        2: ("a", 200.0),  # second batch wins
        3: ("b", 30.0),
        4: ("c", 40.0),
    }
    assert not glob.glob(str(tmp_path / "cdc-target.staging*"))


def _neardup_drops_later_copies(spark, tmp_path, store):
    """Streaming MinHash-LSH near-dup filter (streaming/neardup.py): the
    first drain accepts all distinct docs and claims their band
    buckets; a later drain drops exact AND lightly-edited copies of
    already-accepted docs (any-band-bucket collision) while passing
    genuinely new docs; the checkpoint resumes across drains. Bucketing
    is the md5-deterministic dd03 family, so the outcome is exact, not
    probabilistic."""
    from pyconnect_spark.streaming.neardup import neardup_stream

    base_words = " ".join(f"w{i}" for i in range(200))
    batch1 = [
        (1, base_words),
        (2, " ".join(f"x{i} y{i}" for i in range(120))),
    ]
    batch2 = [
        (11, base_words),  # exact copy of doc 1 -> drop
        (12, base_words.replace("w100", "EDited")),  # near copy -> drop
        (13, " ".join(f"z{i} q{i} r{i}" for i in range(90))),  # new -> keep
    ]
    schema = "doc_id long, text string"
    incoming = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(incoming)

    def drain():
        q = neardup_stream(
            spark.readStream.schema(schema).parquet(incoming),
            store_dir=store,
            accepted_dir=accepted,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.parquet(accepted).collect()}

    assert drain() == {1, 2}

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(incoming)
    got = drain()
    assert 13 in got, "genuinely new doc must pass"
    assert 11 not in got, "exact copy must be dropped"
    assert 12 not in got, "near copy (1 word edited in 200) must be dropped"
    assert got == {1, 2, 13}


def test_s29_streaming_neardup_filter(spark, tmp_path):
    _neardup_drops_later_copies(spark, tmp_path, str(tmp_path / "bucket-store"))


def test_s29b_neardup_store_under_a_file_uri(spark, tmp_path):
    """S29 with the bucket store given as a ``file://`` URI: the stored
    buckets must be found, or every later near copy passes."""
    _neardup_drops_later_copies(spark, tmp_path, (tmp_path / "bucket-store").as_uri())


def test_s30_streaming_sketch_state_dashboard(spark, tmp_path):
    """S30: streaming mergeable-quantile state (streaming/sketchstate.py).
    Two drains over staged event chunks maintain the daily KLL state
    incrementally; the dashboard query's estimates must sit at the right
    RANK of the full union (same contract as batch ts40), the state must
    stay |keys x days|-sized, and a day split across drains must still
    converge (mergeability across micro-batches)."""
    import random

    from pyconnect_spark.streaming.sketchstate import (
        query_quantiles,
        sketch_rollup_stream,
    )

    rng = random.Random(30)
    rows1 = [
        ("a", f"2026-01-0{1 + i % 3} 00:00:00", rng.gauss(100.0, 10.0))
        for i in range(600)
    ]
    rows2 = [  # same keys, days overlap day 3 + extend to day 4
        ("a", f"2026-01-0{3 + i % 2} 00:00:00", rng.gauss(150.0, 5.0))
        for i in range(600)
    ]
    schema = "event_type string, ts_s string, value double"
    incoming = str(tmp_path / "incoming")
    state = str(tmp_path / "sketch-state")
    ckpt = str(tmp_path / "ckpt")

    def stage(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(incoming)

    def drain():
        q = sketch_rollup_stream(
            spark.readStream.schema(
                "event_type string, value double, ts timestamp"
            ).parquet(incoming),
            state_dir=state,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    stage(rows1)
    drain()
    est1 = {r["key"]: r for r in query_quantiles(spark, state).collect()}
    assert est1["a"]["n_days"] == 3

    stage(rows2)
    drain()
    est = {r["key"]: r for r in query_quantiles(spark, state).collect()}
    assert est["a"]["n_days"] == 4  # day 3 merged, day 4 appended

    values = sorted(v for _, _, v in rows1 + rows2)
    for q in (50, 95, 99):
        e = est["a"][f"est_p{q}"]
        rank = sum(1 for v in values if v <= e) / len(values)
        assert abs(rank - q / 100) <= 0.03, (q, e, rank)

    # State stays sketch-sized: at most TWO live versions — the newest
    # epoch plus its parent, retained across the checkpoint-commit
    # boundary so a crash-then-replay of the newest epoch can still
    # rebuild from its parent (pruning the parent inside the same
    # foreachBatch call was the replay-data-loss bug ADVICE r05 found).
    import os as _os

    live = sorted(d for d in _os.listdir(state) if d.startswith("v="))
    assert 1 <= len(live) <= 2, live
    newest = max(live, key=lambda d: int(d.split("=")[1]))
    state_rows = spark.read.parquet(_os.path.join(state, newest))
    assert state_rows.count() == 4

    # Replay resilience: a replayed newest epoch reads
    # latest_state(below=newest) — that MUST be the retained parent
    # (the 3-day state from drain 1), not None. Before the fix the
    # parent was pruned inside the same foreachBatch call, so a crash
    # between prune and checkpoint-commit lost all accumulated state.
    from pyconnect_spark.streaming.epoch import latest_state

    newest_epoch = int(newest.split("=")[1])
    parent = latest_state(spark, state, below=newest_epoch)
    assert parent is not None, "parent version must survive until commit"
    assert parent.count() == 3  # drain-1 state: days 1..3


def test_s31_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """S31: streaming CMS heavy-hitter state (streaming/cmsstate.py).
    Counter addition is algebraic, so after two drains the streamed
    state must equal a batch sketch of the union TABLE-FOR-TABLE (not
    within tolerance) — the strongest form of the mergeability claim.
    Heavy-hitter probes must be >= truth (CMS one-sided error) and
    exact for the dominant word on this tiny vocab."""
    from pyconnect_spark.streaming.cmsstate import (
        cms_rollup_stream,
        cms_sketch,
        query_heavy_hitters,
    )

    docs1 = [(i, "alpha beta gamma alpha") for i in range(40)]
    docs2 = [(i + 100, "alpha delta " + ("beta " * (i % 3))) for i in range(40)]
    schema = "doc_id long, text string"
    incoming = str(tmp_path / "incoming")
    state = str(tmp_path / "cms-state")
    ckpt = str(tmp_path / "ckpt")

    def stage(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(incoming)

    def drain():
        q = cms_rollup_stream(
            spark.readStream.schema(schema).parquet(incoming),
            state_dir=state,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    stage(docs1)
    drain()
    stage(docs2)
    drain()

    streamed = {
        (r["r"], r["bucket"]): r["c"]
        for r in spark.read.parquet(
            str(tmp_path / "cms-state" / "v=1")
        ).collect()
    }
    batch = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_sketch(
            spark.createDataFrame(docs1 + docs2, schema)
        ).collect()
    }
    assert streamed == batch  # exact mergeability, not tolerance

    words = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("delta",)], "word string"
    )
    est = {r["word"]: r["cms_est"] for r in query_heavy_hitters(spark, state, words).collect()}
    # alpha: 2*40 + 40; beta: 40 + sum(i%3 for i in range(40)) = 40+39
    truth = {"alpha": 120, "beta": 79, "gamma": 40, "delta": 40}
    for w, n in truth.items():
        assert est[w] >= n, (w, est[w], n)  # one-sided error
    assert est["alpha"] >= est["gamma"]


def test_s32_streaming_decontamination_gate(spark, tmp_path):
    """S32: streaming eval-set decontamination gate (streaming/decontam.py).
    Docs sharing ANY word-4-gram with the frozen eval set are dropped at
    ingest; clean docs pass; the gate is stateless so a second drain with
    the same eval digests gates identically; gram digests match tx42's
    batch construction (shared gram_digests builder)."""
    from pyconnect_spark.streaming.decontam import (
        build_eval_digests,
        decontam_stream,
        gram_digests,
    )

    eval_rows = [(1001, "the quick brown fox jumps over the lazy dog")]
    schema = "doc_id long, text string"
    eval_df = spark.createDataFrame(eval_rows, schema)
    digests = build_eval_digests(eval_df).persist()

    batch1 = [
        (1, "completely unrelated text about spark engines and shuffles"),
        (2, "he saw the quick brown fox jumps far away"),  # shares a 4-gram
    ]
    batch2 = [
        (3, "over the lazy dog went the cart"),  # shares "over the lazy dog"
        (4, "clean document with novel words only here"),
    ]
    incoming = str(tmp_path / "incoming")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)

    def drain():
        q = decontam_stream(
            spark.readStream.schema(schema).parquet(incoming),
            digests,
            accepted_dir=accepted,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.parquet(accepted).collect()}

    assert drain() == {1}

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)
    assert drain() == {1, 4}

    # stream-side grams must equal the batch (tx42) construction
    got = {
        r["g"]
        for r in gram_digests(spark.createDataFrame(eval_rows, schema)).collect()
    }
    import hashlib

    words = eval_rows[0][1].split()
    want = {
        hashlib.md5(" ".join(words[i : i + 4]).encode()).hexdigest()
        for i in range(len(words) - 3)
    }
    assert got == want


def test_s33_streaming_reservoir_equals_batch(spark, tmp_path):
    """S33: streaming md5-reservoir state (streaming/reservoirstate.py),
    the stream twin of round-7's deterministic ts40. Two drains over the
    sf0.001 events split by event-id parity must leave a state whose
    dashboard readout EQUALS batch ts40's estimate columns bit-for-bit
    (tournament bottom-k is order- and batching-insensitive), and a
    directly replayed epoch must be a byte-level no-op (idempotent
    merge — strictly stronger than S30's epoch-rename repair)."""
    from pyconnect_spark.operators._util import t as _t
    from pyconnect_spark.operators.timeseries import ts40
    from pyconnect_spark.streaming.reservoirstate import (
        query_reservoir_quantiles,
        reservoir_rollup_stream,
    )

    sf = "/root/testdata/sf0.001"
    ev = _t(spark, sf, "events").select("event_type", "ts", "event_id", "value")
    incoming = str(tmp_path / "incoming")
    state = str(tmp_path / "res-state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = reservoir_rollup_stream(
            spark.readStream.schema(
                "event_type string, ts timestamp, event_id long, value double"
            ).parquet(incoming),
            state_dir=state,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)
    drain()
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)
    drain()

    got = {
        r["key"]: r for r in query_reservoir_quantiles(spark, state).collect()
    }
    want = {r["event_type"]: r for r in ts40(spark, sf).collect()}
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        assert g["n_days"] == w["n_days"]
        assert g["n_sample"] == w["n_sample"]
        for q in (50, 95, 99):
            assert g[f"est_p{q}"] == w[f"est_p{q}"], (key, q)

    # idempotent replay: re-running the newest epoch's update against the
    # SAME batch must reproduce the state exactly (distinct-then-rerank
    # makes the duplicate union a no-op)
    import os as _os

    live = sorted(d for d in _os.listdir(state) if d.startswith("v="))
    newest = max(int(d.split("=")[1]) for d in live)
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(
            _os.path.join(state, f"v={newest}")
        ).collect()
    )
    from pyconnect_spark.streaming.reservoirstate import _bottom_k, _hv

    batch2 = ev.where(F.col("event_id") % 2 == 1).select(
        F.col("event_type").alias("key"),
        F.col("ts").cast("date").alias("day"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
        _hv("event_id").alias("hv"),
    )
    prev = spark.read.parquet(_os.path.join(state, f"v={newest}"))
    replayed = _bottom_k(
        prev.unionByName(_bottom_k(batch2, 512, "key", "day")).dropDuplicates(
            ["key", "day", "event_id"]
        ),
        512,
        "key",
        "day",
    )
    after = sorted(tuple(r) for r in replayed.collect())
    assert after == before


def test_s34_alert_gate_cooldown_suppression(spark, tmp_path):
    """S34: threshold alerting with per-key event-time cooldown
    (streaming/stateful.py alert_gate_per_key). The emitted alert
    stream across TWO drains must equal a sequential Python fold over
    the full event-time-ordered sequence (same gate, same cooldown) —
    including a drain-2 breach suppressed because it falls inside the
    cooldown of a drain-1 alert (state survives the batch boundary),
    and the suppressed-counter accounting: every breach is either an
    alert or counted in a later alert's n_suppressed (none lost)."""
    from pyconnect_spark.streaming.stateful import alert_gate_per_key

    threshold, cooldown = 5.0, 3600.0
    d = tmp_path / "alert-in"
    d.mkdir()
    ckpt = str(tmp_path / "alert-ckpt")
    schema = "event_id long, ts timestamp, event_type string, value double"

    def mk(eid, hh, mm, k, v):
        return {
            "event_id": eid,
            "ts": f"2024-03-01 {hh:02d}:{mm:02d}:00",
            "event_type": k,
            "value": v,
        }

    chunk1 = [
        mk(1, 0, 0, "a", 9.0),   # alert (first breach)
        mk(2, 0, 30, "a", 8.0),  # suppressed (inside 1h)
        mk(3, 1, 30, "a", 7.0),  # alert (cooldown elapsed)
        mk(4, 0, 10, "b", 2.0),  # below threshold — ignored
        mk(5, 0, 20, "b", 6.0),  # alert
    ]
    chunk2 = [
        mk(6, 2, 0, "a", 9.9),   # suppressed: 00:30 inside cooldown of 01:30
        mk(7, 2, 45, "a", 6.5),  # alert (>= 1h after 01:30) carrying supp=1
        mk(8, 0, 50, "b", 7.7),  # suppressed vs b's 00:20 alert
    ]

    collected = []

    def run_once(fname, rows):
        with open(d / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(schema).json(str(d))
        q = (
            alert_gate_per_key(stream, threshold, cooldown)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, eid: collected.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once("c1.jsonl", chunk1)
    run_once("c2.jsonl", chunk2)

    got = sorted(
        (r["event_type"], r["ts"].strftime("%H:%M"), r["value"], r["n_suppressed"])
        for r in collected
    )

    # sequential reference: same gate folded over the ordered sequence
    ref = []
    state = {}
    for r in sorted(chunk1 + chunk2, key=lambda r: (r["event_type"], r["ts"], r["event_id"])):
        if r["value"] < threshold:
            continue
        hh, mm = int(r["ts"][11:13]), int(r["ts"][14:16])
        sec = hh * 3600 + mm * 60
        last, supp = state.get(r["event_type"], (float("-inf"), 0))
        if sec - last >= cooldown:
            ref.append((r["event_type"], r["ts"][11:16], r["value"], supp))
            state[r["event_type"]] = (sec, 0)
        else:
            state[r["event_type"]] = (last, supp + 1)
    assert got == sorted(ref), (got, ref)

    # accounting: breaches = alerts + suppressed-in-alerts + trailing state
    n_breaches = sum(1 for r in chunk1 + chunk2 if r["value"] >= threshold)
    trailing = sum(s for _, s in state.values())
    assert n_breaches == len(got) + sum(g[3] for g in got) + trailing


def test_s36_streaming_vocab_equals_batch(spark, tmp_path):
    """S36: streaming exact vocabulary heavy-hitters (streaming/
    vocabstate.py), the stream twin of tx10's tokenizer wordcount. Two
    drains over sf0.001 documents split by doc-id parity must leave a
    state whose top-50 dashboard EQUALS batch tx10 bit-for-bit (exact
    word-keyed sums are batching-insensitive), and a directly replayed
    epoch must rebuild from its parent (sum-merge is not idempotent;
    the S30 epoch discipline is the repair)."""
    from pyconnect_spark.operators._util import t as _t
    from pyconnect_spark.operators.text import tx10
    from pyconnect_spark.streaming.vocabstate import (
        query_vocab_topk,
        vocab_rollup_stream,
    )

    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    incoming = str(tmp_path / "incoming")
    state = str(tmp_path / "vocab-state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = vocab_rollup_stream(
            spark.readStream.schema("doc_id long, text string").parquet(
                incoming
            ),
            state_dir=state,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)
    drain()
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)
    drain()

    got = [(r.word, r.n) for r in query_vocab_topk(spark, state).collect()]
    want = [(r.word, r.n) for r in tx10(spark, sf).collect()]
    assert got == want

    # replay idempotence via the epoch discipline: re-running the NEWEST
    # epoch must rebuild from its parent, leaving the same state
    import os

    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(state) if d.startswith("v=")
    )
    newest = versions[-1]
    before = sorted(
        map(tuple, spark.read.parquet(f"{state}/v={newest}").collect())
    )
    # simulate the crash-replay: foreachBatch re-invoked with the same
    # epoch id over the same (second) chunk
    from pyconnect_spark.streaming.epoch import latest_state

    chunk2 = docs.where(F.col("doc_id") % 2 == 1)
    fresh = (
        chunk2.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    prev = latest_state(spark, state, below=newest)
    merged = (
        prev.unionByName(fresh)
        .groupBy("word")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    after = sorted(map(tuple, merged.collect()))
    assert after == before


def test_s28b_cdc_stream_equals_declared_io03(spark, tmp_path):
    """S28b (round 11): S28's CDC-apply pattern, productized as
    streaming/cdc.py and pinned against the DECLARED io03 query —
    draining the SAME two change sets io03 applies (initial load, then
    the update batch with status flips, price doubles, and
    cross-partition key moves) must leave on-disk state whose
    io03-grain aggregate EQUALS the declared batch query bit-for-bit;
    re-applying the update batch (the at-least-once replay) must be a
    row-level no-op. (S28 proved the mechanism on a toy table; this
    ties the stream twin to the driver-hash-checked surface.)"""
    from pyconnect_spark.operators._util import dsum, t as _t
    from pyconnect_spark.registry import ALL
    from pyconnect_spark.sources.layout import merge_upsert
    from pyconnect_spark.streaming.cdc import cdc_upsert_stream

    sf = "/root/testdata/sf0.001"
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    orders = _t(spark, sf, "orders").select(*cols)
    initial = orders.filter(F.col("o_orderkey") % 4 != 0)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 8 == 2, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )

    incoming = str(tmp_path / "changes")
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = cdc_upsert_stream(
            spark.readStream.schema(initial.schema).parquet(incoming),
            target_dir=target,
            checkpoint_dir=ckpt,
            key_cols=["o_orderkey"],
            partition_by=["o_orderpriority"],
        )
        q.awaitTermination()

    initial.coalesce(1).write.mode("append").parquet(incoming)
    drain()
    updates.coalesce(1).write.mode("append").parquet(incoming)
    drain()

    def agg(df):
        return sorted(
            map(
                tuple,
                df.groupBy("o_orderpriority")
                .agg(
                    F.count("*").alias("n_orders"),
                    dsum("o_totalprice").alias("total_price"),
                    F.sum(
                        F.when(F.col("o_orderstatus") == "U", 1).otherwise(0)
                    ).alias("n_updated"),
                )
                .collect(),
            )
        )

    got = agg(spark.read.parquet(target))
    want = sorted(map(tuple, ALL.builders()["io03_merge_upsert_state"](spark, sf).collect()))
    assert got == want

    # at-least-once replay: re-applying the SAME update batch must be a
    # row-level no-op (same keys replaced with identical rows)
    rows_before = sorted(map(tuple, spark.read.parquet(target).collect()))
    merge_upsert(
        spark,
        target,
        updates,
        key_cols=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    rows_after = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert rows_after == rows_before


def test_s28c_cdc_seq_col_compacts_intra_batch_duplicates(spark, tmp_path):
    """S28c (round 11): when one micro-batch carries several versions of
    a key, cdc.py's seq_col contract keeps only the newest (the CDC
    log-sequence-number move) — S28's maxFilesPerTrigger=1 ordering
    handles cross-batch versions; this covers the intra-batch case.
    Without a seq_col, upstream per-batch compaction is assumed."""
    from pyconnect_spark.streaming.cdc import cdc_upsert_stream

    incoming = str(tmp_path / "changes")
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.createDataFrame(
        [(1, "a", 1.0, 10), (1, "a", 5.0, 30), (1, "a", 3.0, 20),
         (2, "b", 7.0, 10)],
        "k long, part string, v double, seq long",
    )
    batch.coalesce(1).write.parquet(incoming)
    q = cdc_upsert_stream(
        spark.readStream.schema(batch.schema).parquet(incoming),
        target_dir=target,
        checkpoint_dir=ckpt,
        key_cols=["k"],
        partition_by=["part"],
        seq_col="seq",
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(target).select("k", "part", "v").collect()))
    assert got == [(1, "a", 5.0), (2, "b", 7.0)]


def test_curation_gates_count_on_their_write_job(spark, tmp_path):
    """neardup_filter_batch, decontam_gate_batch and DlqFileSink.on_flush
    take their counts from an observation on the frame they write, not
    from a count() that recomputes the micro-batch. Ceilings are the
    Spark jobs per call under a unique job group; counting with
    ``count()`` took 29, 13 and 6."""
    from pyconnect_spark.streaming.decontam import build_eval_digests, decontam_gate_batch
    from pyconnect_spark.streaming.neardup import neardup_filter_batch
    from pyconnect_spark.streaming.sink import DlqFileSink

    sc = spark.sparkContext

    def jobs(name, call):
        group = f"gate-jobs-{name}"
        sc.setJobGroup(group, f"job count: {name}")
        try:
            result = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    schema = "doc_id long, text string"
    words = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, words), (2, words.replace("w7", "x")), (3, "the quick brown fox jumps over the lazy dog")],
        schema,
    )
    accepted = str(tmp_path / "neardup")
    n, n_jobs = jobs("neardup", lambda: neardup_filter_batch(docs, str(tmp_path / "store"), accepted))
    assert n == spark.read.parquet(accepted).count() == 2 and n_jobs <= 19

    digests = build_eval_digests(spark.createDataFrame([(9, "quick brown fox jumps")], schema)).persist()
    digests.count()
    accepted = str(tmp_path / "decontam")
    n, n_jobs = jobs("decontam", lambda: decontam_gate_batch(docs, digests, accepted))
    assert n == spark.read.parquet(accepted).count() == 2 and n_jobs <= 7
    digests.unpersist()

    sink = DlqFileSink(
        spark,
        SinkConfig(
            bootstrap_servers="localhost:9092",
            topics=[str(tmp_path)],
            checkpoint_location=str(tmp_path / "ckpt"),
        ),
        out_path=str(tmp_path / "out"),
        dlq_path=str(tmp_path / "dlq"),
        valid=F.length("value") > 0,
        reason=F.lit("empty value"),
    )
    batch = spark.createDataFrame([("k0", ""), ("k1", "v1"), ("k2", "v2")], "key string, value string")
    _, n_jobs = jobs("dlq", lambda: sink.on_flush(batch, 0))
    assert (sink.n_good, sink.n_dlq) == (2, 1) and n_jobs <= 2
