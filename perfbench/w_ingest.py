"""doc_ingest_open_loop: many small micro-batches through a stateful sink.

Open loop, one generator thread. Every PERIOD_S the generator drops one
JSON-lines file of DOCS_PER_FILE documents, each stamped with the file's
due time, whatever the sink is doing. A continuous (not availableNow)
sink connector runs quality gate -> fingerprint -> stream_dedup (state
store) -> exactly-once epoch flush, with rejects going to a dead-letter
epoch directory. Small frequent batches make the fixed cost of each batch
and the state store the whole latency; the Avro codec does nothing here.

Latency is measured from a file's due time to the end of the flush that
made it durable, after the run, from the epoch output: measuring adds no
work to the flush.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import tempfile
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from pyconnect_spark.config import SinkConfig
from pyconnect_spark.streaming.sink import EpochFileSink
from pyconnect_spark.streaming.windows import stream_dedup

import gen
from harness import percentile, read_epochs, stream_metrics

# 10 files/s. On 4 cores the sink kept up with 67 files/s (its backlog
# stayed within three batches), and a batch costs about the same at 10 as
# at 20 files/s. The host this was sized on also ran up to 3x slower for
# tens of minutes; at 20 files/s the sink then fell behind once (a 19 s
# median latency), so the rate leaves room for that.
PERIOD_S = 0.1
MIN_FILES = 200  # latency samples per run, whatever --seconds is
DOCS_PER_FILE = 8
# A file's latency falls by about a quarter over the first 20-30 s of
# streaming as the JVM compiles the micro-batch path. The warm-up stream
# covers the first part of that; the 20 s measured stream the rest, the
# same way in every run.
WARM_S = 6.0
DOC_SCHEMA = "doc_id long, file_id long, due double, source string, text string"


class IngestSink(EpochFileSink):
    """Gate, fingerprint and dedup on the stream; the flush promotes the
    accepted rows with EpochFileSink and the rejects to a DLQ epoch dir."""

    def __init__(self, spark, config, *, dlq_dir: str, tracer, **kw):
        super().__init__(spark, config, schema=DOC_SCHEMA, stop_at_end=False, **kw)
        self.dlq_dir = dlq_dir
        self.tracer = tracer

    def transform(self, df):
        gated = df.withColumn("_valid", F.length("text") >= gen.MIN_CHARS)
        norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        return stream_dedup(gated.withColumn("fp", F.sha2(norm, 256)), ["fp"])

    def on_flush(self, batch, epoch_id):
        with self.tracer.span("sink.flush", epoch=epoch_id):
            flagged = batch.persist()
            try:
                good = flagged.filter(F.col("_valid")).select(
                    F.col("doc_id").cast("string").alias("key"),
                    F.struct("doc_id", "file_id", "fp").alias("value"),
                )
                super().on_flush(good, epoch_id)
                bad = flagged.filter(~F.col("_valid")).select(
                    "doc_id", "file_id", F.lit("short").alias("_dlq_reason"), F.lit(epoch_id).alias("_dlq_epoch")
                )
                final = os.path.join(self.dlq_dir, f"epoch-{epoch_id:010d}.jsonl")
                bad.write.mode("overwrite").json(final + ".tmp")
                if os.path.isdir(final):
                    shutil.rmtree(final)
                os.rename(final + ".tmp", final)
            finally:
                flagged.unpersist()


def _generate(files, incoming: str, staging: str, start: float, lags: list[float]) -> None:
    """Open-loop generator: file i is due at ``start + i * PERIOD_S`` and
    lands atomically (write, then rename into the watched directory)."""
    for i, docs in enumerate(files):
        due = start + i * PERIOD_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(staging, f"f-{i:05d}.jsonl")
        with open(tmp, "w") as f:
            for d in docs:
                f.write(json.dumps({**d, "file_id": i, "due": due}) + "\n")
        os.rename(tmp, os.path.join(incoming, f"f-{i:05d}.jsonl"))
        lags.append(time.time() - due)


def _epoch_outputs(d: str) -> dict[int, tuple[float, list[dict]]]:
    return {e: (t, [json.loads(line) for line in lines]) for e, (t, lines) in read_epochs(d).items()}


def _session(ctx, files) -> dict:
    root = tempfile.mkdtemp(prefix="ingest-", dir=ctx.work)
    incoming, staging, out, dlq = (os.path.join(root, d) for d in ("in", "staging", "out", "dlq"))
    for d in (incoming, staging, out, dlq):
        os.makedirs(d)
    sink = IngestSink(
        ctx.spark,
        SinkConfig(bootstrap_servers="localhost:9092", topics=[incoming], checkpoint_location=os.path.join(root, "ck")),
        dlq_dir=dlq,
        tracer=ctx.tracer,
        out_dir=out,
    )
    runner = threading.Thread(target=sink.run, name="ingest-sink")
    runner.start()
    while not ctx.spark.streams.active:
        if not runner.is_alive():
            raise RuntimeError("ingest sink failed to start")
        time.sleep(0.01)
    [query] = ctx.spark.streams.active

    lags: list[float] = []
    start = time.time() + 0.2
    _generate(files, incoming, staging, start, lags)
    query.processAllAvailable()
    sink.stop()
    runner.join(timeout=60)
    if runner.is_alive():
        raise RuntimeError("ingest sink did not stop")
    return {"start": start, "lags": lags, "accepted": _epoch_outputs(out), "dlq": _epoch_outputs(dlq)}


def _fingerprint(text: str) -> str:
    return hashlib.sha256(re.sub(r"\s+", " ", text.strip()).lower().encode()).hexdigest()


def check(files, run) -> tuple[int, dict[int, int]]:
    """Failures against a pure-Python replay of the gate plus first-seen
    fingerprint dedup, and the epoch each file was flushed in.

    Accepted rows must hold every distinct passing fingerprint exactly
    once, taken from the earliest batch that saw it (which of two copies
    in one batch survives is not defined); the DLQ must hold exactly the
    first-seen documents that fail the gate."""
    file_epoch: dict[int, int] = {}
    for which in ("accepted", "dlq"):
        for epoch, (_, rows) in run[which].items():
            for r in rows:
                file_epoch[(r["value"] if which == "accepted" else r)["file_id"]] = epoch

    docs_by_fp = defaultdict(list)
    want_dlq = set()
    for i, docs in enumerate(files):
        for d in docs:
            fp = _fingerprint(d["text"])
            if len(d["text"]) < gen.MIN_CHARS:
                if not docs_by_fp[fp]:
                    want_dlq.add(d["doc_id"])
            docs_by_fp[fp].append((i, d["doc_id"]))
    want_fps = {fp for fp, occ in docs_by_fp.items() if occ[0][1] not in want_dlq}

    got = {r["value"]["doc_id"]: r["value"]["fp"] for _, rows in run["accepted"].values() for r in rows}
    got_fps = Counter(got.values())
    failed = sum(((Counter(want_fps) - got_fps) + (got_fps - Counter(want_fps))).values())
    got_dlq = {r["doc_id"] for _, rows in run["dlq"].values() for r in rows}
    failed += len(got_dlq ^ want_dlq)
    doc_file = {doc_id: i for occ in docs_by_fp.values() for i, doc_id in occ}
    for doc_id, fp in got.items():
        first = min(file_epoch.get(i, 1 << 62) for i, _ in docs_by_fp[fp])
        failed += file_epoch[doc_file[doc_id]] != first
    return failed, file_epoch


def warm(ctx) -> None:
    _session(ctx, gen.make_doc_batches(ctx.seed * 1000 + 999, round(WARM_S / PERIOD_S), DOCS_PER_FILE))


def measure(ctx) -> dict:
    files = gen.make_doc_batches(ctx.seed, max(MIN_FILES, round(ctx.seconds / PERIOD_S)), DOCS_PER_FILE)
    run = _session(ctx, files)
    failed, file_epoch = check(files, run)

    durable = {
        e: max(run["accepted"].get(e, (0.0, []))[0], run["dlq"].get(e, (0.0, []))[0])
        for e in set(run["accepted"]) | set(run["dlq"])
    }
    due = {i: run["start"] + i * PERIOD_S for i in range(len(files))}
    done = {i: durable[e] for i, e in file_epoch.items()}
    latencies = [(done[i] - due[i]) * 1000.0 for i in sorted(done)]
    n_docs = sum(map(len, files))
    out = {
        "attempted": n_docs,
        "failed": failed,
        "e2e": {
            "records_per_s": n_docs / (max(done.values()) - due[0]),
            "latency_p50_ms": percentile(latencies, 50),
            "latency_p95_ms": percentile(latencies, 95),
            "result_recall": (n_docs - failed) / n_docs,
        },
        "samples": {"files": len(latencies)},
    }
    if ctx.tracer.enabled:
        flush_ms = [d * 1000 for d in ctx.tracer.durations("sink.flush")]
        epochs = Counter(file_epoch.values())
        out["layers"] = {
            "sink.flush_ms_p50": percentile(flush_ms, 50),
            "sink.flush_ms_p95": percentile(flush_ms, 95),
            "sink.batches": len(epochs),
            "sink.records_per_batch": n_docs / len(epochs),
            "generator.lag_ms_max": max(run["lags"]) * 1000.0,
            "ingest.backlog_files_max": max(
                sum(1 for j in done if due[j] <= due[i] < done[j]) for i in done
            ),
            **stream_metrics(ctx.tracer, ""),
        }
    return out
