#!/usr/bin/env python3
"""Seeded benchmark of the connector framework and the LLM-curation
operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout (any working directory works). Generates
the workload's inputs from the seed, sets up and warms a Spark session,
measures for ``--seconds``, checks every output, and prints one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for the metric catalogue.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "avro_connector_drain": "w_avro",
    "doc_ingest_open_loop": "w_ingest",
    "llm_curation_batch": "w_curation",
}

# name -> unit. Every workload reports every metric; a layer a workload
# does not exercise reads 0 there (see README.md for the map).
END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "result_recall": "ratio",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "avro_codec.encode_us_per_record": "us",
    "avro_codec.decode_us_per_record": "us",
    "avro_codec.bytes_per_record": "bytes",
    "source.produce_s": "s",
    "sink.consume_s": "s",
    "sink.flush_ms_p50": "ms",
    "sink.flush_ms_p95": "ms",
    "sink.batches": "count",
    "sink.records_per_batch": "count",
    "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.overhead_share": "ratio",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.dup_rows_dropped": "count",
    "generator.lag_ms_max": "ms",
    "ingest.backlog_files_max": "count",
    "dedup.exact_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.clusters_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_edges": "count",
    "dedup.lsh_useful_ratio": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "dedup.spill_bytes": "bytes",
    "similarity.ann_lsh_s": "s",
    "similarity.ivfadc_s": "s",
    "similarity.shuffle_bytes": "bytes",
    "trace.overhead_records_per_s": "1/s",
    "trace.overhead_latency_p50_ms": "ms",
}


class Context:
    """What a workload gets: the session, its own work dir, the seed and
    run length, and the tracer (enabled only for the traced pass)."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer


def _prepare_env(work: str) -> None:
    """Before the JVM starts: Python workers must import the program from
    this checkout, and every temp file stays inside the work dir."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Every JVM, spark-submit's launcher included, would otherwise keep a
    # perf-data file under the system temp dir, which ignores TMPDIR.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, work)
    finally:
        # Every path out: the JVM and its Python workers end before this
        # process does, and before their files are removed.
        try:
            harness.stop_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import pyconnect_spark  # noqa: F401  fail fast, before any set-up, without the program

    workload = importlib.import_module(WORKLOADS[args.workload])
    tracer = harness.Tracer(enabled=False)
    # /proc/<pid>/smaps_rollup walks the JVM's page tables under its mmap
    # lock, so memory is sampled in traced runs only.
    mem = harness.MemorySampler() if args.trace else contextlib.nullcontext()
    with mem:
        spark, setup_s, get_spark_s = harness.start_session(work)
        harness.log(f"set up in {setup_s:.2f} s")
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        workload.warm(ctx)
        harness.log("warmed")
        passes = [workload.measure(ctx)]
        harness.log(f"measured {passes[0]['samples']}")
        if args.trace:
            # A traced pass on the same session and seed: its difference
            # from the untraced pass is the tracing overhead. It runs
            # second, on the warmer JVM, so the difference errs low.
            tracer.enabled = True
            spark.streams.addListener(harness.progress_listener(tracer))
            passes.append(workload.measure(ctx))
        harness.stop_processes()

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    if args.trace:
        res, traced = passes[0]["e2e"], passes[1]["e2e"]
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(passes[1]["layers"])
        layers["peak_rss_mb"] = mem.peak_mb
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.overhead_records_per_s"] = res["records_per_s"] - traced["records_per_s"]
        layers["trace.overhead_latency_p50_ms"] = traced["latency_p50_ms"] - res["latency_p50_ms"]
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(
            os.path.join(ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json"),
            {"untraced_e2e": res, "traced_e2e": traced, "layers": layers},
        )
    else:
        e2e = {**passes[0]["e2e"], "setup_s": setup_s}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
