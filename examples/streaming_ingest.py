#!/usr/bin/env python
"""Streaming LLM training-data ingest: documents arrive as a stream
(file drop standing in for a Kafka topic), each micro-batch is quality-
gated, fingerprinted, deduplicated against everything already accepted,
and appended exactly-once via epoch-keyed part files.

This is the streaming twin of examples/llm_pipeline.py and composes the
engine's pieces end to end:

- Structured Streaming file source (swap in kafka_record_stream for a
  real topic — the rest is identical);
- quality gate + fingerprint as pure column expressions (tx03/tx08-suite
  vocabulary) running inside the micro-batch — failing docs route to a
  dead-letter directory with the failure reason (the DlqFileSink
  pattern) instead of being silently dropped;
- cross-batch exact dedup via dropDuplicates on the fingerprint with the
  stream's state store (watermark-free: content hashes don't expire);
- exactly-once delivery via the EpochFileSink directory-promote pattern.

Run: python examples/streaming_ingest.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyconnect_spark.catalog import load_table
from pyconnect_spark.session import get_spark
from pyconnect_spark.streaming.epoch import write_epoch


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-streaming-ingest", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="stream-ingest-")
    try:
        # stage the documents table as a multi-file drop (the "topic")
        staged = os.path.join(tmp, "incoming")
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(4).write.parquet(staged)
        schema = spark.read.parquet(staged).schema

        out_dir = os.path.join(tmp, "accepted")
        dlq_dir = os.path.join(tmp, "rejected")
        os.makedirs(out_dir)
        os.makedirs(dlq_dir)

        words = F.split(F.trim(F.col("text")), r"\s+")
        mean_len = (
            F.aggregate(
                F.transform(words, lambda w: F.length(w).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size(words)
        )
        quality_keep = (F.size(words) >= 12) & mean_len.between(2, 12)
        fingerprint = F.sha2(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 256
        )

        reject_reason = (
            F.when(F.size(words) < 12, "too_short")
            .when(~mean_len.between(2, 12), "bad_token_length")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # bounded micro-batches
            .parquet(staged)
            .withColumn("fp", fingerprint)
            .dropDuplicates(["fp"])  # cross-batch state-store dedup
            .withColumn("_keep", quality_keep)
            .withColumn("_reason", reject_reason)
            .select("doc_id", "fp", "lang", "n_chars", "_keep", "_reason")
        )

        def flush(batch, epoch_id):
            # accepted rows: epoch-keyed exactly-once promote
            flagged = batch.cache()
            write_epoch(
                flagged.filter(F.col("_keep")).select(
                    F.to_json(F.struct("doc_id", "fp", "lang", "n_chars")).alias("line")
                ),
                os.path.join(out_dir, f"epoch-{epoch_id:010d}.jsonl"),
                "text",
            )
            # rejected rows: dead-letter with the failure reason (never
            # silently dropped — auditable, replayable after a gate fix)
            (
                flagged.filter(~F.col("_keep"))
                .select(F.to_json(F.struct("doc_id", "fp", "_reason")).alias("line"))
                .write.mode("append")
                .text(dlq_dir)
            )
            flagged.unpersist()

        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(flush)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        accepted = spark.read.json(os.path.join(out_dir, "epoch-*.jsonl"))
        rejected = spark.read.json(dlq_dir)
        n_in, n_out, n_dlq = docs.count(), accepted.count(), rejected.count()
        n_epochs = len([d for d in os.listdir(out_dir) if d.endswith(".jsonl")])
        print(
            f"ingested {n_in} docs -> accepted {n_out} unique quality docs "
            f"across {n_epochs} exactly-once epochs; {n_dlq} routed to DLQ"
        )
        if n_dlq:
            print(rejected.groupBy("_reason").count().toPandas().to_string(index=False))
        assert n_out == accepted.select("fp").distinct().count()  # no dups
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
