"""Streaming near-duplicate filter: MinHash-LSH dedup over an unbounded
document stream.

Spark's built-in stream dedup (`dropDuplicates` / dedup-within-watermark,
streaming/windows.py) is EXACT-key only. Near-dup filtering needs "drop
the doc if any LSH band bucket was already claimed", which is a
multi-key membership test — not expressible as a single dropDuplicates.
The engine-native shape is foreachBatch + a persistent bucket store:

per micro-batch
  1. minhash signatures -> band-bucket keys (map-only, the dd03 family —
     `band_keys`, so streaming and batch bucket IDENTICALLY);
  2. drop docs sharing ANY bucket with the store (one semi join against
     a parquet scan of 8-byte bucket hashes);
  3. within the batch, greedy-accept the lowest doc_id per contested
     bucket (a doc losing any of its buckets to a smaller accepted-or-
     contending doc is dropped — deterministic, order-free, documented
     as greedy: of a colliding pair BOTH can only be dropped if each
     loses a different bucket to a third doc, which is itself a
     near-dup signal);
  4. append the survivors' buckets to the store, emit survivors.

Delivery: at-least-once, crash-safe in the useful direction. Buckets
append AFTER the accepted-docs write; a crash between the two re-runs
the batch, re-emits the same survivors (at-least-once duplicates in the
sink, exactly the contract of streaming/sink.py), and duplicate bucket
rows in the store are harmless (semi-join membership). A crash after
bucket-append but before the checkpoint commit re-runs the batch and now
drops those docs as "already seen" — near-dup dedup is idempotent under
replay BY DESIGN (the doc's own buckets are in the store, so the replay
converges to emitted-once).

At 100 TB scale: the store is 8-byte hashes partitioned by bucket
range; the per-batch semi join prunes to the batch's bucket set (a
broadcast when batches are small), and compaction of the store is
`sources/layout.compact_parquet` on a schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.operators.dedup import band_keys, minhash_signatures
from pyconnect_spark.streaming.epoch import glob_status


def _store_df(spark: SparkSession, store_dir: str) -> DataFrame | None:
    if glob_status(spark, f"{store_dir}/*.parquet"):
        return spark.read.parquet(store_dir)
    return None


def neardup_filter_batch(
    batch: DataFrame, store_dir: str, accepted_dir: str
) -> int:
    """Filter one micro-batch of (doc_id, text) rows against the bucket
    store; append survivors to ``accepted_dir`` and their buckets to
    ``store_dir``. Returns the number of accepted docs. Usable directly
    or via :func:`neardup_stream`'s foreachBatch wiring."""
    spark = batch.sparkSession
    bands = band_keys(minhash_signatures(batch)).select("doc_id", "bhash")
    store = _store_df(spark, store_dir)
    if store is not None:
        seen_docs = (
            bands.join(store, "bhash", "left_semi").select("doc_id").distinct()
        )
        bands = bands.join(seen_docs, "doc_id", "left_anti")
    # within-batch greedy: a doc keeps only if it owns (is min doc_id of)
    # every one of its surviving buckets
    bucket_min = bands.groupBy("bhash").agg(F.min("doc_id").alias("min_doc"))
    losers = (
        bands.join(bucket_min, "bhash")
        .filter(F.col("doc_id") != F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )
    accepted_ids = bands.select("doc_id").distinct().join(losers, "doc_id", "left_anti")
    accepted = batch.join(accepted_ids, "doc_id", "left_semi")
    # Emit survivors FIRST, then claim buckets: a crash in between replays
    # the batch and converges (see module docstring). The count rides the
    # survivors' write job.
    written = Observation()
    accepted.observe(written, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
        accepted_dir
    )
    bands.join(accepted_ids, "doc_id", "left_semi").select("bhash").distinct().write.mode(
        "append"
    ).parquet(store_dir)
    return written.get["n"]


def neardup_stream(
    stream: DataFrame,
    *,
    store_dir: str,
    accepted_dir: str,
    checkpoint_dir: str,
):
    """Wire a (doc_id, text) stream through the near-dup filter.
    Returns the started StreamingQuery, which drains what is available
    and stops."""
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, _eid: neardup_filter_batch(b, store_dir, accepted_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
