"""Streaming Count-Min heavy-hitter state: tx31's mergeable frequency
sketch maintained incrementally over an unbounded document stream.

CMS counters are plain additive — merging a batch's sketch into the
persisted state is a SUM per (row, bucket), which makes the streamed
sketch EXACTLY equal (not approximately) to a batch sketch of the same
corpus: mergeability is algebraic, and because the bucket hashes are
the md5-derived tx31 family, the equality is testable table-for-table.

Additivity is also why replay is dangerous: re-merging a replayed
batch double-counts. The fold is streaming/epoch.py's: state versions
are keyed by the micro-batch epoch, and a replayed batch REBUILDS its
epoch from the parent version.

The exchange per batch carries at most depth x width counters per map
task (map-side combine over a fixed key domain); the state is a
depth x width table of longs regardless of stream length. Heavy-hitter
queries probe candidate words against the state (min over rows) and
never touch historical raw documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.streaming.epoch import fold_state, latest_state

_DEPTH = 4
_WIDTH = 1024


def _bucket(r: int, word_col):
    """tx31's md5 hash family — streaming and batch bucket identically."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{r}:"), word_col)), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _WIDTH
    )


def cms_sketch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(r, bucket, c) counter table for a document frame."""
    words = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
    )
    keyed = words.select(
        F.posexplode(
            F.array(*[_bucket(r, F.col("word")) for r in range(_DEPTH)])
        ).alias("r", "bucket")
    )
    return keyed.groupBy("r", "bucket").agg(
        F.count("*").cast("long").alias("c")
    )


def cms_rollup_stream(
    stream: DataFrame,
    *,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Start (availableNow) a stream folding each micro-batch's CMS into
    the persisted counter state. Returns the StreamingQuery."""
    return fold_state(
        stream,
        lambda batch: cms_sketch(batch, text_col),
        lambda union: union.groupBy("r", "bucket").agg(
            F.sum("c").cast("long").alias("c")
        ),
        state_dir=state_dir,
        checkpoint_dir=checkpoint_dir,
    )


def query_heavy_hitters(
    spark: SparkSession, state_dir: str, candidates: DataFrame
) -> DataFrame:
    """Estimate each candidate word's frequency from the counter state
    (min over the depth rows — the CMS read path; guaranteed >= truth)."""
    state = latest_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no CMS state under {state_dir}")
    probes = candidates.select(
        "word",
        F.posexplode(
            F.array(*[_bucket(r, F.col("word")) for r in range(_DEPTH)])
        ).alias("r", "bucket"),
    )
    return (
        probes.join(state, ["r", "bucket"])
        .groupBy("word")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
