"""Streaming mergeable-sketch state: an incrementally-maintained
quantile dashboard over an unbounded event stream.

ts40 (operators/timeseries.py) shows the batch shape: per-(key, day)
KLL sketches merge to any rollup without rescanning the fact. The
streaming twin keeps that daily sketch table as FOREACHBATCH STATE:

per micro-batch
  1. sketch the batch per (key, day) — ``kll_sketch_agg_double``
     (map-side combined; the exchange carries KB-sized sketches);
  2. merge with the persisted daily state — union + ``kll_merge_agg``
     keyed on (key, day), so a day receiving events across many
     batches converges to the same sketch as a single batch pass
     (mergeability is exactly the property that makes this sound);
  3. write the merged state as the epoch's version ``state_dir/v=<epoch>``
     by streaming/epoch.py's rule: never overwrite the version being
     read (the classic read-write-same-path Spark trap), keep {epoch,
     parent}, prune the rest.

KLL merge is NOT idempotent under replay (re-merging the same batch
double-counts its points), so a replayed batch REWRITES its own epoch
from its parent rather than merging twice — epoch.py's parent-rebuild
rule, shared with the other state folds and EpochFileSink.

Dashboard queries (``query_quantiles``) read the latest state version
only: |keys x days| rows of sketch bytes, never the fact stream.

At 100 TB: state is bytes-per-(key, day); the per-batch exchange is
sketch-sized; the dashboard query is a |keys|-row merge. Nothing in
the pipeline ever re-reads historical raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.streaming.epoch import fold_state, latest_state


def sketch_rollup_stream(
    stream: DataFrame,
    *,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    k: int = 200,
):
    """Start (availableNow) a stream maintaining the daily KLL state.

    ``stream`` is a streaming DataFrame carrying key/timestamp/value
    columns. Returns the StreamingQuery; awaitTermination() drains it.
    """
    return fold_state(
        stream,
        lambda batch: batch.groupBy(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("date").alias("day"),
        ).agg(F.kll_sketch_agg_double(value_col, F.lit(k)).alias("sk")),
        lambda union: union.groupBy("key", "day").agg(
            F.kll_merge_agg_double("sk").alias("sk")
        ),
        state_dir=state_dir,
        checkpoint_dir=checkpoint_dir,
    )


def query_quantiles(
    spark: SparkSession,
    state_dir: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """The dashboard query: merge each key's daily sketches and emit
    quantile estimates — |keys| rows, fact stream never touched."""
    state = latest_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no sketch state under {state_dir}")
    return state.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        *[
            F.round(
                F.kll_sketch_get_quantile_double(
                    F.kll_merge_agg_double("sk"), F.lit(q)
                ),
                6,
            ).alias(f"est_p{int(q * 100)}")
            for q in quantiles
        ],
    )
