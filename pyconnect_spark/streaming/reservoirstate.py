"""Streaming mergeable-reservoir state: the md5-keyed bottom-k quantile
sketch (batch twin: ts40, operators/timeseries.py) maintained over an
unbounded stream.

Same shape as sketchstate.py's KLL state (S30) with one strictly
stronger property: bottom-k by a deterministic hash is IDEMPOTENT under
replay — re-merging the same rows is a no-op because the merge distincts
on (key, day, event_id) before re-ranking, so a duplicated micro-batch
cannot displace anything. (KLL re-merge double-counts; S30 needs
streaming/epoch.py's parent-rebuild rule for correctness — here the
epoch versioning serves only the read-write-same-path hygiene and the
parent-retention crash story, not to repair the algebra.)

per micro-batch
  1. rank the batch per (key, day) by md5('kqs:' || event_id) and keep
     the k smallest — the batch's own reservoir (batch-sized window,
     key == shuffle key);
  2. union with the persisted daily state, distinct on
     (key, day, event_id), re-rank, keep k — the TOURNAMENT merge: the
     k smallest hashes of a union are the k smallest of the per-part
     k-smallest, so a day receiving events across many batches
     converges to the same sample as one batch pass;
  3. write as the epoch's ``state_dir/v=<epoch>`` version; keep {epoch,
     parent} across the commit boundary (streaming/epoch.py's rule).

Dashboard (`query_reservoir_quantiles`): per key, bottom-k over the
union of daily samples, nearest-rank quantiles — ts40's arithmetic, so
a drained stream's estimates EQUAL the batch query's bit-for-bit
(pinned by test_s33_streaming_reservoir_equals_batch).

At 100 TB: state is <= k rows per (key, day); the per-batch exchange is
sample-sized; the dashboard is a |keys|-row readout. A sample (unlike
KLL) also answers ANY downstream statistic over the kept rows, not just
quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.streaming.epoch import fold_state, latest_state

_K = 512


def _hv(id_col: str) -> F.Column:
    # ts40's salt and construction EXACTLY — stream-batch equality
    # depends on both engines of both tiers hashing identically
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kqs:"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _bottom_k(df: DataFrame, k: int, *part: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(*part).orderBy("hv", "event_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def reservoir_rollup_stream(
    stream: DataFrame,
    *,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    k: int = _K,
):
    """Start (availableNow) a stream maintaining the daily reservoir
    state. Returns the StreamingQuery; awaitTermination() drains it."""
    return fold_state(
        stream,
        lambda batch: _bottom_k(
            batch.select(
                F.col(key_col).alias("key"),
                F.col(ts_col).cast("date").alias("day"),
                F.col(id_col).cast("long").alias("event_id"),
                F.col(value_col).cast("double").alias("value"),
                _hv(id_col).alias("hv"),
            ),
            k,
            "key",
            "day",
        ),
        lambda union: _bottom_k(
            union.dropDuplicates(["key", "day", "event_id"]), k, "key", "day"
        ),
        state_dir=state_dir,
        checkpoint_dir=checkpoint_dir,
    )


def query_reservoir_quantiles(
    spark: SparkSession,
    state_dir: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    k: int = _K,
) -> DataFrame:
    """The dashboard query: tournament-merge each key's daily samples and
    emit nearest-rank quantile estimates — ts40's arithmetic, so the
    readout equals the batch query on the same data bit-for-bit."""
    from pyspark.sql import Window

    state = latest_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no reservoir state under {state_dir}")
    n_days = state.groupBy("key").agg(
        F.count_distinct("day").cast("long").alias("n_days")
    )
    samp = _bottom_k(state, k, "key")
    ranked = samp.select(
        "key",
        "value",
        F.row_number()
        .over(Window.partitionBy("key").orderBy("value", "event_id"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("key")).alias("kk"),
    )
    est = ranked.groupBy("key").agg(
        F.max("kk").cast("long").alias("n_sample"),
        *[
            F.round(
                F.max(
                    F.when(
                        F.col("rk")
                        == F.ceil(F.lit(q) * F.col("kk")).cast("long"),
                        F.col("value"),
                    )
                ),
                6,
            ).alias(f"est_p{int(q * 100)}")
            for q in quantiles
        ],
    )
    return n_days.join(est, "key")
