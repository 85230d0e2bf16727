"""Event-time windowing, watermarks, and stream dedup helpers (S04-S06).

Thin declarative wrappers — the value is the agreed semantics between
streaming and batch twins, which the tests assert: a windowed streaming
aggregation drained with availableNow must equal the batch groupBy(window)
over the same data (S04); dropDuplicates on a keyed stream must equal the
batch distinct (S06); watermarks bound state and drop late rows (S05).

At scale: watermark + windows keep state bounded per key-window; the
state store (RocksDB in production: set
spark.sql.streaming.stateStore.providerClass) spills to disk and
checkpoints incrementally.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: Optional[str] = None,
) -> DataFrame:
    """Tumbling event-time window aggregation (works on batch and stream)."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, duration).alias("window"), *keys).agg(*aggs)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: Optional[str] = None,
) -> DataFrame:
    """Session windows (gap-based); streaming requires a watermark."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.session_window(ts_col, gap).alias("window"), *keys).agg(*aggs)


def stream_dedup(
    df: DataFrame, keys: Sequence[str], ts_col: Optional[str] = None, watermark: Optional[str] = None
) -> DataFrame:
    """Stream deduplication; with a watermark the key-state is bounded
    (dropDuplicatesWithinWatermark), otherwise state grows with keys."""
    if ts_col is not None and watermark is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_static_enrich(
    stream_df: DataFrame,
    static_df: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Enrich a stream with a static dimension table (S13).

    The static side is marked for broadcast: every micro-batch joins
    against an executor-local copy, so enrichment adds ZERO shuffle to the
    stream — the scale-critical property when the stream is the 100 TB
    side. Spark re-resolves the static relation per batch, so an external
    table updated in place (e.g. a dimension snapshot overwritten daily)
    is picked up on the next micro-batch without restarting the query.

    Left join by default: an event with no dimension row survives with
    nulls (dropping events silently in an enrichment stage is almost
    never what a pipeline wants; filter explicitly if it is).
    """
    keys = [on] if isinstance(on, str) else list(on)
    return stream_df.join(F.broadcast(static_df), keys, how)
