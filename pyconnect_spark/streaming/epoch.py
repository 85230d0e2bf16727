"""Epoch-versioned directories: the one replay-safe write rule behind
EpochFileSink (streaming/sink.py) and the streaming state folds
(cmsstate, sketchstate, reservoirstate, vocabstate).

A micro-batch's output is a directory named by its epoch:
``epoch-%010d.jsonl`` for the sink, ``v=N`` for a state fold.

- Promote: the frame is written to ``<final>.tmp``; then ``<final>`` is
  deleted and the tmp renamed onto it. A replayed epoch (a crash after
  the promote, before the checkpoint commit) repeats both steps and
  leaves the same directory. Where the rename is atomic (``file:``,
  ``hdfs:``) a reader never sees a partial one; on ``s3a:`` it is a
  copy of each object.
- Fold: epoch N's state is its batch merged with the newest version
  strictly below N, so a replay rebuilds from the parent instead of
  merging the batch twice (sums and KLL merges are not idempotent).
- Retain: after the promote the fold keeps {N, parent} and deletes the
  rest. The checkpoint commits N only after foreachBatch returns, so a
  replay of N still needs its parent.

Every list, delete and rename goes through the path's Hadoop FileSystem,
the one Spark writes the directory with, so the rule is the same on
``file:`` (the package's fork-free class), ``hdfs:``, ``s3a:`` and
``viewfs:``.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_VERSION = re.compile(r"v=(\d+)")


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path``, resolved the way Spark resolves it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def glob_status(spark: SparkSession, pattern: str):
    """FileStatus array of the paths matching ``pattern`` (Hadoop glob
    syntax, as ``spark.read`` takes it); empty when none match."""
    fs, jpath = _fs(spark, pattern)
    return fs.globStatus(jpath) or []


def write_epoch(df: DataFrame, final: str, fmt: str = "parquet") -> None:
    """Write ``df`` as the directory ``final``: to ``final.tmp`` first,
    then delete ``final`` and rename the tmp onto it."""
    df.write.mode("overwrite").format(fmt).save(final + ".tmp")
    fs, dst = _fs(df.sparkSession, final)
    fs.delete(dst, True)
    if not fs.rename(dst.suffix(".tmp"), dst):
        raise OSError(f"could not rename {final}.tmp to {final}")


def _versions(spark: SparkSession, state_dir: str):
    """(FileSystem, {N: Path}) of the promoted ``v=N`` versions."""
    fs, pattern = _fs(spark, f"{state_dir}/v=*")
    found = {}
    for status in fs.globStatus(pattern) or []:
        path = status.getPath()
        m = _VERSION.fullmatch(path.getName())
        if m:
            found[int(m.group(1))] = path
    return fs, found


def latest_state(
    spark: SparkSession, state_dir: str, below: int | None = None
) -> DataFrame | None:
    """Newest promoted state version, or only those below epoch ``below``
    (a replayed epoch builds on its parent, never on its own earlier
    attempt); None when there is none."""
    _, found = _versions(spark, state_dir)
    epochs = [v for v in found if below is None or v < below]
    if not epochs:
        return None
    return spark.read.parquet(found[max(epochs)].toString())


def fold_state(
    stream: DataFrame,
    fresh: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    *,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start (availableNow) a stream folding each micro-batch into the
    versioned state under ``state_dir``.

    ``fresh`` turns a batch into state rows; ``merge`` folds the union of
    the parent state and those rows into the new state. Returns the
    StreamingQuery; awaitTermination() drains it.
    """

    def update(batch: DataFrame, epoch_id: int) -> None:
        prev = latest_state(batch.sparkSession, state_dir, below=epoch_id)
        state = fresh(batch)
        if prev is not None:
            state = merge(prev.unionByName(state))
        write_epoch(state, f"{state_dir}/v={epoch_id}")
        _prune(batch.sparkSession, state_dir, epoch_id)

    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _prune(spark: SparkSession, state_dir: str, epoch_id: int) -> None:
    """Delete every version but ``epoch_id`` and its parent."""
    fs, found = _versions(spark, state_dir)
    parent = max((v for v in found if v < epoch_id), default=None)
    for v, path in found.items():
        if v not in (epoch_id, parent):
            fs.delete(path, True)
