"""The epoch-versioned directory rule (streaming/epoch.py) under every
state fold built on it: cmsstate, sketchstate, reservoirstate and
vocabstate.

- a fold whose ``state_dir`` is a ``file://`` URI, or a ``viewfs://``
  mount that Python's ``os`` cannot open, ends where the same fold over
  all rows as ONE micro-batch (the batch twin) ends;
- a crash after an epoch's promote and prune, before the checkpoint
  commit, replays that epoch from its retained parent: the readout
  equals the batch twin and exactly {epoch, parent} stay live.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import StreamingQueryException

from pyconnect_spark.streaming import epoch
from pyconnect_spark.streaming.cmsstate import cms_rollup_stream, query_heavy_hitters
from pyconnect_spark.streaming.reservoirstate import (
    query_reservoir_quantiles,
    reservoir_rollup_stream,
)
from pyconnect_spark.streaming.sketchstate import query_quantiles, sketch_rollup_stream
from pyconnect_spark.streaming.vocabstate import query_vocab_topk, vocab_rollup_stream

_WORDS = "alpha beta gamma delta eps zeta eta theta".split()
_DOCS = "doc_id long, text string"
_EVENTS = "event_type string, ts timestamp, event_id long, value double"


def _docs(chunk: int) -> list[tuple]:
    return [
        (100 * chunk + i, " ".join(_WORDS[(i * j + chunk) % 8] for j in range(1 + i % 5)))
        for i in range(10)
    ]


def _events(chunk: int) -> list[tuple]:
    # 6 rows per key and chunk over 3 days: KLL stays exact (k=200), and a
    # (key, day) collects more rows than the reservoir's k=3 keeps.
    return [
        ("ab"[i % 2], dt.datetime(2026, 1, 1 + (i + chunk) % 3), 100 * chunk + i, float((37 * i + 11 * chunk) % 50))
        for i in range(12)
    ]


def _hitters(spark, state_dir):
    words = spark.createDataFrame([(w,) for w in _WORDS], "word string")
    return query_heavy_hitters(spark, state_dir, words)


# name -> (start the fold, its options, input schema, rows of chunk i, readout)
FOLDS = {
    "cms": (cms_rollup_stream, {}, _DOCS, _docs, _hitters),
    "sketch": (sketch_rollup_stream, {}, _EVENTS, _events, query_quantiles),
    "reservoir": (
        reservoir_rollup_stream,
        {"k": 3},
        _EVENTS,
        _events,
        lambda spark, d: query_reservoir_quantiles(spark, d, k=3),
    ),
    "vocab": (vocab_rollup_stream, {}, _DOCS, _docs, lambda spark, d: query_vocab_topk(spark, d, k=100)),
}


def _stage(spark, name, rows, incoming) -> None:
    schema = FOLDS[name][2]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(incoming))


def _drain(spark, name, incoming, state_dir, checkpoint) -> None:
    """Run the fold over everything staged, one file per micro-batch."""
    start, options, schema = FOLDS[name][:3]
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(incoming))
    start(stream, state_dir=state_dir, checkpoint_dir=str(checkpoint), **options).awaitTermination()


def _readout(spark, name, state_dir) -> list[tuple]:
    return sorted(map(tuple, FOLDS[name][4](spark, state_dir).collect()))


def _twin(spark, name, chunks, root) -> list[tuple]:
    """Readout of the same fold over all ``chunks`` as one micro-batch."""
    rows = [r for c in chunks for r in FOLDS[name][3](c)]
    _stage(spark, name, rows, root / "twin-in")
    _drain(spark, name, root / "twin-in", str(root / "twin-state"), root / "twin-ck")
    return _readout(spark, name, str(root / "twin-state"))


def _live(state) -> list[str]:
    return sorted(d for d in os.listdir(state) if d.startswith("v="))


@pytest.mark.parametrize("name", FOLDS)
def test_fold_over_a_file_uri_equals_the_batch_twin(spark, tmp_path, name):
    state = (tmp_path / "state").as_uri()
    for chunk in (0, 1):
        _stage(spark, name, FOLDS[name][3](chunk), tmp_path / "in")
        _drain(spark, name, tmp_path / "in", state, tmp_path / "ck")
    assert _readout(spark, name, state) == _twin(spark, name, (0, 1), tmp_path)
    assert _live(tmp_path / "state") == ["v=0", "v=1"]


@pytest.mark.parametrize("name", FOLDS)
def test_fold_replays_a_crash_after_the_promote(spark, tmp_path, monkeypatch, name):
    """Epoch 2 raises after its promote and prune; the restarted stream
    replays it from epoch 1, the parent the prune kept."""
    state = tmp_path / "state"
    for chunk in (0, 1, 2):
        _stage(spark, name, FOLDS[name][3](chunk), tmp_path / "in")
    pruned = []
    prune = epoch._prune

    def crash_once_at_epoch_2(spark_, state_dir, epoch_id):
        prune(spark_, state_dir, epoch_id)
        pruned.append(epoch_id)
        if pruned == [0, 1, 2]:
            raise RuntimeError("crash after the promote, before the checkpoint commit")

    monkeypatch.setattr(epoch, "_prune", crash_once_at_epoch_2)
    with pytest.raises(StreamingQueryException):
        _drain(spark, name, tmp_path / "in", str(state), tmp_path / "ck")
    assert _live(state) == ["v=1", "v=2"]
    _drain(spark, name, tmp_path / "in", str(state), tmp_path / "ck")
    assert pruned == [0, 1, 2, 2]
    assert _live(state) == ["v=1", "v=2"]
    assert _readout(spark, name, str(state)) == _twin(spark, name, (0, 1, 2), tmp_path)


def test_fold_under_viewfs_equals_the_batch_twin(spark, tmp_path, viewfs):
    """The state lives under a Hadoop ``viewfs://`` mount of a local
    directory: only the path's FileSystem can list, rename and delete it."""
    for chunk in (0, 1, 2):
        _stage(spark, "vocab", _docs(chunk), tmp_path / "in")
    _drain(spark, "vocab", tmp_path / "in", viewfs.uri, tmp_path / "ck")
    got = _readout(spark, "vocab", viewfs.uri)
    assert _live(viewfs.local) == ["v=1", "v=2"]
    assert got == _twin(spark, "vocab", (0, 1, 2), tmp_path)
